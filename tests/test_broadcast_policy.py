"""Source-level lint for the pinned-broadcast policy.

A pinned ``F.broadcast`` hint is obeyed by Spark regardless of actual
size, up to a hard 8 GiB limit at which the JOB FAILS — so a pin on
any frame that grows with the data is a latent job-killer at scale
(demonstrated round 5: the dup-dense ×8 sweep drove dedup_incremental's
pinned candidate-frame broadcast to 8.5 GiB and killed it, where the
un-pinned plan simply shuffles under AQE).

Policy: a pin is allowed ONLY on a frame bounded by an algorithm
constant — a 1-row/K-row aggregate, a top-K, a constant dim
(nation=25, region=5, states=56), a codebook/centroid/probe table, a
fixed query sample, a band/segment/type summary. Everything SF-linear
or worse (facts; customer/supplier/part and slices; vocabularies;
pair/candidate frames; increments) joins without a hint and lets
Catalyst stats + AQE pick broadcast-vs-shuffle from ACTUAL sizes.

This test freezes the audited inventory by (file, enclosing function,
argument head identifier). A NEW ``F.broadcast(...)`` call site fails
here until it is added below WITH a bounding argument — the same
mechanism as the crossJoin/BNLJ allowlist in test_plans.py.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

PKG = Path(__file__).resolve().parents[1] / "big_data_2021_spark_streaming_spark"


def _broadcast_sites() -> set[tuple[str, str, str]]:
    sites: set[tuple[str, str, str]] = set()
    for py in sorted(PKG.rglob("*.py")):
        src = py.read_text()
        tree = ast.parse(src)
        funcs = [
            (n.lineno, n.end_lineno, n.name)
            for n in ast.walk(tree)
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
        ]

        def enclosing(ln: int) -> str:
            covering = [f for f in funcs if f[0] <= ln <= f[1]]
            return max(covering)[2] if covering else "<module>"

        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "broadcast"
            ):
                arg = (
                    ast.get_source_segment(src, node.args[0])
                    if node.args
                    else "?"
                )
                head = re.match(r"[A-Za-z_][A-Za-z0-9_]*", arg or "?")
                sites.add(
                    (
                        str(py.relative_to(PKG)),
                        enclosing(node.lineno),
                        head.group(0) if head else "?",
                    )
                )
    return sites


# Every entry was audited as bounded-by-construction (see the module
# docstrings at each site). Head identifiers name 1-row/K-row stat
# frames (total(s), stats, bounds, n_frame, ext, offs, mn/mx/med/mad,
# srm, theta, asof, peak), constant dims (nation, region, states),
# constant-size model tables (cents, book, qtab, params, qcodes,
# codebook cells, members, bits), fixed query samples (queries, q,
# probes, picked), top-K frames (top, hits, exact, approx), or
# band/segment/type summaries (band_max, per_type, types, sizes, seg,
# leaks, epochs, ns, n1/n2, cust_nations, supp_nation, offsets).
_ALLOWED_PINS = frozenset(
    {
        ("functions/exact.py", "exact_global_rank", "ext"),
        ("functions/exact.py", "exact_global_rank", "offs"),
        ("operators/audit.py", "join_cardinality_estimate", "actual"),
        ("operators/audit.py", "join_key_skew", "stats"),
        ("operators/audit.py", "join_strategy_advisor", "parent_stats"),
        ("operators/audit.py", "t_closeness_audit", "glob"),
        ("operators/audit.py", "value_drift_tvd", "bounds"),
        ("operators/audit.py", "value_drift_tvd", "totals"),
        ("operators/curation.py", "contrastive_negatives", "n_total"),
        # r07: shard placement factored out of corpus_shard_plan so the
        # cross-shard dup query shares it; same ≤512-row band-offset frame
        ("operators/curation.py", "_shard_placement", "offs"),
        # r07 additions — each a 1-row aggregate (provably bounded):
        # r08 re-plan: the 9-branch union collapsed to one long-frame
        # chain; the pin is now the 3-row per-probe distinct-value
        # totals joined onto the 9 combo rows
        ("operators/audit.py", "partition_pruning_audit", "totals"),
        # r08 additions — bounded by algorithm constants:
        # kband: ONE row per source (the single arithmetic band that
        # straddles rank K on the 60-bit domain) → ≤ |sources| rows
        ("operators/dedup.py", "minhash_cardinality", "kband"),
        # r08-opt additions — |event types|-row estimate/count frames
        # joined onto the |types|²-row pair report (sketches):
        ("operators/sketches.py", "sketch_hll_intersection", "scope_est"),
        ("operators/sketches.py", "sketch_hll_intersection", "exact_n"),
        # stats: one aggregate row per source (projected to (source, r))
        ("operators/text.py", "word_len_profile", "stats"),
        # targets: |returnflag| × |SHIP_QS| rank targets (≤ 3×3 rows)
        ("plans/analytics.py", "order_ship_latency_quantiles", "targets"),
        ("operators/curation.py", "quality_budget_curve", "n_frame"),
        ("plans/analytics.py", "merge_touched_partitions", "n_touched"),
        ("plans/analytics.py", "orders_priority_mix_shift", "tot"),
        ("plans/analytics.py", "event_value_benford", "tot"),
        ("operators/curation.py", "cross_source_overlap", "sizes"),
        ("operators/curation.py", "epoch_shuffle_plan", "epochs"),
        ("operators/curation.py", "quality_dup_profile", "n_frame"),
        ("operators/curation.py", "source_minhash_similarity", "sizes"),
        ("operators/curation.py", "split_leakage_report", "leaks"),
        ("operators/curation.py", "token_budget_plan", "offs"),
        ("operators/curation.py", "token_budget_plan", "total"),
        ("operators/dedup.py", "crosslingual_pairs", "total"),
        ("operators/dedup.py", "lsh_recall_vs_exact", "n_lsh"),
        ("operators/dedup.py", "pagerank_centrality", "n_g"),
        ("operators/similarity.py", "_mrl_prefix_pairs", "queries"),
        # the 1 024-row literal PQ codebook, the NLIST seed centroids and
        # their NLIST×DIM milli components (the ANN filter/score steps)
        ("operators/similarity.py", "_book_dists", "_pq_book"),
        ("operators/similarity.py", "_nearest_cells", "cents"),
        ("operators/similarity.py", "residual", "cellcomp"),
        ("operators/similarity.py", "ann_recall_report", "approx"),
        ("operators/similarity.py", "bq_topk", "qcodes"),
        ("operators/similarity.py", "bq_topk", "queries"),
        ("operators/similarity.py", "covariance_pairs", "sums"),
        ("operators/similarity.py", "diverse_topk", "queries"),
        ("operators/similarity.py", "ivf_pq_topk", "probes"),
        ("operators/similarity.py", "ivf_pq_topk", "qtab"),
        ("operators/similarity.py", "ivf_topk", "probes"),
        ("operators/similarity.py", "ivfpq_residual_topk", "probes"),
        ("operators/similarity.py", "ivfpq_residual_topk", "qtab"),
        # the Lloyd centroid array: ONE row of <= LLOYD_BROADCAST_MAX
        # × DIM aggregate values — _cent_frame ASSERTS the bound, so
        # every pin of it is <= 1024×64 doubles (~0.5 MiB), orders of
        # magnitude under the 8 GiB cap.
        ("operators/similarity.py", "_lloyd_broadcast", "_cent_frame"),
        ("operators/similarity.py", "label_centroid_distances", "cents"),
        ("operators/similarity.py", "label_consensus", "tot"),
        ("operators/similarity.py", "lsh_topk", "queries"),
        ("operators/similarity.py", "matryoshka_recall", "_mrl_prefix_pairs"),
        ("operators/similarity.py", "mrr_eval", "hits"),
        ("operators/similarity.py", "ndcg_eval", "exact"),
        ("operators/similarity.py", "power_iteration_pca", "mx"),
        ("operators/similarity.py", "power_iteration_pca", "nn"),
        ("operators/similarity.py", "power_iteration_pca", "ray"),
        ("operators/similarity.py", "power_iteration_pca", "sums"),
        ("operators/similarity.py", "pq_topk", "qtab"),
        ("operators/similarity.py", "range_search", "queries"),
        ("operators/similarity.py", "sq_quality", "params"),
        ("operators/similarity.py", "sq_topk", "params"),
        ("operators/similarity.py", "sq_topk", "qcodes"),
        ("operators/similarity.py", "topk_bruteforce", "queries"),
        ("operators/sketches.py", "sketch_bloom_reduction", "bits"),
        ("operators/sketches.py", "sketch_cms_heavy_hitters", "cells"),
        ("operators/sketches.py", "sketch_histogram_quantiles", "cum"),
        ("operators/sketches.py", "sketch_histogram_quantiles", "ext"),
        ("operators/sketches.py", "sketch_histogram_quantiles", "picked"),
        ("operators/sketches.py", "sketch_hll_intersection", "members"),
        ("operators/text.py", "_bpe_merge", "pair"),
        ("operators/text.py", "bm25_search", "dfreq"),
        ("operators/text.py", "bm25_search", "totals"),
        ("operators/text.py", "boilerplate_ngrams", "n_docs"),
        ("operators/text.py", "bpe_fertility", "seg"),
        ("operators/text.py", "heaps_law", "max_id"),
        ("operators/text.py", "lang_id_kappa", "e"),
        ("operators/text.py", "rrf_fusion", "q"),
        ("operators/text.py", "source_chi2_drift", "n"),
        ("operators/text.py", "source_chi2_drift", "top"),
        ("operators/text.py", "tfidf_topterms", "n_docs"),
        ("operators/text.py", "token_rarity", "total"),
        ("plans/analytics.py", "_exact_group_rank", "ext"),
        ("plans/analytics.py", "_exact_group_rank", "offs"),
        ("plans/analytics.py", "basket_lift_pairs", "n_frame"),
        ("plans/analytics.py", "customer_rfm_scores", "corpus_max"),
        ("plans/analytics.py", "customer_rfm_scores", "n_frame"),
        ("plans/analytics.py", "customer_value_frontier", "band_max"),
        ("plans/analytics.py", "customer_value_frontier", "ext"),
        ("plans/analytics.py", "discount_tax_independence", "cols_m"),
        ("plans/analytics.py", "discount_tax_independence", "n"),
        ("plans/analytics.py", "event_cooccurrence_lift", "n_users"),
        ("plans/analytics.py", "event_cooccurrence_lift", "per_type"),
        # the 1-row day-span bounds of the dense day grid shared by
        # event_cusum_changepoint, event_dispersion_index,
        # event_seasonal_naive_mape and event_trend_theilsen
        ("plans/analytics.py", "_dense_daily", "bounds"),
        ("plans/analytics.py", "event_dow_profile", "totals"),
        ("plans/analytics.py", "event_hourly_resample", "types"),
        ("plans/analytics.py", "event_transition_matrix", "totals"),
        ("plans/analytics.py", "excess_quantity_suppliers", "nation"),
        ("plans/analytics.py", "experiment_cuped_lift", "bounds"),
        ("plans/analytics.py", "experiment_cuped_lift", "per_user"),
        ("plans/analytics.py", "experiment_cuped_lift", "theta"),
        ("plans/analytics.py", "experiment_srm_check", "srm"),
        ("plans/analytics.py", "linkage_fs_weights", "stats"),
        ("plans/analytics.py", "local_supplier_volume", "nation"),
        ("plans/analytics.py", "local_supplier_volume", "region"),
        ("plans/analytics.py", "market_share_by_year", "cust_nations"),
        ("plans/analytics.py", "market_share_by_year", "region"),
        ("plans/analytics.py", "market_share_by_year", "supp_nation"),
        ("plans/analytics.py", "nation_pair_volume", "n1"),
        ("plans/analytics.py", "nation_pair_volume", "n2"),
        ("plans/analytics.py", "nation_supplier_hhi", "nation"),
        ("plans/analytics.py", "order_fulfillment_latency", "ns"),
        ("plans/analytics.py", "orders_aging_buckets", "asof"),
        ("plans/analytics.py", "part_profit_by_nation_year", "nation"),
        ("plans/analytics.py", "peak_concurrent_sessions", "offsets"),
        ("plans/analytics.py", "peak_concurrent_sessions", "peak"),
        ("plans/analytics.py", "q2_join_enrich", "nation"),
        ("plans/analytics.py", "q2_join_enrich", "region"),
        ("plans/analytics.py", "regional_min_cost_supplier", "nation"),
        ("plans/analytics.py", "regional_min_cost_supplier", "region"),
        ("plans/analytics.py", "returned_item_report", "nation"),
        ("plans/analytics.py", "revenue_autocorr", "mn"),
        ("plans/analytics.py", "revenue_by_nation", "nation"),
        ("plans/analytics.py", "supplier_balance_by_nation", "nation"),
        ("plans/analytics.py", "supplier_return_rates", "nation"),
        ("plans/analytics.py", "user_hazard_curve", "bounds"),
        ("plans/analytics.py", "valuable_part_stock", "nation"),
        ("plans/analytics.py", "valuable_part_stock", "total"),
        ("plans/analytics.py", "value_mad_anomalies", "mad"),
        ("plans/analytics.py", "value_mad_anomalies", "med"),
        ("plans/analytics.py", "value_mad_anomalies", "ns"),
        ("plans/analytics.py", "value_winsorize", "bounds"),
        ("plans/analytics.py", "value_winsorize", "n_frame"),
        ("plans/analytics.py", "value_zscore_anomalies", "stats"),
        ("plans/reference_queries.py", "q2_us_meetups_enriched", "states"),
        ("streaming/pipeline.py", "write", "tot"),
        ("streaming/state_inspect.py", "replay_batch", "ranges"),
        ("streaming/state_inspect.py", "replay_batch_plan", "start0"),
        ("streaming/state_inspect.py", "state_skew_report", "total"),
    }
)

# Identifiers a pin must NEVER be placed on, whatever the site: the
# base tables that scale with SF and the frames the round-5 audit
# un-pinned because they grow with the corpus.
_FORBIDDEN_HEADS = frozenset(
    {
        "customer", "supplier", "part", "orders", "lineitem", "events",
        "documents", "embeddings", "docs", "li", "cand", "paired",
        "freq", "cf", "best", "new_bands", "lsh", "truth", "prefix",
        "sup", "supp", "bad", "sup_in_region", "vecs", "tok", "toks",
    }
)


def test_every_pinned_broadcast_is_allowlisted_as_bounded():
    sites = _broadcast_sites()
    new = sites - _ALLOWED_PINS
    assert not new, (
        "New pinned F.broadcast site(s) — a pin is a hard 8 GiB "
        "job-failure bomb unless the frame is bounded by an algorithm "
        "constant. Audit each and add it here with a bounding "
        f"argument, or drop the hint and let AQE decide: {sorted(new)}"
    )


def test_no_pin_on_a_data_sized_identifier():
    bad = [s for s in _broadcast_sites() if s[2] in _FORBIDDEN_HEADS]
    assert not bad, f"pinned broadcast on a data-sized frame: {bad}"


def test_allowlist_has_no_stale_entries():
    stale = _ALLOWED_PINS - _broadcast_sites()
    assert not stale, (
        f"allowlist entries with no matching source site (update after "
        f"refactors so the inventory stays exact): {sorted(stale)}"
    )
