"""Semantic invariants for the probabilistic-sketch operators, beyond
the oracle hash parity test_oracle_parity applies to them.

The sketch guarantees under test are the published ones:
- Count-Min never under-counts (one-sided error);
- a Bloom filter has no false negatives;
- the HLL estimate lands within a few standard errors
  (sigma ~= 1.04/sqrt(m)) of the exact distinct count;
- all three sketch summaries are bounded-size regardless of input
  rows (the property that makes them the 100 TB answer).
"""

from __future__ import annotations

import pyspark.sql.functions as F

from big_data_2021_spark_streaming_spark.functions.hashing import h60_seeded
from big_data_2021_spark_streaming_spark.operators import sketches
from big_data_2021_spark_streaming_spark.sources.batch import load_table


def test_cms_one_sided_error(spark, sf_dir):
    rows = sketches.sketch_cms_heavy_hitters(spark, sf_dir).collect()
    assert rows, "probe set empty"
    for r in rows:
        assert r.cms_estimate >= r.exact_cnt, r
        assert r.overcount == r.cms_estimate - r.exact_cnt


def test_bloom_no_false_negatives(spark, sf_dir):
    row = sketches.sketch_bloom_reduction(spark, sf_dir).collect()[0]
    # every true member must pass the filter: pass count >= true count
    assert row.bloom_pass >= row.true_pass
    # and the decomposition is consistent
    assert row.bloom_pass == row.true_pass + row.false_pos
    assert 0 <= row.fp_permille <= 1000


def test_hll_within_error_bound(spark, sf_dir):
    row = sketches.sketch_hll_users(spark, sf_dir).collect()[0]
    assert row.m == sketches.HLL_M
    assert 0 < row.nonzero_registers <= sketches.HLL_M
    # 1.04/sqrt(64) ~= 13% standard error; allow 4 sigma
    sigma = 1.04 / (sketches.HLL_M ** 0.5)
    assert abs(row.hll_estimate - row.exact_distinct) <= max(
        4 * sigma * row.exact_distinct, 4
    ), row


def test_sketch_summaries_are_bounded(spark, sf_dir):
    # the registers/counters an executor materializes are constant-size
    # partial aggregates — the scale guarantee. Recompute the internal
    # frames' row counts directly.
    events = load_table(spark, sf_dir, "events")
    uid = F.col("user_id").cast("string")
    regs = (
        events.select((h60_seeded("hllb", uid) % sketches.HLL_M).alias("b"))
        .groupBy("b")
        .count()
    )
    assert regs.count() <= sketches.HLL_M
    cells = (
        events.select(
            *[
                (h60_seeded(f"cms{j}", uid) % sketches.CMS_W).alias(f"b{j}")
                for j in range(sketches.CMS_D)
            ]
        )
        .select(F.explode(F.array(*[F.col(f"b{j}") for j in range(sketches.CMS_D)])))
        .distinct()
    )
    assert cells.count() <= sketches.CMS_D * sketches.CMS_W


def test_bloom_build_side_broadcasts(spark, sf_dir):
    # the probe join must be a broadcast hash join on the bit set —
    # a shuffled probe side defeats the filter's purpose
    df = sketches.sketch_bloom_reduction(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_bigram_lm_probabilities_normalize(spark, sf_dir):
    # the trained model is a true conditional distribution: per-prefix
    # micro-probabilities sum to 1e6 within half-up rounding slack
    # (± one count of bigram types per prefix), and every doc score is
    # a valid probability in micro-units
    from big_data_2021_spark_streaming_spark.operators import text
    from big_data_2021_spark_streaming_spark.operators.text import tokens_col

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tokens_col(F.col("text")).alias("toks"))
    big = toks.where(F.size("toks") >= 2).select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(toks) - 1),"
                " i -> struct(toks[i-1] AS w1, toks[i] AS w2))"
            )
        ).alias("b")
    ).select("b.w1", "b.w2")
    cb = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c_b"))
    cp = cb.groupBy("w1").agg(
        F.sum("c_b").alias("c_p"), F.count(F.lit(1)).alias("n_types")
    )
    probs = cb.join(cp, "w1").select(
        "w1",
        "n_types",
        F.expr(f"(2 * c_b * {text.LM_SCALE} + c_p) div (2 * c_p)").alias("p"),
    )
    bad = (
        probs.groupBy("w1", "n_types")
        .agg(F.sum("p").alias("s"))
        .filter(F.abs(F.col("s") - text.LM_SCALE) > F.col("n_types"))
    )
    assert bad.count() == 0
    scored = text.bigram_lm_score(spark, sf_dir)
    out_of_range = scored.filter(
        (F.col("lm_score_micro") < 0) | (F.col("lm_score_micro") > text.LM_SCALE)
    )
    assert out_of_range.count() == 0
    # row-complete: one output row per document, including short docs
    assert scored.count() == docs.count()


def test_hll_merge_equals_global_sketch(spark, sf_dir):
    # register-wise max of per-type sketches must reproduce the
    # global sketch EXACTLY — the mergeability property; the merged
    # row's registers therefore give the same estimate sketch_hll_users
    # computes from one pass over the whole stream
    merged = {
        r.scope: r for r in sketches.sketch_hll_merge(spark, sf_dir).collect()
    }
    glob = sketches.sketch_hll_users(spark, sf_dir).collect()[0]
    m = merged["__merged__"]
    assert m.s_scaled == glob.s_scaled
    assert m.nonzero_registers == glob.nonzero_registers
    assert m.hll_estimate == glob.hll_estimate
    assert m.exact_distinct == glob.exact_distinct
    # per-type sketches cover every event type
    assert len(merged) >= 2


def test_hll_intersection_inclusion_exclusion(spark, sf_dir):
    # per-pair identity: est_intersection is exactly the
    # inclusion–exclusion of the three register estimates; union
    # estimate is consistent with the per-type sketches (the merged
    # registers can only raise Z, so est_union is bounded by the sum);
    # exact columns obey set algebra.
    rows = sketches.sketch_hll_intersection(spark, sf_dir).collect()
    assert rows, "no event-type pairs"
    per_type = {
        r.scope: r.hll_estimate
        for r in sketches.sketch_hll_merge(spark, sf_dir).collect()
        if r.scope != "__merged__"
    }
    for r in rows:
        assert r.type_a < r.type_b
        assert r.est_a == per_type[r.type_a]
        assert r.est_b == per_type[r.type_b]
        assert r.est_intersection == r.est_a + r.est_b - r.est_union
        assert r.est_union <= r.est_a + r.est_b
        assert 0 <= r.exact_intersection <= r.exact_union
        assert 0 <= r.jaccard_exact_micro <= 1_000_000
        assert 0 <= r.jaccard_est_micro
        # sketch intersection within 4 sigma of exact (sigma on each of
        # the three estimates; union dominates)
        sigma = 1.04 / (sketches.HLL_M ** 0.5)
        assert abs(r.est_intersection - r.exact_intersection) <= max(
            4 * sigma * (r.est_a + r.est_b + r.est_union), 8
        ), r


def test_transition_matrix_rows_normalize(spark, sf_dir):
    from big_data_2021_spark_streaming_spark.plans.analytics import (
        event_transition_matrix,
    )

    rows = event_transition_matrix(spark, sf_dir).collect()
    assert rows
    by_prev = {}
    for r in rows:
        assert r.n_transitions > 0
        by_prev.setdefault(r.prev_type, []).append(r)
    for prev, rs in by_prev.items():
        s = sum(r.p_micro for r in rs)
        # half-up rounding slack: ± one micro-unit per matrix cell
        assert abs(s - 1_000_000) <= len(rs), (prev, s)
