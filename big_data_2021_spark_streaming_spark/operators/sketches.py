"""Probabilistic sketch operators: HyperLogLog distinct counting,
Bloom-filter semi-join reduction, and Count-Min heavy-hitter
estimation — the mergeable-summary layer a 100 TB pipeline runs where
exact answers would shuffle the corpus.

The reference has nothing in this territory (its engine is
decode→filter→join→window, ``srapk_structure_streaming.py``); these
are north-star extensions per SURVEY.md §7.4, sibling to the existing
``sketch_event_stats`` (which uses Spark's built-in, non-deterministic
HLL++ and is therefore rows-only in the gate). Everything HERE is
deterministic and exact-integer so the DuckDB oracle hash-verifies
the actual sketch contents:

- hashes come from the repo's portable md5 scheme
  (``functions/hashing.py``) — both engines compute identical digests;
- the only real-valued steps (HLL's alpha·m²/Z and the linear-counting
  fallback m·ln(m/V)) are folded into integer arithmetic: half-up
  micro-unit division for the former, a 64-entry precomputed literal
  CASE (same Python-computed constants inlined into BOTH engines) for
  the latter.

Scale posture — the whole point of sketches at 100 TB:
- HLL registers are a bounded (m=64 rows) map-side partial aggregate:
  one corpus scan, a 64-key shuffle, constant-size state. Merging
  shards = max() over registers — associative, so AQE/partial
  aggregation applies freely.
- The Bloom build side is a ≤ k·|needles| bit-position set that
  BROADCASTS; probing is a narrow per-row hash + broadcast hash join,
  i.e. the runtime row-level filter that cuts shuffle volume before an
  expensive join (Spark's own runtime filtering, made explicit).
- CMS counters are d·w = 3·1024 cells regardless of stream size —
  again one scan + tiny shuffle; estimates join a 20-row probe set
  against the counter table.

Accuracy-vs-scale honesty (which knobs are corpus-size-free and which
are not): HLL's relative error ~1.04/sqrt(m) and MinHash-LSH's band
collision probabilities are PER-ITEM/PER-PAIR properties — constants
here are scale-free and never need resizing. Bloom and CMS are NOT:
a fixed m-bit Bloom saturates as the needle set grows (FPR -> 1; in
production m is sized from the build-side count, m ≈ 1.44·k·|needles|
for the target FPR — a one-row aggregate, exactly how Spark sizes its
own runtime Bloom filters), and a fixed-w CMS's over-count bias grows
~n/w (production sizes w from the target absolute error eps·n). The
fixed sizes here keep the sketch CONTENTS deterministic for the
cross-engine oracle; the fp_permille / bias columns these queries
report are precisely the saturation detectors a production pipeline
would alert on.
"""

from __future__ import annotations

import math

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..functions.exact import exact_global_rank, half_up
from ..functions.hashing import h60_seeded, h60_seeded_sql
from ..sources.batch import load_table

# ---- HLL parameters -------------------------------------------------
HLL_M = 64  # registers (p = 6)
HLL_ALPHA_MILLI = 709  # alpha_64 = 0.709 (Flajolet et al.), in 1e-3 units
HLL_CAP = 30  # rho computed over a 30-bit suffix hash
# linear-counting fallback m*ln(m/V), V = count of zero registers —
# precomputed in Python and inlined as the SAME literals in both
# engines, so the ln() never runs inside either engine.
_LC_TABLE = {v: round(HLL_M * math.log(HLL_M / v)) for v in range(1, HLL_M + 1)}

# ---- Bloom parameters -----------------------------------------------
BLOOM_BITS = 1 << 16  # m = 65536 bits
BLOOM_K = 4  # hash functions
_BLOOM_SEGMENT = "BUILDING"  # needle set: customers in this segment

# ---- CMS parameters -------------------------------------------------
CMS_D = 3  # hash rows
CMS_W = 1024  # buckets per row
CMS_TOPN = 20  # heavy hitters to probe

# ---- presence-bitmap parameters -------------------------------------
BITMAP_WORDS = 1024  # user-presence bitmap words
BITMAP_BITS_PER_WORD = 60  # bits used per BIGINT word: bit 63 would
# wrap Spark's shiftleft negative and overflow DuckDB's checked <<,
# so words carry 60 bits and stay positive in both engines


# ---------------------------------------------------------------------
# HyperLogLog
# ---------------------------------------------------------------------


def _hll_rho() -> F.Column:
    """rho for a 30-bit suffix hash value column ``v`` — position of
    the highest set bit from the top (v = 0 → CAP + 1)."""
    return F.when(F.col("v") == 0, F.lit(HLL_CAP + 1)).otherwise(
        F.lit(HLL_CAP + 1) - F.length(F.bin(F.col("v")))
    )


def _hll_registers(events: DataFrame, *scope: F.Column) -> DataFrame:
    """(scope…, bucket, rho_max): one max-rho register set of
    ``events.user_id`` per scope value (a single set with no scope)."""
    uid = F.col("user_id").cast("string")
    hashed = events.select(
        *scope,
        (h60_seeded("hllb", uid) % HLL_M).alias("bucket"),
        (h60_seeded("hllv", uid) % (1 << HLL_CAP)).alias("v"),
    )
    keys = hashed.columns[:-1]
    return (
        hashed.select(*keys, _hll_rho().alias("rho"))
        .groupBy(*keys)
        .agg(F.max("rho").alias("rho_max"))
    )


def _hll_summarize(regs: DataFrame, keys: list[str]) -> DataFrame:
    """(keys, nonzero_registers, s_scaled) from a register frame —
    the shared map-side shape: S = Σ 2^(CAP - rho_max) over present
    registers, and absent registers contribute 2^CAP each.
    shiftleft keeps it exact-integer."""
    return (
        regs.groupBy(*keys)
        .agg(
            F.count("*").cast("bigint").alias("nonzero_registers"),
            F.sum(
                F.expr(f"shiftleft(cast(1 as bigint), {HLL_CAP} - rho_max)")
            ).alias("s_present"),
        )
        .select(
            *keys,
            "nonzero_registers",
            (
                F.col("s_present")
                + (F.lit(HLL_M) - F.col("nonzero_registers"))
                * F.lit(1 << HLL_CAP).cast("bigint")
            ).alias("s_scaled"),
        )
    )


def _hll_estimate(summary: DataFrame) -> DataFrame:
    """Append hll_estimate to a frame carrying (…, nonzero_registers,
    s_scaled) — the shared estimator: exact half-up integer division
    for alpha·m²/Z plus the precomputed linear-counting literals for
    the small range."""
    lc_case = (
        "CASE zero_regs "
        + " ".join(f"WHEN {v} THEN {est}" for v, est in _LC_TABLE.items())
        + " END"
    )
    raw = F.expr(
        half_up(
            f"{HLL_ALPHA_MILLI * HLL_M * HLL_M * (1 << HLL_CAP)}", "1000 * s_scaled"
        )
    )
    return (
        summary.withColumn("raw_est", raw)
        .withColumn(
            "zero_regs", (F.lit(HLL_M) - F.col("nonzero_registers")).cast("bigint")
        )
        .withColumn(
            "hll_estimate",
            F.when(
                (F.col("zero_regs") > 0) & (F.col("raw_est") * 2 <= 5 * HLL_M),
                F.expr(lc_case),
            )
            .otherwise(F.col("raw_est"))
            .cast("bigint"),
        )
        .drop("raw_est", "zero_regs")
    )


def _hll_finalize(summary: DataFrame) -> DataFrame:
    """``_hll_estimate`` plus err_permille against the frame's
    exact_distinct column."""
    return _hll_estimate(summary).withColumn(
        "err_permille",
        F.expr(half_up("1000 * abs(hll_estimate - exact_distinct)", "exact_distinct")),
    )


def sketch_hll_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic HyperLogLog over ``events.user_id``.

    bucket = 6 leading hash bits; rho = position of the highest set bit
    in a 30-bit suffix hash (computed via length(bin(v)) — portable
    integer ops, no log()). The register table aggregates to
    S = Σ 2^(CAP - rho_max) (absent registers contribute 2^CAP), and
    the raw estimate alpha·m²/Z becomes one exact half-up integer
    division. Small-range (linear counting) correction applies per the
    original paper when raw ≤ 5/2·m and zero registers exist, via the
    precomputed ``_LC_TABLE`` literals.

    Output also carries the exact distinct count and the error in
    permille — the acceptance metric for the sketch.
    """
    events = load_table(spark, sf_dir, "events")
    summary = _hll_summarize(_hll_registers(events), [])
    exact = events.agg(F.count_distinct("user_id").cast("bigint").alias("exact_distinct"))
    return _hll_finalize(summary.crossJoin(exact)).select(
        F.lit(HLL_M).cast("bigint").alias("m"),
        "nonzero_registers",
        "s_scaled",
        "hll_estimate",
        "exact_distinct",
        "err_permille",
    )


def sketch_hll_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The property that makes HLL the 100 TB distinct counter:
    register-wise max MERGES shard sketches into the corpus sketch
    with no rescan. Per event type, build an independent register set
    and estimate its user cardinality; then merge the five register
    sets (groupBy bucket → max rho) into a ``__merged__`` row whose
    registers — and therefore estimate — are provably identical to
    hashing the whole stream at once (max is associative), while its
    exact_distinct is the true global distinct. Shapes: one scan, a
    (types × 64)-row register table, types+1 output rows."""
    events = load_table(spark, sf_dir, "events")
    regs = _hll_registers(events, F.col("event_type").alias("scope"))
    merged = (
        regs.groupBy("bucket")
        .agg(F.max("rho_max").alias("rho_max"))
        .select(F.lit("__merged__").alias("scope"), "bucket", "rho_max")
    )
    summary = _hll_summarize(regs.unionByName(merged), ["scope"])
    per_type = events.groupBy(F.col("event_type").alias("scope")).agg(
        F.count_distinct("user_id").cast("bigint").alias("exact_distinct")
    )
    glob = events.agg(
        F.count_distinct("user_id").cast("bigint").alias("exact_distinct")
    ).select(F.lit("__merged__").alias("scope"), "exact_distinct")
    exact = per_type.unionByName(glob)
    return _hll_finalize(summary.join(exact, "scope")).select(
        "scope", "nonzero_registers", "s_scaled", "hll_estimate",
        "exact_distinct", "err_permille",
    )


def sketch_hll_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set OPERATIONS on HLL sketches: for every unordered pair of
    event types, estimate the overlapping-user count by
    inclusion–exclusion — est(A) + est(B) − est(A∪B), where est(A∪B)
    comes from the register-wise max merge (the only set op HLL
    supports natively; intersection is always derived). The audience-
    overlap / Jaccard question every segmentation pipeline asks, at
    sketch cost: one corpus scan builds the (types × 64)-row register
    table; every pair union is a ≤64-row aggregate over a broadcast
    pair-membership map, never a rescan.

    Inclusion–exclusion error compounds (three estimates), so the
    signed raw ``est_intersection`` is reported as-is and the Jaccard
    estimate clamps at 0 — alongside the exact intersection/union and
    the exact Jaccard as the acceptance metric. All ratios are exact
    half-up micro-unit integer divisions, oracle-identical."""
    events = load_table(spark, sf_dir, "events")
    # (types × ≤64)-row register table: tiny, reused by three branches
    regs = _hll_registers(events, F.col("event_type").alias("scope")).persist()
    types = regs.select("scope").distinct()
    # |types|²-bounded pair grid (handful of rows — intended BNLJ)
    pairs = types.select(F.col("scope").alias("type_a")).join(
        types.select(F.col("scope").alias("type_b")),
        F.col("type_a") < F.col("type_b"),
    )
    members = pairs.select(
        "type_a", "type_b", F.col("type_a").alias("scope")
    ).unionByName(pairs.select("type_a", "type_b", F.col("type_b").alias("scope")))
    pair_regs = (
        F.broadcast(members)
        .join(regs, "scope")
        .groupBy("type_a", "type_b", "bucket")
        .agg(F.max("rho_max").alias("rho_max"))
    )
    scope_est = _hll_estimate(_hll_summarize(regs, ["scope"]))
    union_est = _hll_estimate(
        _hll_summarize(pair_regs, ["type_a", "type_b"])
    ).withColumnRenamed("hll_estimate", "est_union")
    # exact ground truth: one distinct (type, user) frame. The exact
    # UNION is derived by inclusion–exclusion from the per-type exact
    # counts and the exact intersection (|A∪B| = |A|+|B|−|A∩B|, a set
    # identity, so the values are unchanged) — the earlier plan
    # re-aggregated the distinct frame per pair membership for a
    # number three cheap joins already determine (guide §2.4: remove
    # the shuffle outright). The final report chain also starts from
    # union_est (which already carries every pair) instead of
    # re-deriving the pair grid, dropping one join.
    users_by_type = events.select("event_type", "user_id").distinct()
    exact_inter = (
        users_by_type.alias("x")
        .join(
            users_by_type.alias("y"),
            (F.col("x.user_id") == F.col("y.user_id"))
            & (F.col("x.event_type") < F.col("y.event_type")),
        )
        .groupBy(
            F.col("x.event_type").alias("type_a"),
            F.col("y.event_type").alias("type_b"),
        )
        .agg(F.count("*").cast("bigint").alias("exact_intersection"))
    )
    # |types|-row exact distinct counts — bounded, so the pins below
    # are dimension broadcasts (scope_est is likewise |types|-row)
    # count(user_id), not count(*): the distinct frame can carry a
    # (type, NULL) row, which COUNT(DISTINCT user_id) on the oracle
    # side ignores — count the column so the inclusion-exclusion
    # exact union stays oracle-identical under NULL user_ids (ADVICE
    # r08; current generators never null user_id, so values are
    # unchanged on every graded corpus)
    exact_n = users_by_type.groupBy("event_type").agg(
        F.count("user_id").cast("bigint").alias("n_exact")
    )
    out = (
        union_est.join(
            F.broadcast(
                scope_est.select(
                    F.col("scope").alias("type_a"),
                    F.col("hll_estimate").alias("est_a"),
                )
            ),
            "type_a",
        )
        .join(
            F.broadcast(
                scope_est.select(
                    F.col("scope").alias("type_b"),
                    F.col("hll_estimate").alias("est_b"),
                )
            ),
            "type_b",
        )
        .join(exact_inter, ["type_a", "type_b"], "left")
        .withColumn(
            "exact_intersection",
            F.coalesce(F.col("exact_intersection"), F.lit(0).cast("bigint")),
        )
        .join(
            F.broadcast(
                exact_n.select(
                    F.col("event_type").alias("type_a"),
                    F.col("n_exact").alias("n_a"),
                )
            ),
            "type_a",
        )
        .join(
            F.broadcast(
                exact_n.select(
                    F.col("event_type").alias("type_b"),
                    F.col("n_exact").alias("n_b"),
                )
            ),
            "type_b",
        )
        .withColumn(
            "exact_union",
            (F.col("n_a") + F.col("n_b") - F.col("exact_intersection")).cast(
                "bigint"
            ),
        )
        .withColumn(
            "est_intersection",
            (F.col("est_a") + F.col("est_b") - F.col("est_union")).cast("bigint"),
        )
    )
    return out.select(
        "type_a",
        "type_b",
        "est_a",
        "est_b",
        "est_union",
        "est_intersection",
        "exact_intersection",
        "exact_union",
        F.expr(
            half_up(
                "greatest(est_intersection, cast(0 as bigint)) * 1000000", "est_union"
            )
        ).alias("jaccard_est_micro"),
        F.expr(half_up("exact_intersection * 1000000", "exact_union")).alias(
            "jaccard_exact_micro"
        ),
    )


# ---------------------------------------------------------------------
# Bloom filter
# ---------------------------------------------------------------------


def sketch_bloom_reduction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter semi-join reduction: build a k=4, m=65536-bit
    filter over the custkeys of one market segment, probe every order,
    and report the reduction plus the measured false-positive rate
    against the exact semi-join.

    This is Spark's runtime row-level filtering made explicit: the bit
    set is ≤ k·|needles| positions and BROADCASTS; each probe row pays
    k portable hashes and passes iff all k positions are set. At
    100 TB the filter drops non-matching probe rows BEFORE the shuffle
    join — the oracle's exact semi-join is the correctness check and
    the fp_permille column is the filter's quality metric.
    """
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    needles = customer.filter(F.col("c_mktsegment") == _BLOOM_SEGMENT).select(
        F.col("c_custkey").cast("string").alias("key")
    )
    # build: distinct bit positions over k seeded hashes (the probe
    # side hashes its own ``key`` column with the same expressions)
    pos_cols = [
        (h60_seeded(f"bf{i}", F.col("key")) % BLOOM_BITS) for i in range(BLOOM_K)
    ]
    bits = (
        needles.select(F.explode(F.array(*pos_cols)).alias("pos")).distinct()
    )
    # probe: each order's k positions must all be set
    probes = orders.select(
        F.col("o_orderkey"), F.col("o_custkey").cast("string").alias("key")
    )
    probe_pos = probes.select(
        "o_orderkey", "key", F.explode(F.array(*pos_cols)).alias("pos")
    )
    hit = (
        probe_pos.join(F.broadcast(bits.withColumn("set_", F.lit(1))), "pos", "left")
        .groupBy("o_orderkey", "key")
        .agg((F.sum(F.coalesce(F.col("set_"), F.lit(0))) == BLOOM_K).alias("bloom_pass"))
    )
    truth = needles.select(F.col("key")).distinct().withColumn("true_pass", F.lit(1))
    # the needle set is a customer-segment slice — SF-linear, so the
    # join strategy is AQE's call (the bloom BITS frame above stays
    # pinned: BLOOM_BITS rows is an algorithm constant)
    joined = hit.join(truth, "key", "left").select(
        "bloom_pass", F.coalesce(F.col("true_pass"), F.lit(0)).alias("is_true")
    )
    return joined.agg(
        F.count("*").cast("bigint").alias("n_probes"),
        F.sum(F.col("bloom_pass").cast("bigint")).alias("bloom_pass"),
        F.sum("is_true").cast("bigint").alias("true_pass"),
        F.sum(
            (F.col("bloom_pass") & (F.col("is_true") == 0)).cast("bigint")
        ).alias("false_pos"),
    ).select(
        "n_probes",
        "bloom_pass",
        "true_pass",
        "false_pos",
        # fp rate among non-members, permille
        F.expr(half_up("1000 * false_pos", "(n_probes - true_pass)")).alias(
            "fp_permille"
        ),
    )


# ---------------------------------------------------------------------
# Count-Min sketch
# ---------------------------------------------------------------------


def sketch_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min estimates for the exact top-N users by event count.

    The counter table is d·w = 3·1024 cells built in ONE event scan
    (explode to (row, bucket) then count) — constant size at any
    corpus scale, mergeable by cell-wise sum. The probe set is the
    exact top-N (count desc, user_id asc tiebreak); its estimate is
    min over the d counters, always ≥ the exact count. ``overcount``
    quantifies collision inflation — the sketch's acceptance metric.
    """
    events = load_table(spark, sf_dir, "events")
    uid = F.col("user_id").cast("string")
    # the d (row, bucket) cells of a user — the build and the probe
    # explode the same expression
    user_cells = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(j).alias("row_"),
                    (h60_seeded(f"cms{j}", uid) % CMS_W).alias("bucket"),
                )
                for j in range(CMS_D)
            ]
        )
    ).alias("c")
    cells = (
        events.select(user_cells)
        .select("c.row_", "c.bucket")
        .groupBy("row_", "bucket")
        .agg(F.count("*").cast("bigint").alias("cnt"))
    )
    top = (
        events.groupBy("user_id")
        .agg(F.count("*").cast("bigint").alias("exact_cnt"))
        .orderBy(F.desc("exact_cnt"), F.asc("user_id"))
        .limit(CMS_TOPN)
    )
    probe = top.select("user_id", "exact_cnt", user_cells).select(
        "user_id", "exact_cnt", "c.row_", "c.bucket"
    )
    est = (
        probe.join(F.broadcast(cells), ["row_", "bucket"])
        .groupBy("user_id", "exact_cnt")
        .agg(F.min("cnt").alias("cms_estimate"))
    )
    return est.select(
        "user_id",
        "exact_cnt",
        "cms_estimate",
        (F.col("cms_estimate") - F.col("exact_cnt")).alias("overcount"),
    )


# ---------------------------------------------------------------------
# Histogram quantile sketch
# ---------------------------------------------------------------------

HQ_BUCKETS = 1024  # equi-width histogram cells
HQ_QUANTILES = (50, 90, 99)


def sketch_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable equi-width-histogram quantile estimator, with its own
    acceptance metric: estimate q50/q90/q99 of events.value from a
    HQ_BUCKETS-cell histogram (estimate = midpoint of the first cell
    whose cumulative count reaches rank ⌈q·n/100⌉) next to the EXACT
    rank-statistic and the absolute error. This is the sketch behind
    every engine's ANALYZE/EXPLAIN statistics: per-partition histograms
    merge by cell-wise addition (unlike exact quantiles), so at 100 TB
    the fact scan reduces map-side to ≤HQ_BUCKETS cells per partition
    and one tiny final merge — the error report says what that buys.

    The exact side reuses ``exact_global_rank`` (banded two-phase
    row-number — no single-partition fact sort); every division runs
    on non-negative offsets from the global min so Spark's
    truncate-toward-zero ``div`` and DuckDB's floor ``//`` agree even
    for negative values. NULL values are excluded at the scan (r08,
    both engines): a NULL is not a measurement, and engines place
    NULLs at opposite ends of the rank order."""
    events = load_table(spark, sf_dir, "events").where(
        F.col("value").isNotNull()
    )
    base = events.select(
        "event_id",
        F.expr("cast(round(value * 1000000) as bigint)").alias("m"),
    ).persist()
    ext = base.agg(
        F.min("m").alias("mn"),
        F.max("m").alias("mx"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    cells = (
        base.crossJoin(F.broadcast(ext))
        .select(
            F.expr(
                f"cast(((m - mn) * {HQ_BUCKETS}) div (mx - mn + 1) as int)"
            ).alias("cell")
        )
        .groupBy("cell")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    w_cum = Window.orderBy("cell").rowsBetween(Window.unboundedPreceding, 0)
    cum = cells.select(
        "cell", F.sum("c").over(w_cum).alias("cum")
    )  # ≤HQ_BUCKETS rows: the single-partition window is bounded
    qs = spark.range(1).select(
        F.explode(
            F.array(*[F.lit(q) for q in HQ_QUANTILES])
        ).alias("q")
    )
    targets = qs.crossJoin(F.broadcast(ext)).select(
        "q",
        "mn",
        "mx",
        "n",
        F.expr("(q * n + 99) div 100").alias("r"),
    )
    picked = (
        targets.join(F.broadcast(cum), F.col("cum") >= F.col("r"))
        .groupBy("q", "mn", "mx", "n", "r")
        .agg(F.min("cell").alias("cell"))
        .select(
            "q",
            "n",
            "r",
            (
                F.col("mn")
                + F.expr(
                    # hi_off−1 can dip to −1 when a cell's width rounds
                    # to zero; greatest() keeps every div non-negative
                    # (Spark truncates, DuckDB floors — they differ
                    # below zero)
                    f"((cell * (mx - mn + 1)) div {HQ_BUCKETS}"
                    f" + greatest((cell * (mx - mn + 1)) div {HQ_BUCKETS},"
                    f" ((cell + 1) * (mx - mn + 1)) div {HQ_BUCKETS} - 1))"
                    " div 2"
                )
            ).alias("est_micro"),
        )
    )
    ranked = exact_global_rank(base, "m", "event_id", "rnk")
    exact = (
        ranked.join(
            F.broadcast(picked.select("q", "r")),
            F.col("rnk") == F.col("r"),
        )
        .groupBy("q")
        .agg(F.min("m").alias("exact_micro"))
    )
    return picked.join(exact, "q").select(
        "q",
        "n",
        "est_micro",
        "exact_micro",
        F.abs(F.col("est_micro") - F.col("exact_micro")).alias(
            "abs_err_micro"
        ),
    )


# ---------------------------------------------------------------------
# Oracles
# ---------------------------------------------------------------------

ORACLES: dict[str, str] = {}

ORACLES["sketch_histogram_quantiles"] = f"""
    WITH base AS (
        SELECT event_id, CAST(ROUND(value * 1000000) AS BIGINT) AS m
        FROM events
        WHERE value IS NOT NULL
    ),
    ext AS (
        SELECT MIN(m) AS mn, MAX(m) AS mx,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM base
    ),
    cells AS (
        SELECT CAST(((m - mn) * {HQ_BUCKETS}) // (mx - mn + 1) AS INTEGER)
                   AS cell,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM base CROSS JOIN ext
        GROUP BY 1
    ),
    cum AS (
        SELECT cell,
               SUM(c) OVER (ORDER BY cell ROWS UNBOUNDED PRECEDING) AS cum
        FROM cells
    ),
    targets AS (
        SELECT q, mn, mx, n, (q * n + 99) // 100 AS r
        FROM (VALUES {", ".join(f"({q})" for q in HQ_QUANTILES)}) AS qs(q)
        CROSS JOIN ext
    ),
    picked AS (
        SELECT q, n, r,
               mn + ((MIN(cell) * (mx - mn + 1)) // {HQ_BUCKETS}
                     + GREATEST((MIN(cell) * (mx - mn + 1)) // {HQ_BUCKETS},
                                ((MIN(cell) + 1) * (mx - mn + 1))
                                    // {HQ_BUCKETS} - 1))
                    // 2 AS est_micro
        FROM targets JOIN cum ON cum >= r
        GROUP BY q, mn, mx, n, r
    ),
    ranked AS (
        SELECT m, ROW_NUMBER() OVER (ORDER BY m, event_id) AS rnk
        FROM base
    ),
    exact AS (
        SELECT p.q, CAST(MIN(m) AS BIGINT) AS exact_micro
        FROM ranked JOIN picked p ON rnk = p.r
        GROUP BY p.q
    )
    SELECT p.q, p.n, CAST(p.est_micro AS BIGINT) AS est_micro,
           e.exact_micro,
           CAST(abs(p.est_micro - e.exact_micro) AS BIGINT)
               AS abs_err_micro
    FROM picked p JOIN exact e ON p.q = e.q
"""

_LC_CASE_SQL = (
    "CASE zero_regs "
    + " ".join(f"WHEN {v} THEN {est}" for v, est in _LC_TABLE.items())
    + " END"
)

ORACLES["sketch_hll_users"] = f"""
    WITH hashed AS (
        SELECT {h60_seeded_sql('hllb', 'CAST(user_id AS VARCHAR)')} % {HLL_M} AS bucket,
               {h60_seeded_sql('hllv', 'CAST(user_id AS VARCHAR)')} % {1 << HLL_CAP} AS v
        FROM events
    ),
    regs AS (
        SELECT bucket,
               MAX(CASE WHEN v = 0 THEN {HLL_CAP + 1}
                        ELSE {HLL_CAP + 1} - length(bin(v)) END) AS rho_max
        FROM hashed GROUP BY bucket
    ),
    summary AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS nonzero_registers,
               CAST(SUM((1::BIGINT << ({HLL_CAP} - rho_max)))
                    + ({HLL_M} - COUNT(*)) * {1 << HLL_CAP}::BIGINT
                    AS BIGINT) AS s_scaled
        FROM regs
    ),
    exact AS (
        SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_distinct
        FROM events
    ),
    est AS (
        SELECT nonzero_registers, s_scaled, exact_distinct,
               (2 * {HLL_ALPHA_MILLI * HLL_M * HLL_M * (1 << HLL_CAP)}
                + 1000 * s_scaled) // (2 * 1000 * s_scaled) AS raw_est,
               CAST({HLL_M} - nonzero_registers AS BIGINT) AS zero_regs
        FROM summary, exact
    )
    SELECT CAST({HLL_M} AS BIGINT) AS m,
           nonzero_registers,
           s_scaled,
           CAST(CASE WHEN zero_regs > 0 AND raw_est * 2 <= {5 * HLL_M}
                     THEN {_LC_CASE_SQL}
                     ELSE raw_est END AS BIGINT) AS hll_estimate,
           exact_distinct,
           (2 * 1000 * abs(CAST(CASE WHEN zero_regs > 0 AND raw_est * 2 <= {5 * HLL_M}
                     THEN {_LC_CASE_SQL}
                     ELSE raw_est END AS BIGINT) - exact_distinct)
            + exact_distinct) // (2 * exact_distinct) AS err_permille
    FROM est
"""

# the HLL registers (scope, bucket, rho_max) of each event type's users
_TYPE_REGS_CTE = f"""hashed AS (
        SELECT event_type AS scope,
               {h60_seeded_sql('hllb', 'CAST(user_id AS VARCHAR)')} % {HLL_M} AS bucket,
               {h60_seeded_sql('hllv', 'CAST(user_id AS VARCHAR)')} % {1 << HLL_CAP} AS v
        FROM events
    ),
    regs AS (
        SELECT scope, bucket,
               MAX(CASE WHEN v = 0 THEN {HLL_CAP + 1}
                        ELSE {HLL_CAP + 1} - length(bin(v)) END) AS rho_max
        FROM hashed GROUP BY scope, bucket
    )"""

ORACLES["sketch_hll_merge"] = f"""
    WITH {_TYPE_REGS_CTE},
    all_regs AS (
        SELECT scope, bucket, rho_max FROM regs
        UNION ALL
        SELECT '__merged__' AS scope, bucket, MAX(rho_max) AS rho_max
        FROM regs GROUP BY bucket
    ),
    summary AS (
        SELECT scope,
               CAST(COUNT(*) AS BIGINT) AS nonzero_registers,
               CAST(SUM((1::BIGINT << ({HLL_CAP} - rho_max)))
                    + ({HLL_M} - COUNT(*)) * {1 << HLL_CAP}::BIGINT
                    AS BIGINT) AS s_scaled
        FROM all_regs GROUP BY scope
    ),
    exact AS (
        SELECT event_type AS scope,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_distinct
        FROM events GROUP BY event_type
        UNION ALL
        SELECT '__merged__' AS scope,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_distinct
        FROM events
    ),
    est AS (
        SELECT s.scope, s.nonzero_registers, s.s_scaled, e.exact_distinct,
               (2 * {HLL_ALPHA_MILLI * HLL_M * HLL_M * (1 << HLL_CAP)}
                + 1000 * s.s_scaled) // (2 * 1000 * s.s_scaled) AS raw_est,
               CAST({HLL_M} - s.nonzero_registers AS BIGINT) AS zero_regs
        FROM summary s JOIN exact e ON s.scope = e.scope
    ),
    final AS (
        SELECT scope, nonzero_registers, s_scaled, exact_distinct,
               CAST(CASE WHEN zero_regs > 0 AND raw_est * 2 <= {5 * HLL_M}
                         THEN {_LC_CASE_SQL}
                         ELSE raw_est END AS BIGINT) AS hll_estimate
        FROM est
    )
    SELECT scope, nonzero_registers, s_scaled, hll_estimate, exact_distinct,
           (2 * 1000 * abs(hll_estimate - exact_distinct) + exact_distinct)
               // (2 * exact_distinct) AS err_permille
    FROM final
"""

def _hll_sum_est_sql(src: str, keys: str) -> str:
    """SQL fragment: (keys, est) from a (keys, bucket, rho_max)
    register CTE — summarize + the shared integer estimator."""
    return f"""(
        SELECT {keys}, CAST(CASE WHEN zero_regs > 0
                                 AND raw_est * 2 <= {5 * HLL_M}
                            THEN {_LC_CASE_SQL}
                            ELSE raw_est END AS BIGINT) AS est
        FROM (
            SELECT {keys},
                   (2 * {HLL_ALPHA_MILLI * HLL_M * HLL_M * (1 << HLL_CAP)}
                    + 1000 * s_scaled) // (2 * 1000 * s_scaled) AS raw_est,
                   CAST({HLL_M} - nonzero_registers AS BIGINT) AS zero_regs
            FROM (
                SELECT {keys},
                       CAST(COUNT(*) AS BIGINT) AS nonzero_registers,
                       CAST(SUM((1::BIGINT << ({HLL_CAP} - rho_max)))
                            + ({HLL_M} - COUNT(*)) * {1 << HLL_CAP}::BIGINT
                            AS BIGINT) AS s_scaled
                FROM {src} GROUP BY {keys}
            )
        )
    )"""


ORACLES["sketch_hll_intersection"] = f"""
    WITH {_TYPE_REGS_CTE},
    types AS (SELECT DISTINCT scope FROM regs),
    pairs AS (
        SELECT a.scope AS type_a, b.scope AS type_b
        FROM types a JOIN types b ON a.scope < b.scope
    ),
    members AS (
        SELECT type_a, type_b, type_a AS scope FROM pairs
        UNION ALL
        SELECT type_a, type_b, type_b AS scope FROM pairs
    ),
    pair_regs AS (
        SELECT type_a, type_b, bucket, MAX(rho_max) AS rho_max
        FROM members m JOIN regs r ON m.scope = r.scope
        GROUP BY 1, 2, 3
    ),
    scope_est AS {_hll_sum_est_sql('regs', 'scope')},
    pair_est AS {_hll_sum_est_sql('pair_regs', 'type_a, type_b')},
    ubt AS (SELECT DISTINCT event_type, user_id FROM events),
    ex_inter AS (
        SELECT x.event_type AS type_a, y.event_type AS type_b,
               CAST(COUNT(*) AS BIGINT) AS exact_intersection
        FROM ubt x JOIN ubt y
          ON x.user_id = y.user_id AND x.event_type < y.event_type
        GROUP BY 1, 2
    ),
    ex_union AS (
        SELECT m.type_a, m.type_b,
               CAST(COUNT(DISTINCT u.user_id) AS BIGINT) AS exact_union
        FROM members m JOIN ubt u ON m.scope = u.event_type
        GROUP BY 1, 2
    )
    SELECT p.type_a, p.type_b,
           ea.est AS est_a, eb.est AS est_b, pe.est AS est_union,
           CAST(ea.est + eb.est - pe.est AS BIGINT) AS est_intersection,
           COALESCE(xi.exact_intersection, 0::BIGINT) AS exact_intersection,
           xu.exact_union,
           CAST((2 * GREATEST(ea.est + eb.est - pe.est, 0) * 1000000
                 + pe.est) // (2 * pe.est) AS BIGINT) AS jaccard_est_micro,
           CAST((2 * COALESCE(xi.exact_intersection, 0) * 1000000
                 + xu.exact_union) // (2 * xu.exact_union)
                AS BIGINT) AS jaccard_exact_micro
    FROM pairs p
    JOIN scope_est ea ON p.type_a = ea.scope
    JOIN scope_est eb ON p.type_b = eb.scope
    JOIN pair_est pe ON p.type_a = pe.type_a AND p.type_b = pe.type_b
    JOIN ex_union xu ON p.type_a = xu.type_a AND p.type_b = xu.type_b
    LEFT JOIN ex_inter xi ON p.type_a = xi.type_a AND p.type_b = xi.type_b
"""

_BLOOM_PROBE_POS = " UNION ALL ".join(
    f"SELECT o_orderkey, key, {h60_seeded_sql(f'bf{i}', 'key')} % {BLOOM_BITS} AS pos"
    " FROM probes"
    for i in range(BLOOM_K)
)
_BLOOM_BUILD_POS = " UNION ALL ".join(
    f"SELECT {h60_seeded_sql(f'bf{i}', 'key')} % {BLOOM_BITS} AS pos FROM needles"
    for i in range(BLOOM_K)
)

ORACLES["sketch_bloom_reduction"] = f"""
    WITH needles AS (
        SELECT CAST(c_custkey AS VARCHAR) AS key FROM customer
        WHERE c_mktsegment = '{_BLOOM_SEGMENT}'
    ),
    bits AS (
        SELECT DISTINCT pos FROM ({_BLOOM_BUILD_POS})
    ),
    probes AS (
        SELECT o_orderkey, CAST(o_custkey AS VARCHAR) AS key FROM orders
    ),
    probe_pos AS ({_BLOOM_PROBE_POS}),
    hit AS (
        SELECT p.o_orderkey, p.key,
               (SUM(CASE WHEN b.pos IS NOT NULL THEN 1 ELSE 0 END)
                = {BLOOM_K}) AS bloom_pass
        FROM probe_pos p LEFT JOIN bits b ON p.pos = b.pos
        GROUP BY p.o_orderkey, p.key
    ),
    truth AS (SELECT DISTINCT key, 1 AS true_pass FROM needles),
    joined AS (
        SELECT h.bloom_pass,
               COALESCE(t.true_pass, 0) AS is_true
        FROM hit h LEFT JOIN truth t ON h.key = t.key
    ),
    agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_probes,
               CAST(SUM(CASE WHEN bloom_pass THEN 1 ELSE 0 END) AS BIGINT)
                   AS bloom_pass,
               CAST(SUM(is_true) AS BIGINT) AS true_pass,
               CAST(SUM(CASE WHEN bloom_pass AND is_true = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS false_pos
        FROM joined
    )
    SELECT n_probes, bloom_pass, true_pass, false_pos,
           (2 * 1000 * false_pos + (n_probes - true_pass))
               // (2 * (n_probes - true_pass)) AS fp_permille
    FROM agg
"""

_CMS_CELLS = " UNION ALL ".join(
    f"SELECT {j} AS row_, {h60_seeded_sql(f'cms{j}', 'CAST(user_id AS VARCHAR)')}"
    f" % {CMS_W} AS bucket FROM events"
    for j in range(CMS_D)
)
_CMS_PROBE = " UNION ALL ".join(
    f"SELECT user_id, exact_cnt, {j} AS row_,"
    f" {h60_seeded_sql(f'cms{j}', 'CAST(user_id AS VARCHAR)')} % {CMS_W} AS bucket"
    " FROM top"
    for j in range(CMS_D)
)

ORACLES["sketch_cms_heavy_hitters"] = f"""
    WITH cells AS (
        SELECT row_, bucket, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM ({_CMS_CELLS}) GROUP BY row_, bucket
    ),
    top AS (
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS exact_cnt
        FROM events GROUP BY user_id
        ORDER BY exact_cnt DESC, user_id ASC LIMIT {CMS_TOPN}
    ),
    probe AS ({_CMS_PROBE})
    SELECT p.user_id, p.exact_cnt,
           MIN(c.cnt) AS cms_estimate,
           MIN(c.cnt) - p.exact_cnt AS overcount
    FROM probe p JOIN cells c ON p.row_ = c.row_ AND p.bucket = c.bucket
    GROUP BY p.user_id, p.exact_cnt
"""

QUERIES = {
    # newest entries first: registry order = driver grading order
    "sketch_hll_intersection": sketch_hll_intersection,
    "sketch_histogram_quantiles": sketch_histogram_quantiles,
    "sketch_hll_users": sketch_hll_users,
    "sketch_hll_merge": sketch_hll_merge,
    "sketch_bloom_reduction": sketch_bloom_reduction,
    "sketch_cms_heavy_hitters": sketch_cms_heavy_hitters,
}


# ---------------------------------------------------------------------
# User-presence bitmap
# ---------------------------------------------------------------------


def user_presence_bitmap(
    events: DataFrame,
    words: int = BITMAP_WORDS,
    bits_per_word: int = BITMAP_BITS_PER_WORD,
) -> DataFrame:
    """(event_type, word, mask): each user hashes to one bit of a
    words×bits_per_word presence bitmap per event type, and the bits
    of a word OR together. The lineage of the batch
    ``analytics.event_user_bitmap`` and, over a streaming frame, its
    streaming form.

    bit_or is associative and idempotent, so a stream's state is
    exactly the batch sketch at every micro-batch boundary: replays
    and at-least-once sources cannot corrupt it (re-OR-ing a bit is a
    no-op), where exact count_distinct state grows without bound.
    State is |types|·words rows however long the stream; complete and
    update output both work."""
    uid = F.col("user_id").cast("string")
    return (
        events.select(
            "event_type",
            (h60_seeded("bmw", uid) % (words * bits_per_word)).alias("slot"),
        )
        .select(
            "event_type",
            F.expr(f"slot div {bits_per_word}").alias("word"),
            F.expr(
                f"shiftleft(cast(1 as bigint),"
                f" cast(slot % {bits_per_word} as int))"
            ).alias("bit"),
        )
        .groupBy("event_type", "word")
        .agg(F.expr("bit_or(bit)").alias("mask"))
    )
