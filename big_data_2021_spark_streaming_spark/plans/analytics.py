"""Named batch queries generalizing the reference's operator classes.

The reference exercises exactly: JSON decode (F1), nested projection
(P3-P6), SQL-string filter (P5), broadcast stream-static equi-join
(J1), tumbling event-time window + collect_set (A1/A2/W2), date-part
extraction (F6-F9) and JSON encode (F2/F3) — see SURVEY.md §2. Each
query here re-expresses one of those classes (or its natural
generalization) over the driver's TPC-H-ish tables so a DuckDB oracle
can hash-check it, and each is written plan-first for 100 TB:

- filters/projections stay in the scan (PushedFilters / ReadSchema),
- CONSTANT-size dims are pinned ``F.broadcast`` (nation=25, region=5
  rows — exactly the reference's 56-row states dim pattern), as are
  1-row/K-row stat frames; SF-LINEAR tables (customer, supplier,
  part and their slices) are deliberately NOT pinned — Spark obeys a
  pinned hint up to a hard 8 GiB limit and then fails the job, so at
  the 100 TB design point those pins are latent job-killers, while
  Catalyst/AQE broadcasts the same joins at small actual sizes and
  shuffles them at scale (verified: the synthetic ×8 sweep drove a
  pinned candidate-frame broadcast in dedup past the limit),
- aggregates use built-in JVM functions only (whole-stage codegen; no
  Python in the hot path),
- displayed SUM/AVG/ratio aggregates of doubles ride exact micro-unit
  integer sums with half-up integer division (functions/exact.py):
  parallel summation order is nondeterministic in *any* engine, and
  ROUND(double) itself diverges cross-engine on .xx5 boundaries.

Every builder takes ``(spark, sf_dir)`` and returns a DataFrame whose
column names match the oracle SQL exactly (driver hash-compares by
sorted column name).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..functions.exact import (
    RFM_BANDS,
    avg6,
    cents,
    cents_signed,
    exact_global_rank,
    half_up,
    half_up_signed,
    ratio6,
    sum_m6,
)
from ..sources.batch import load_table


def _epoch_us(c) -> F.Column:
    """Microseconds since epoch, NTZ-tolerant.

    The driver's parquet tables carry tz-naive ``timestamp[us]`` (Spark
    TIMESTAMP_NTZ), and ``unix_micros`` only accepts TIMESTAMP. The
    session timezone is pinned UTC (session.py), so the NTZ→TIMESTAMP
    cast is the identity on the wall-clock and matches DuckDB's
    epoch-of-naive-timestamp semantics; on tz-aware inputs the cast is
    a no-op.
    """
    col = F.col(c) if isinstance(c, str) else c
    return F.unix_micros(col.cast("timestamp"))


# ---------------------------------------------------------------------------
# Reference-shaped queries (Q1/Q2/Q3 re-expressed on the events table)
# ---------------------------------------------------------------------------


def q1_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q1 class: predicate filter + projection + JSON field decode.

    Mirrors ``srapk_structure_streaming.py:59-64`` (from_json → flatten
    → where) with events.props standing in for the RSVP payload. The
    filter and the 4-column projection must push into the parquet scan.
    """
    events = load_table(spark, sf_dir, "events")
    return (
        events.where((F.col("event_type") == "click") & (F.col("value") > 100.0))
        .select(
            "event_id",
            "user_id",
            F.round("value", 2).alias("value"),
            F.from_json("props", "k INT").getField("k").alias("k"),
        )
    )


def q2_join_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2 class: fact × small-dim broadcast inner equi-join chain.

    The reference joins a 56-row states dim to swap abbreviations for
    full names (``srapk_structure_streaming.py:139-141``); here the
    same name-lookup pattern runs customer→nation→region. Both dims are
    pinned broadcast: no shuffle of the fact side, ever.
    """
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return (
        customer.join(
            F.broadcast(nation),
            customer.c_nationkey == nation.n_nationkey,
            "inner",
        )
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey, "inner")
        .select(
            "c_custkey",
            "c_name",
            F.round("c_acctbal", 2).alias("c_acctbal"),
            F.col("n_name").alias("nation_name"),
            F.col("r_name").alias("region_name"),
        )
    )


def q3_window_collect_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q3 class: tumbling 1-minute window → collect_set → date parts.

    Batch re-expression of ``srapk_structure_streaming.py:150-165``
    (same lineage the streaming module runs with a watermark). The
    set is sorted at the comparison boundary because collect_set order
    is nondeterministic (SURVEY.md §7.5), and serialized to a string
    because the driver's hash gate cannot canonicalize array cells.
    """
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(F.window("ts", "1 minute").alias("w"))
        .agg(
            F.array_join(F.array_sort(F.collect_set("event_type")), ",").alias(
                "event_types"
            )
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.month("w.start").alias("month"),
            F.dayofmonth("w.start").alias("day_of_the_month"),
            F.hour("w.start").alias("hour"),
            F.minute("w.start").alias("minute"),
            "event_types",
        )
    )


def json_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2/F3 class: struct assembly + JSON serialization (the Q2/Q3
    payload pattern, ``srapk_structure_streaming.py:140-143,165``)."""
    events = load_table(spark, sf_dir, "events")
    return events.select(
        "event_id",
        F.to_json(F.struct("event_id", "event_type", "user_id")).alias("payload"),
    )


def date_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F6-F9 class: calendar decomposition of event time, grouped."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.select(
            F.year("ts").alias("year"),
            F.month("ts").alias("month"),
            F.dayofmonth("ts").alias("day_of_the_month"),
            F.hour("ts").alias("hour"),
        )
        .groupBy("year", "month", "day_of_the_month", "hour")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


# ---------------------------------------------------------------------------
# Generalized aggregation / join / sort / set-op surface
# ---------------------------------------------------------------------------


def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped aggregation at volume (TPC-H Q1 pattern on lineitem).

    Map-side partial aggregation + AQE-coalesced exchange; all
    aggregates are built-in (whole-stage codegen), grouping keys are
    low-cardinality so the shuffle is tiny regardless of input size.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("2001-09-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.expr(cents(sum_m6("l_quantity"))).alias("sum_qty"),
            F.expr(cents(sum_m6("l_extendedprice"))).alias("sum_base_price"),
            F.expr(
                cents(sum_m6("l_extendedprice * (1 - l_discount)"))
            ).alias("sum_disc_price"),
            F.expr(avg6(sum_m6("l_quantity"))).alias("avg_qty"),
            F.expr(avg6(sum_m6("l_discount"))).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-join star aggregation (TPC-H Q5 pattern).

    lineitem⋈orders is the only big-big join (shuffle on orderkey, AQE
    handles skew); nation/region ride pinned broadcast (constant-size
    dims); the customer join's strategy is AQE's call — customer is
    SF-linear, so it broadcasts at small scale and shuffles once it
    outgrows the limit, where a pinned hint would hard-fail.
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy(F.col("n_name").alias("nation_name"))
        .agg(
            F.expr(
                cents(sum_m6("l_extendedprice * (1 - l_discount)"))
            ).alias("revenue")
        )
    )


def top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sort + limit (top-k). Physical plan is TakeOrderedAndProject —
    per-partition top-k then a k-row merge on the driver; never a full
    sort of the fact table."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    revenue = orders.groupBy("o_custkey").agg(
        F.expr(cents(sum_m6("o_totalprice"))).alias("total_spent")
    )
    return (
        revenue.join(customer, revenue.o_custkey == customer.c_custkey)
        .select("c_custkey", "c_name", "total_spent")
        .orderBy(F.col("total_spent").desc(), F.col("c_custkey"))
        .limit(10)
    )


def order_priority_semijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join with a correlated predicate (TPC-H Q4 pattern):
    orders having at least one line shipped after the order date."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    qualified = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey) & (li.l_shipdate > orders.o_orderdate),
        "leftsemi",
    )
    return qualified.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("order_count")
    )


def parts_never_in_bulk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join with a pushed-down predicate on the probe side:
    parts that never appear on a max-quantity line. The dual of the
    semi-join filter effect the reference's inner join has (§2.3)."""
    part = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem")
    bulk = li.where(F.col("l_quantity") >= 50.0)
    return part.join(bulk, part.p_partkey == bulk.l_partkey, "leftanti").select(
        "p_partkey", "p_name", "p_brand"
    )


def clickers_not_purchasers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-semi set difference: user-days with a click but no purchase.

    Expressed as ONE conditional aggregation (groupBy user/day, two
    boolean max's) instead of distinct→distinct→exceptAll — one shuffle
    on (user_id, day) where the naive set-op plan shuffles three times.
    The scan is also one pass with an IN filter instead of two."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.where(F.col("event_type").isin("click", "purchase"))
        .groupBy("user_id", F.date_trunc("day", "ts").alias("day"))
        .agg(
            F.max(F.col("event_type") == "click").alias("clicked"),
            F.max(F.col("event_type") == "purchase").alias("purchased"),
        )
        .where(F.col("clicked") & ~F.col("purchased"))
        .select("user_id", "day")
    )


def event_type_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operation: UNION (distinct) of two filtered projections."""
    events = load_table(spark, sf_dir, "events")
    a = events.where(F.col("event_type") == "click").select("user_id", "event_type")
    b = events.where(F.col("event_type") == "error").select("user_id", "event_type")
    return a.union(b).distinct()


def user_simpson_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral diversity per user as the exact Simpson index: the
    probability two of the user's events (drawn without replacement)
    share a type, D = Σnᵢ(nᵢ−1) / (N(N−1)), reported in micro-units
    (0 = all types distinct, 1e6 = single-type user). The entropy-free
    diversity measure — Shannon needs ln(), whose last-ulp libm
    differences aren't IEEE-pinned across engines; Simpson is exact
    integer rational, with the 1e6-scaled numerator and the N(N−1)
    pair counts on DECIMAL(38,0)/HUGEINT (a bot user past ~2·10⁶
    same-type events would wrap the BIGINT form silently). Two
    map-side-combinable aggregates on (user, type) then (user); no
    joins, scan-speed at 100 TB."""
    events = load_table(spark, sf_dir, "events")
    per_type = events.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    agg = per_type.groupBy("user_id").agg(
        F.sum("c").alias("n_events"),
        F.count(F.lit(1)).cast("bigint").alias("n_types"),
        F.sum(F.expr("c * (c - 1)")).alias("num"),
    )
    return agg.select(
        "user_id",
        F.col("n_events").cast("bigint").alias("n_events"),
        "n_types",
        F.when(
            F.col("n_events") >= 2,
            F.expr(
                half_up(
                    "1000000 * cast(num as decimal(38,0))",
                    "cast(n_events as decimal(38,0)) * (n_events - 1)",
                )
            ),
        ).alias("simpson_micro"),
    )


def distinct_users_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct aggregation (expand + two-phase agg physically)."""
    events = load_table(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count(F.lit(1)).alias("n_events"),
    )


def rollup_order_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping sets (generalizes plain groupBy; one Expand node,
    still a single shuffle)."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.rollup("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.expr(cents(sum_m6("o_totalprice"))).alias("total_price"),
    )


def cube_event_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets over (event_type, hour-of-day): all four
    grouping combinations from one Expand + one shuffle."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.select("event_type", F.hour("ts").alias("hour"), "value")
        .cube("event_type", "hour")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.expr(cents(sum_m6("value"))).alias("sum_value"),
        )
    )


def pivot_user_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: per-user value totals as one column per event type. The
    pivot values are pinned explicitly — at scale an implicit pivot
    triggers a full distinct scan just to discover columns. Totals
    ride exact micro-unit integers to cents (half-up) — a double
    ROUND(SUM(..)) is partition-order-dependent in the last ulp and
    flipped a .xx5 boundary at the sf0.4 sweep."""
    events = load_table(spark, sf_dir, "events")
    pivoted = (
        events.groupBy("user_id")
        .pivot("event_type", ["click", "view", "purchase", "error", "signup"])
        .agg(F.expr(cents("sum(cast(round(value * 1000000) as bigint))")))
    )
    return pivoted


def value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per event type (p50/p90/p99).
    F.percentile is the exact (sort-based) form; at 100 TB swap to
    approx_percentile and drop the oracle to rows-only — documented
    trade, exact kept here because the driver gate hash-compares."""
    events = load_table(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.round(F.percentile("value", F.lit(0.5)), 6).alias("p50"),
        F.round(F.percentile("value", F.lit(0.9)), 6).alias("p90"),
        F.round(F.percentile("value", F.lit(0.99)), 6).alias("p99"),
    )


def session_window_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session windows (F.session_window, 30-minute gap): per
    (user, session) bounds and aggregates. The same session window as
    streaming.pipeline.sessionize, but ``session_end`` here is the
    window end (last event + gap), where sessionize reports the last
    event. One shuffle on the session-window key. Sums ride
    exact micro-unit integers to cents (half-up) for cross-engine,
    partition-order-independent results."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(
            F.session_window("ts", "30 minutes").alias("w"), "user_id"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.expr(
                cents("sum(cast(round(value * 1000000) as bigint))")
            ).alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


def lineitem_measures_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (melt) — the inverse reshape of pivot_user_event_values:
    lineitem's four numeric measures become (measure, value) rows, then
    one profile row per measure. Wide→long is how a generic
    profiling/QC pass walks every numeric column of a 100-column table
    without 100 hand-written aggregates; the expansion is stateless
    per-row (4× rows, same scan), aggregation is a 4-key shuffle.
    Sums ride exact micro-unit integers (measure values are ≤2-decimal
    in this schema) so the per-measure totals hash across engines."""
    li = load_table(spark, sf_dir, "lineitem")
    long = li.unpivot(
        ids=[],
        values=["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        variableColumnName="measure",
        valueColumnName="val",
    )
    micro = F.round(F.col("val") * 1e6).cast("bigint")
    return long.groupBy("measure").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.min("val"), 6).alias("min_val"),
        F.round(F.max("val"), 6).alias("max_val"),
        (F.sum(micro) / F.lit(1e6)).alias("sum_val"),
    )


def recent_orders_lateral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL correlated subquery through the SQL entry point — the
    per-row top-k join shape (each customer's 2 most recent orders)
    written the way a SQL user writes it. Catalyst must decorrelate
    the LATERAL (DomainJoin → window/join rewrite) rather than execute
    a per-row subquery; the registry's other top-k-per-group entries
    pin the explicit window form, this one pins the planner's rewrite
    of the correlated form. Also the registry's coverage of
    ``spark.sql`` itself — every other builder is DataFrame-API."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("lat_customer")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("lat_orders")
    return spark.sql(
        """
        SELECT c.c_custkey, o.o_orderkey, o.o_orderdate
        FROM lat_customer c,
        LATERAL (
            SELECT o_orderkey, o_orderdate
            FROM lat_orders
            WHERE o_custkey = c.c_custkey
            ORDER BY o_orderdate DESC, o_orderkey
            LIMIT 2
        ) o
        """
    )


def peak_concurrent_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap sweep — the capacity question session stats
    alone can't answer: how many sessions were open AT ONCE, at peak?
    Each session emits a (+1 at start, −1 at end) boundary, a running
    sum over the boundary order is the live concurrency, and the peak
    is its max; ends sort before coincident starts so back-to-back
    sessions don't double-count.

    The prefix sum is two-phase so no task ever sees the whole
    boundary stream: per-day partial running sums under a PARTITIONED
    window, plus a day-level offset table (one row per day — the only
    globally-ordered window, over a calendar-bounded frame) broadcast
    back. date(ts) is monotone in ts, so (day, ts, delta) is the same
    total order as (ts, delta) and the result is identical to the
    single-partition form — this is the scan-scalable shape at 100 TB,
    where 2·|sessions| boundary rows are themselves billions."""
    sessions = session_window_stats(spark, sf_dir)
    # persisted: referenced by both the partial-sum pass and the
    # day-total pass — without the barrier the sessionization lineage
    # (the expensive part) would recompute once per reference
    boundaries = sessions.select(
        F.col("session_start").alias("ts"), F.lit(1).alias("delta")
    ).union(
        sessions.select(
            F.col("session_end").alias("ts"), F.lit(-1).alias("delta")
        )
    ).withColumn("day", F.to_date("ts")).persist()
    w_in = Window.partitionBy("day").orderBy("ts", "delta").rowsBetween(
        Window.unboundedPreceding, 0
    )
    partial = boundaries.select(
        "day", "ts", F.sum("delta").over(w_in).alias("partial")
    )
    day_totals = boundaries.groupBy("day").agg(
        F.sum("delta").alias("day_total")
    )
    w_off = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = day_totals.select(
        "day",
        F.coalesce(F.sum("day_total").over(w_off), F.lit(0)).alias("offset"),
    )
    live = partial.join(F.broadcast(offsets), "day").select(
        "ts", (F.col("partial") + F.col("offset")).alias("concurrent")
    )
    peak = live.agg(F.max("concurrent").alias("peak_concurrent"))
    return (
        live.join(F.broadcast(peak), live.concurrent == peak.peak_concurrent)
        .groupBy("peak_concurrent")
        .agg(F.min("ts").alias("first_peak_ts"))
        .select("peak_concurrent", "first_peak_ts")
    )


# ---------------------------------------------------------------------------
# Analytic (row) window functions — absent from the reference (§2.5) but
# part of any complete engine surface
# ---------------------------------------------------------------------------


def top3_per_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """row_number over (partition, order) — per-group top-k without a
    global sort; one shuffle on the partition key."""
    customer = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey")
    )
    return (
        customer.withColumn("rank_in_segment", F.row_number().over(w))
        .where(F.col("rank_in_segment") <= 3)
        .select(
            "c_mktsegment",
            "c_custkey",
            F.round("c_acctbal", 2).alias("c_acctbal"),
            "rank_in_segment",
        )
    )


def user_event_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag() over event time per user → mean inter-event gap.

    The mean stays integer µs until one exact half-up division:
    ROUND(AVG(double),4) would hit the cross-engine ROUND-boundary
    class, and a double µs sum is partial-order-dependent. The 4-dp
    half-up mean is (2·Σus + 100·n) div (200·n) / 1e4 (Σus·1e4 / (n·1e6)
    reduced); a single-event user has zero gaps → div by 0 → NULL,
    matching AVG over no rows."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = events.withColumn(
        "gap_us", _epoch_us("ts") - _epoch_us(F.lag("ts").over(w))
    )
    return (
        gaps.groupBy("user_id")
        .agg(
            F.sum("gap_us").alias("s_us"),
            F.count("gap_us").alias("n_gaps"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            "user_id",
            (
                F.expr(half_up("s_us", "100 * n_gaps"))
                / F.lit(1e4)
            ).alias("avg_gap_sec"),
            "n_events",
        )
    )


# ---------------------------------------------------------------------------
# Time windows beyond the reference's single tumbling case
# ---------------------------------------------------------------------------


def sliding_window_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-minute window sliding every 5 — each event lands in w/s = 2
    windows. Spark's F.window expands rows then aggregates; state cost
    scales with (w/s)·|windows|, bounded by the watermark when run
    streaming. Sums ride exact micro-unit integers to cents (half-up)
    for cross-engine, partition-order-independent results."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.expr(
                cents("sum(cast(round(value * 1000000) as bigint))")
            ).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "n_events",
            "sum_value",
        )
    )


def promo_revenue_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional-aggregate ratio (TPC-H Q14 pattern): promo revenue
    share per month — two sums from one scan, no second pass."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy(
            F.year("l_shipdate").alias("year"),
            F.month("l_shipdate").alias("month"),
        )
        .agg(
            # pct to 4dp = micro ratio of the two exact micro sums
            # (100 × 1e4 = 1e6 scaling folds into one half-up division)
            F.expr(
                half_up(
                    sum_m6(
                        "case when p_type like 'PROMO%'"
                        " then l_extendedprice * (1 - l_discount) else 0.0D end"
                    ) + " * 1000000",
                    sum_m6("l_extendedprice * (1 - l_discount)"),
                )
                + " / 10000.0D"
            ).alias("promo_pct"),
            F.expr(
                cents(sum_m6("l_extendedprice * (1 - l_discount)"))
            ).alias("total_revenue"),
        )
    )


def returnflag_priority_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional counts by category (TPC-H Q12 pattern, re-based on
    the synthetic schema's return flag): per flag, how many high- vs
    low-priority order lines."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(high.cast("bigint")).alias("high_priority"),
            F.sum((~high).cast("bigint")).alias("low_priority"),
        )
    )


def supplier_balance_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier-side dim join (completes table coverage): account
    balance rollup per nation with a having-style filter."""
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    return (
        supplier.join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
        .groupBy(F.col("n_name").alias("nation_name"))
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            # acctbal can be negative → sign-aware exact cents
            F.expr(cents_signed(sum_m6("s_acctbal"))).alias("total_balance"),
        )
        .where(F.col("n_suppliers") > 0)
    )


# ---------------------------------------------------------------------------
# Scale-pattern operators: as-of join, range join, salted aggregation —
# the time-series/skew techniques Spark lacks as primitives, expressed
# in their scalable (single-shuffle / bucketed) formulations
# ---------------------------------------------------------------------------


def asof_last_signup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (self, backward): for every event, the most recent
    STRICTLY PRIOR signup by the same user. The naive formulation is an
    inequality join (quadratic per user); the scalable one is a single
    window pass — last(signup_ts) ignoring nulls over preceding rows —
    one shuffle on user_id, linear in events."""
    events = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    signup_ts = F.when(F.col("event_type") == "signup", F.col("ts"))
    return events.select(
        "event_id",
        "user_id",
        "ts",
        F.last(signup_ts, ignorenulls=True).over(w).alias("last_signup_ts"),
    )


RANGE_JOIN_WINDOW_SEC = 3600


def range_join_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (interval) join: purchase within 1 hour after a click by
    the same user. A plain theta join on the interval predicate plans
    as a per-user nested loop; bucketing both sides by hour and
    equi-joining on (user, bucket) ∪ (user, bucket+1) bounds each
    join partition — the standard interval-bucketing rewrite. The
    interval filter then runs on the tiny candidate set."""
    events = load_table(spark, sf_dir, "events")
    bucket = lambda c: F.floor(  # noqa: E731
        _epoch_us(c) / (RANGE_JOIN_WINDOW_SEC * 1_000_000)
    )
    clicks = events.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_event_id"),
        "user_id",
        F.col("ts").alias("click_ts"),
    )
    purchases = events.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_event_id"),
        F.col("user_id").alias("p_user_id"),
        F.col("ts").alias("purchase_ts"),
        bucket(F.col("ts")).alias("p_bucket"),
    )
    expanded = clicks.select(
        "*",
        F.explode(
            F.array(bucket(F.col("click_ts")), bucket(F.col("click_ts")) + 1)
        ).alias("jb"),
    )
    return (
        expanded.join(
            purchases,
            (expanded.user_id == purchases.p_user_id)
            & (expanded.jb == purchases.p_bucket),
        )
        .where(
            (F.col("purchase_ts") >= F.col("click_ts"))
            & (
                _epoch_us("purchase_ts") - _epoch_us("click_ts")
                <= RANGE_JOIN_WINDOW_SEC * 1_000_000
            )
        )
        .select(
            "click_event_id",
            "purchase_event_id",
            "user_id",
            F.round(
                (_epoch_us("purchase_ts") - _epoch_us("click_ts"))
                / 1_000_000.0,
                6,
            ).alias("secs_between"),
        )
    )


ASOF_TOL_SEC = 7200  # attribution lookback window


def asof_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stream as-of join with tolerance — last-touch attribution:
    every purchase matched to the SAME user's most recent click at or
    before it, provided the click is within ASOF_TOL_SEC. Contrast
    with ``range_join_click_purchase``, which enumerates ALL pairs in
    the window; as-of picks exactly one (or none).

    The scalable shape is the union trick, not a join: tag both
    streams, one window pass per user carries the latest click forward
    (last over a struct, ignorenulls — id and ts move atomically so
    ties can't split across columns), then purchases outside tolerance
    null their match. Because backward as-of picks the GREATEST click
    ts ≤ purchase ts, an out-of-tolerance latest click implies every
    older click is also out — nulling equals the filtered as-of. One
    user_id shuffle, linear in events; never clicks×purchases."""
    events = load_table(spark, sf_dir, "events")
    both = events.where(F.col("event_type").isin("click", "purchase")).select(
        "event_id",
        "user_id",
        "ts",
        # clicks sort before a same-instant purchase so it attributes
        F.when(F.col("event_type") == "click", 0).otherwise(1).alias("tag"),
        F.when(
            F.col("event_type") == "click",
            F.struct(F.col("event_id").alias("cid"), F.col("ts").alias("cts")),
        ).alias("click"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "tag", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    matched = both.withColumn(
        "last_click", F.last("click", ignorenulls=True).over(w)
    ).where(F.col("tag") == 1)
    in_tol = F.col("last_click").isNotNull() & (
        _epoch_us("ts") - _epoch_us(F.col("last_click.cts"))
        <= ASOF_TOL_SEC * 1_000_000
    )
    return matched.select(
        F.col("event_id").alias("purchase_event_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
        F.when(in_tol, F.col("last_click.cid")).alias("click_event_id"),
        F.when(in_tol, F.col("last_click.cts")).alias("click_ts"),
    )


SALT_BUCKETS = 16


def salted_type_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted two-phase aggregation for skewed group keys: event_type
    has ~5 values over the whole corpus, so a direct groupBy funnels
    each key through one reducer. Phase 1 aggregates on
    (key, salt = pmod(event_id, 16)) spreading every hot key over 16
    reducers; phase 2 re-aggregates the 16 partials per key. Both
    phases sum exact micro-unit integers (the mergeable-partial shape),
    so the displayed cents are salt-count-independent. AQE splits
    skewed JOIN partitions but not skewed aggregations — salting is
    the aggregation-side answer."""
    events = load_table(spark, sf_dir, "events")
    phase1 = (
        events.withColumn("salt", F.pmod("event_id", F.lit(SALT_BUCKETS)))
        .groupBy("event_type", "salt")
        .agg(
            F.count(F.lit(1)).alias("partial_n"),
            F.expr(sum_m6("value")).alias("partial_m"),
        )
    )
    return phase1.groupBy("event_type").agg(
        F.sum("partial_n").alias("n_events"),
        F.expr(cents("sum(partial_m)")).alias("total_value"),
    )


# ---------------------------------------------------------------------------
# Correlated-subquery classes (TPC-H Q15/Q17/Q18/Q22 patterns), written as
# SQL so Catalyst's subquery decorrelation performs the rewrite — the
# engine-completeness surface the reference never touches (its only
# "subquery" is the implicit semi-join effect of J1, SURVEY.md §2.3)
# ---------------------------------------------------------------------------


def _sql_over(spark: SparkSession, sf_dir: str, tables: list[str], sql: str) -> DataFrame:
    """Register the named tables as temp views and analyze ``sql``.

    ``spark.sql`` resolves the plan eagerly, so a later view replacement
    (another sf_dir in the same session) cannot retarget a DataFrame
    already built here.
    """
    for t in tables:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(sql)


def small_qty_part_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery (TPC-H Q17 pattern): revenue from
    lines ordering less than half the part's own average quantity.

    Catalyst decorrelates the per-part average into an aggregate +
    join — one extra reduce over lineitem, never a per-row re-scan.
    Float-safe across engines because l_quantity is integral, so the
    correlated AVG is exact in double regardless of summation order.
    """
    return _sql_over(
        spark,
        sf_dir,
        ["lineitem", "part"],
        f"""
        SELECT p.p_brand,
               {cents(
                   "SUM(CAST(ROUND(l.l_extendedprice * 1000000) AS DECIMAL(38,0)))"
               )} AS low_qty_revenue,
               COUNT(*) AS n_lines
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        WHERE l.l_quantity < (
            SELECT 0.5 * AVG(l2.l_quantity)
            FROM lineitem l2 WHERE l2.l_partkey = p.p_partkey
        )
        GROUP BY p.p_brand
        """,
    )


BIG_ORDER_QTY = 150


def big_order_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN-subquery with HAVING (TPC-H Q18 pattern): customers whose
    orders exceed a total-quantity threshold.

    The textbook plan scans lineitem twice (once for the HAVING
    aggregate feeding the semi-join, once to regroup the surviving
    lines) — but the HAVING aggregate IS the outer sum, so this plan
    aggregates lineitem once, filters, and joins orders + customer:
    one fact scan, one fact shuffle. The filtered aggregate is tiny
    (only orders over the threshold survive), so AQE broadcasts it
    into the orders join at runtime.
    """
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    big = (
        lineitem.groupBy("l_orderkey")
        .agg(F.round(F.sum("l_quantity"), 2).alias("total_qty"))
        .where(F.col("total_qty") > BIG_ORDER_QTY)
    )
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            "o_orderdate",
            F.round("o_totalprice", 2).alias("o_totalprice"),
            "total_qty",
        )
    )


INACTIVE_CUTOFF = "2001-01-01 00:00:00"


def inactive_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar subquery + NOT EXISTS anti-join (TPC-H Q22 pattern):
    above-average-balance customers with no order since the cutoff,
    rolled up by nation. The NOT EXISTS plans as a left-anti hash join
    against the date-filtered orders (filter pushed to the scan); the
    scalar average is a one-row broadcast."""
    return _sql_over(
        spark,
        sf_dir,
        ["customer", "orders"],
        f"""
        SELECT c.c_nationkey,
               COUNT(*) AS n_customers,
               {cents_signed(
                   "SUM(CAST(ROUND(c.c_acctbal * 1000000) AS DECIMAL(38,0)))"
               )} AS total_balance
        FROM customer c
        WHERE c.c_acctbal > (
            SELECT AVG(c_acctbal) FROM customer WHERE c_acctbal > 0.0
        )
        AND NOT EXISTS (
            SELECT 1 FROM orders o
            WHERE o.o_custkey = c.c_custkey
              AND o.o_orderdate >= TIMESTAMP '{INACTIVE_CUTOFF}'
        )
        GROUP BY c.c_nationkey
        """,
    )


def top_supplier_by_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate-then-argmax via scalar subquery over a CTE (TPC-H Q15
    pattern): the supplier(s) whose lineitem revenue equals the global
    maximum. The revenue CTE is computed per consumer (Spark inlines
    CTEs); both are one reduce of lineitem — the scalar MAX side is a
    one-row broadcast, never a sort."""
    return _sql_over(
        spark,
        sf_dir,
        ["supplier", "lineitem"],
        """
        WITH rev AS (
            SELECT l_suppkey,
                   SUM(l_extendedprice * (1 - l_discount)) AS total_rev
            FROM lineitem GROUP BY l_suppkey
        )
        SELECT s.s_suppkey, s.s_name, ROUND(rev.total_rev, 2) AS total_revenue
        FROM supplier s JOIN rev ON s.s_suppkey = rev.l_suppkey
        WHERE rev.total_rev = (SELECT MAX(total_rev) FROM rev)
        """,
    )


def shipping_priority_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-aggregate top-k (TPC-H Q3 pattern): highest-revenue
    unshipped orders for one market segment.

    The segment filter prunes customer before the join; date filters
    push into both parquet scans. The final top-10 plans as
    TakeOrderedAndProject (per-partition heap + driver merge of 10
    rows), never a global sort. Revenue is rounded *before* ranking
    with an orderkey tiebreak so the cut is identical across engines
    despite float-sum ordering differences.
    """
    cutoff = "1998-06-01 00:00:00"
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    return (
        lineitem.where(F.col("l_shipdate") > cutoff)
        .join(orders.where(F.col("o_orderdate") < cutoff), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            customer.where(F.col("c_mktsegment") == "BUILDING").select("c_custkey"),
            F.col("o_custkey") == F.col("c_custkey"),
            "left_semi",
        )
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.expr(
                cents(sum_m6("l_extendedprice * (1 - l_discount)"))
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), "o_orderkey")
        .limit(10)
    )


def nation_pair_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bi-directional two-nation trade volume (TPC-H Q7 pattern):
    revenue between a supplier nation and a customer nation, either
    direction, by ship year.

    Two independent broadcast joins of the 25-row nation dim (one per
    role); the disjunctive pair filter runs after both enrichments on
    already-small columns. The fact table shuffles only for the final
    aggregate on (nation, nation, year) — low cardinality, no skew.
    """
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    n1 = nation.select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nkey"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nkey"))
        .where(pair)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(
            F.expr(
                cents(sum_m6("l_extendedprice * (1 - l_discount)"))
            ).alias("revenue")
        )
    )


def market_share_by_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional-share ratio (TPC-H Q8 pattern): one supplier
    nation's share of PROMO-part revenue sold into one region, per
    order year. The share is a single conditional aggregate over the
    enriched fact — no self-join of the numerator against the
    denominator. Rounded to 6 places: the ratio of two float sums is
    stable well past that boundary.
    """
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    part = load_table(spark, sf_dir, "part")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    cust_nations = (
        nation.join(
            F.broadcast(region.where(F.col("r_name") == "ASIA")),
            F.col("n_regionkey") == F.col("r_regionkey"),
            "left_semi",
        )
        .select(F.col("n_nationkey").alias("c_nkey"))
    )
    supp_nation = nation.select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    return (
        lineitem.join(
            part.where(F.col("p_type") == "PROMO").select("p_partkey"),
            F.col("l_partkey") == F.col("p_partkey"),
            "left_semi",
        )
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(cust_nations), F.col("c_nationkey") == F.col("c_nkey"), "left_semi")
        .join(supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(supp_nation), F.col("s_nationkey") == F.col("s_nkey"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.expr(
                ratio6(
                    sum_m6(
                        "case when supp_nation = 'NATION_2'"
                        " then l_extendedprice * (1 - l_discount)"
                        " else 0.0D end"
                    ),
                    sum_m6("l_extendedprice * (1 - l_discount)"),
                )
            ).alias("mkt_share")
        )
    )


def part_profit_by_nation_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-dim profit rollup (TPC-H Q9 pattern, minus the partsupp
    cost leg absent from this schema): revenue on name-matched parts
    grouped by supplier nation and order year. The LIKE filter prunes
    part before its broadcast; nation is broadcast; lineitem shuffles
    once for the (nation, year) aggregate.
    """
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    supplier = load_table(spark, sf_dir, "supplier")
    part = load_table(spark, sf_dir, "part")
    nation = load_table(spark, sf_dir, "nation")
    return (
        lineitem.join(
            part.where(F.col("p_name").like("%red%")).select("p_partkey"),
            F.col("l_partkey") == F.col("p_partkey"),
            "left_semi",
        )
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year"))
        .agg(
            F.expr(
                cents(sum_m6("l_extendedprice * (1 - l_discount)"))
            ).alias("profit")
        )
    )


def local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full TPC-H Q5 pattern — what revenue_by_nation lacks: the
    LOCAL-supplier condition (customer and line supplier share a
    nation) plus region and order-year pruning. The nation table plays
    two roles through one broadcast; the same-nation predicate rides
    the supplier join, so no extra shuffle materializes — lineitem ⋈
    orders stays the only big-big join, and the region/date filters
    prune the broadcast/probe sides before it."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1997-01-01"))
    )
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    # nation-level groups accumulate far more addends than the
    # per-customer groups that motivated returned_item_report's exact
    # cents: a double SUM's partial-aggregate order is partition-
    # dependent, so ROUND(SUM(double),2) can drift in the last ulp
    # across runs/engines — same micro-unit BIGINT pattern instead
    rev_micro = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 1e6
    ).cast("bigint")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(
            supplier,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("s_nationkey") == F.col("c_nationkey")),
        )
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy(F.col("n_name").alias("nation_name"))
        .agg(F.sum(rev_micro).alias("rev_micro"))
        .select(
            "nation_name",
            (F.expr(half_up("rev_micro", "10000")) / F.lit(100.0)).alias(
                "revenue"
            ),
        )
    )


def returned_item_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 pattern: top-20 customers by revenue lost to returned
    items in one quarter. Date + returnflag filters push into the two
    fact scans; customer/nation broadcast onto the aggregate; the
    top-20 plans as TakeOrderedAndProject (per-partition top-k, k-row
    driver merge — never a global sort)."""
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    orders = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1996-04-01"))
    )
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    # per-customer groups are small enough to land revenue on a .xx5
    # rounding boundary, where Spark (BigDecimal shortest-repr HALF_UP)
    # and DuckDB (raw-double) disagree — so the cent rounding itself
    # must be integer math: exact micro-unit BIGINT sum (the per-row
    # product is ONE IEEE op, identical both sides), half-up integer
    # division to cents, one exact /100.0 at the boundary
    rev_micro = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 1e6
    ).cast("bigint")
    revenue = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_custkey")
        .agg(F.sum(rev_micro).alias("rev_micro"))
        .select(
            "o_custkey",
            (F.expr(half_up("rev_micro", "10000")) / F.lit(100.0)).alias(
                "revenue"
            ),
        )
    )
    return (
        revenue.join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .select(
            "c_custkey",
            "c_name",
            F.round("c_acctbal", 2).alias("c_acctbal"),
            F.col("n_name").alias("nation_name"),
            "revenue",
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


def customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outer-join count histogram (TPC-H Q13 pattern): how many
    customers placed exactly N qualifying orders — zero included,
    which is the point of the LEFT OUTER join (an inner join would
    silently drop the no-order customers). COUNT(o_orderkey) counts
    only matched rows; the second aggregate is over customer
    cardinality, already small.
    """
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    per_cust = (
        customer.join(
            orders.where(F.col("o_orderpriority") != "5-LOW"),
            F.col("c_custkey") == F.col("o_custkey"),
            "left_outer",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


def disjunctive_part_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Disjunctive multi-clause predicate (TPC-H Q19 pattern): revenue
    over three OR-ed (brand, size, quantity) clauses. The common
    `l_partkey = p_partkey` stays an equi-join (no nested-loop
    fallback); the per-clause part predicates are OR-able into the
    broadcast side's scan, the quantity bounds into lineitem's.
    """
    lineitem = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    qty = F.col("l_quantity")
    clause = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 5)
            & qty.between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 10)
            & qty.between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#34")
            & F.col("p_size").between(1, 15)
            & qty.between(20, 30)
        )
    )
    return (
        lineitem.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .where(clause)
        .agg(
            F.expr(
                cents(sum_m6("l_extendedprice * (1 - l_discount)"))
            ).alias("revenue"),
            F.count("*").alias("n_lines"),
        )
    )


# ---------------------------------------------------------------------------
# Analytic window frames (running / sliding row frames) — completes the
# window-function surface beyond row_number/lag (§2.5: absent in reference)
# ---------------------------------------------------------------------------


def running_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative sum + 3-row moving average per user over event time.

    Sums run on exact micro-unit BIGINT (window engines disagree on
    float summation order: Spark accumulates sequentially, DuckDB uses
    a segment tree) and the 4-decimal display values come from half-up
    INTEGER division — the earlier decimal-accumulate-then-ROUND(double)
    form still diverged at the sf0.4 sweep because Spark rounds the
    shortest decimal repr of a double while DuckDB rounds the raw
    binary value, so a quotient landing on a .xxxx5 boundary flipped.
    One shuffle on user_id; frames are O(1) running state per row.

    NULL measurements are excluded at the scan (r08, both engines): a
    NULL value is not a measurement, and letting it through makes the
    running count/sum semantics engine-specific (Spark count("value")
    vs DuckDB COUNT(*) frame rows).
    """
    events = load_table(spark, sf_dir, "events").where(
        F.col("value").isNotNull()
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    micro = F.round(F.col("value") * 1e6).cast("bigint")
    inner = events.select(
        "event_id",
        "user_id",
        "ts",
        F.sum(micro)
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("cum_m"),
        F.sum(micro).over(w.rowsBetween(-2, 0)).alias("mov_m"),
        F.count("value").over(w.rowsBetween(-2, 0)).alias("mov_n"),
    )
    return inner.select(
        "event_id",
        "user_id",
        "ts",
        F.expr(half_up("cum_m", "100") + " / 10000.0D").alias("cum_value"),
        F.expr(half_up("mov_m", "100 * mov_n") + " / 10000.0D").alias(
            "moving_avg3"
        ),
    )


def fuzzy_name_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy entity matching at scale — edit-distance-1 customer-name
    pairs via DELETION-NEIGHBORHOOD blocking (the SymSpell trick): each
    name emits itself plus its single-character deletions, candidates
    are an EQUI-join on the variant (two same-length names differing in
    one substitution share the deletion at that position; a pure
    insert/delete pair shares the shorter string itself), and exact
    levenshtein runs only on candidates. This turns the O(N²) fuzzy
    self-join into a blocked equi-join whose work is bounded by true
    near-matches — the shape that survives 100 TB of entity names,
    where a cross join cannot.

    Relational position-explode for the variants (posexplode over
    1..len, substr concat — per-position work, never a per-element
    lambda over the whole row)."""
    names = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return _edit1_name_pairs(names).select(
        "custkey_a",
        "custkey_b",
        "name_a",
        "name_b",
        F.levenshtein("name_a", "name_b").alias("edit_dist"),
    )


def _edit1_name_pairs(customers: DataFrame) -> DataFrame:
    """(custkey_a, custkey_b, name_a, name_b), custkey_a < custkey_b, of
    every customer-name pair at levenshtein distance 1, blocked by the
    deletion neighborhood (see fuzzy_name_matches)."""
    base = customers.select(
        "c_custkey", "c_name", F.length("c_name").alias("n")
    )
    deletions = base.select(
        "c_custkey",
        "c_name",
        F.explode(F.sequence(F.lit(1), F.col("n"))).alias("pos"),
    ).select(
        "c_custkey",
        "c_name",
        F.concat(
            F.expr("substr(c_name, 1, pos - 1)"),
            F.expr("substr(c_name, pos + 1)"),
        ).alias("variant"),
    )
    variants = deletions.union(
        base.select("c_custkey", "c_name", F.col("c_name").alias("variant"))
    ).distinct()
    a = variants.select(
        F.col("c_custkey").alias("custkey_a"),
        F.col("c_name").alias("name_a"),
        "variant",
    )
    b = variants.select(
        F.col("c_custkey").alias("custkey_b"),
        F.col("c_name").alias("name_b"),
        "variant",
    )
    return (
        a.join(b, "variant")
        .where(F.col("custkey_a") < F.col("custkey_b"))
        .select("custkey_a", "custkey_b", "name_a", "name_b")
        .distinct()
        .where(F.levenshtein("name_a", "name_b") == 1)
    )


# Fellegi–Sunter m-probabilities (P(field agrees | true match)) as
# pinned rationals — in production these come from EM over labeled
# pairs; pinning keeps the scorer deterministic and cross-engine exact.
# u-probabilities (P(agrees | random non-match)) ARE estimated from the
# data: u_f = Σ c_v(c_v−1) / N(N−1) over the field's value counts.
FS_M_NATION = (9, 10)
FS_M_SEGMENT = (4, 5)
FS_M_BAL = (19, 20)


def linkage_fs_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi–Sunter record-linkage scoring over the blocked candidate
    pairs: for each edit-distance-1 name pair (deletion-neighborhood
    blocking, same shape as fuzzy_name_matches), compare nation /
    market-segment / account-balance band and combine per-field likelihood
    ratios (m/u on agreement, (1−m)/(1−u) on disagreement) into match
    odds — the classic probabilistic linkage decision rule.

    Exactness: u-probabilities are exact integer rationals from one
    value-frequency pass per field, and every u-statistic product rides
    DECIMAL(38,0) (Spark) / HUGEINT (DuckDB) — u_den grows as
    |customers|², so 2·m·u_den·10⁶ passes int64 once |customers|
    exceeds ~7·10⁵ (TPC-H sf≈5), and the 128-bit space keeps the ratio
    exact to 10³⁸ with loud NULL/error on overflow instead of a silent
    BIGINT wrap; each field ratio is the established half-up micro
    division; the combined odds multiply three identical micro integers
    as doubles in pinned left-to-right order, so both engines produce
    bit-identical products (each factor < 2⁵³ — no double rounding
    before the final division by 1e18).

    Scale: candidate work is bounded by the blocking join exactly as
    fuzzy_name_matches; the u-statistics are three |values|-key
    aggregates folded into ONE broadcast 1-row frame — never a second
    corpus pass per pair."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_name",
        "c_nationkey",
        "c_mktsegment",
        # 1000-unit balance band via exact cents (no double floor drift)
        F.expr(
            "cast(round(c_acctbal * 100) as bigint) div 100000"
        ).alias("bal_band"),
    )

    def u_num(col: str, alias: str) -> DataFrame:
        return (
            cust.groupBy(col)
            .agg(F.count(F.lit(1)).alias("c"))
            .agg(F.sum(F.expr("c * (c - 1)")).cast("bigint").alias(alias))
        )

    stats = (
        cust.agg(
            F.expr("count(1) * (count(1) - 1)").cast("bigint").alias("u_den")
        )
        .crossJoin(u_num("c_nationkey", "u_nat"))
        .crossJoin(u_num("c_mktsegment", "u_seg"))
        .crossJoin(u_num("bal_band", "u_bal"))
    )
    cand = _edit1_name_pairs(cust).select("custkey_a", "custkey_b")
    fa = cust.select(
        F.col("c_custkey").alias("custkey_a"),
        F.col("c_nationkey").alias("nat_a"),
        F.col("c_mktsegment").alias("seg_a"),
        F.col("bal_band").alias("bal_a"),
    )
    fb = cust.select(
        F.col("c_custkey").alias("custkey_b"),
        F.col("c_nationkey").alias("nat_b"),
        F.col("c_mktsegment").alias("seg_b"),
        F.col("bal_band").alias("bal_b"),
    )
    pairs = (
        cand.join(fa, "custkey_a")
        .join(fb, "custkey_b")
        .crossJoin(F.broadcast(stats))
    )

    def field_weight(agree: F.Column, mn: int, md: int, u: str) -> F.Column:
        # u_den ~ |customers|² pushes 2·m·u_den·10⁶ past int64 once
        # |customers| exceeds ~7·10⁵ (TPC-H sf≈5), so every u-statistic
        # product rides DECIMAL(38,0) (≡ DuckDB HUGEINT): exact to 10³⁸,
        # and overflow is a loud NULL, never a silent BIGINT wrap
        d = "cast(u_den as decimal(38,0))"
        return F.when(
            agree,
            F.expr(
                half_up(
                    f"{mn} * {d} * 1000000",
                    f"{md} * cast({u} as decimal(38,0))",
                )
            ),
        ).otherwise(
            F.expr(half_up(f"{md - mn} * {d} * 1000000", f"{md} * ({d} - {u})"))
        )

    scored = pairs.select(
        "custkey_a",
        "custkey_b",
        (F.col("nat_a") == F.col("nat_b")).cast("int").alias("agree_nation"),
        (F.col("seg_a") == F.col("seg_b")).cast("int").alias("agree_segment"),
        (F.col("bal_a") == F.col("bal_b")).cast("int").alias("agree_balance"),
        field_weight(
            F.col("nat_a") == F.col("nat_b"), *FS_M_NATION, "u_nat"
        ).alias("w_nat"),
        field_weight(
            F.col("seg_a") == F.col("seg_b"), *FS_M_SEGMENT, "u_seg"
        ).alias("w_seg"),
        field_weight(
            F.col("bal_a") == F.col("bal_b"), *FS_M_BAL, "u_bal"
        ).alias("w_bal"),
    )
    return scored.select(
        "custkey_a",
        "custkey_b",
        "agree_nation",
        "agree_segment",
        "agree_balance",
        (F.col("w_nat") / F.lit(1e6)).alias("w_nation"),
        (F.col("w_seg") / F.lit(1e6)).alias("w_segment"),
        (F.col("w_bal") / F.lit(1e6)).alias("w_balance"),
        # pinned left-to-right double product of exact micro integers
        F.expr(
            "cast(w_nat as double) * cast(w_seg as double)"
            " * cast(w_bal as double) / 1e18"
        ).alias("match_odds"),
    )


def props_map_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapType surface — the one semi-structured shape the engine's
    type coverage lacked: decode the JSON payload as map<string,int>
    (schema-on-read over open-ended keys, vs the fixed-StructType
    decode of q1/rsvp), explode the entries, aggregate per key. One
    scan + one |keys|-cardinality shuffle; from_json stays JVM-side."""
    events = load_table(spark, sf_dir, "events")
    entries = events.select(
        F.explode(F.from_json("props", "map<string,int>")).alias("key", "val")
    )
    return entries.groupBy("key").agg(
        F.count(F.lit(1)).alias("n_entries"),
        F.min("val").alias("min_val"),
        F.max("val").alias("max_val"),
        F.sum(F.col("val").cast("bigint")).alias("sum_val"),
    )


def user_trailing_hour_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE (time-range) window frame — the frame class ROWS can't
    express: per event, the count and value sum of the same user's
    events in the trailing hour, however many rows that is. Ordering
    key is integer epoch-seconds (exact in both engines; RANGE peers at
    the same second are included either way), the sum accumulates on
    exact micro-unit BIGINT with half-up integer display division like
    running_user_value (window engines disagree on float summation
    order, and ROUND(double) itself diverges cross-engine), and the
    frame is O(window-span) sliding state per user — one shuffle on
    user_id."""
    events = load_table(spark, sf_dir, "events")
    with_sec = events.select(
        "event_id", "user_id", "ts", "value", _epoch_us("ts").alias("us")
    ).select(
        "event_id",
        "user_id",
        "ts",
        "value",
        F.expr("us div 1000000").alias("sec"),
    )
    w = Window.partitionBy("user_id").orderBy("sec").rangeBetween(-3600, 0)
    micro = F.round(F.col("value") * 1e6).cast("bigint")
    return with_sec.select(
        "event_id",
        "user_id",
        "ts",
        F.count(F.lit(1)).over(w).alias("n_trailing_1h"),
        F.sum(micro).over(w).alias("m_trailing"),
    ).select(
        "event_id",
        "user_id",
        "ts",
        "n_trailing_1h",
        F.expr(half_up("m_trailing", "100") + " / 10000.0D").alias(
            "sum_trailing_1h"
        ),
    )


def event_rank_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile + percent_rank over a total per-type order (value ties
    broken by event_id so both engines rank identically). percent_rank
    is the exact rational (rank−1)/(n−1) — deterministic cross-engine.
    NULL values are excluded at the scan (r08): Spark sorts NULLS FIRST
    ascending where DuckDB sorts NULLS LAST, so a NULL entering the
    rank frame shifts every rank differently per engine."""
    events = load_table(spark, sf_dir, "events").where(
        F.col("value").isNotNull()
    )
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    return events.select(
        "event_id",
        "event_type",
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
    )


def daily_click_purchase_recon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-outer reconciliation: daily click vs purchase totals with
    neither side allowed to drop days the other has — the standard
    two-ledger comparison shape. Both sides aggregate BEFORE the join
    (map-side combine; the join touches day-cardinality rows, not
    events), then FullOuter + coalesce."""
    events = load_table(spark, sf_dir, "events")

    def daily(event_type: str, alias: str) -> DataFrame:
        return (
            events.where(F.col("event_type") == event_type)
            .groupBy(F.date_trunc("day", "ts").alias("day"))
            .agg(F.expr(cents(sum_m6("value"))).alias(alias))
        )

    clicks, purchases = daily("click", "click_total"), daily("purchase", "purchase_total")
    return clicks.join(purchases, "day", "full_outer").select(
        "day",
        F.coalesce("click_total", F.lit(0.0)).alias("click_total"),
        F.coalesce("purchase_total", F.lit(0.0)).alias("purchase_total"),
    )


def click_and_error_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT set op: users present in both the click and the error
    populations. Plans as a left-semi over two distinct-aggregated
    sides — no row explosion."""
    events = load_table(spark, sf_dir, "events")
    clicks = events.where(F.col("event_type") == "click").select("user_id")
    errors = events.where(F.col("event_type") == "error").select("user_id")
    return clicks.intersect(errors)


def latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest-snapshot per key (the SCD/compaction pattern): each
    user's most recent event, via row_number over (ts desc, event_id
    desc) — one shuffle on the key, per-partition top-1 under AQE,
    never a global sort. The batch form of what a streaming upsert
    sink maintains incrementally."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        events.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "user_id",
            "event_id",
            "ts",
            "event_type",
            F.round("value", 2).alias("value"),
        )
    )


def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel (signup → click → purchase) as ONE conditional
    aggregation: per user, the first timestamp of each stage, then the
    stage test is pure expression logic — one shuffle on user_id, no
    joins, no re-scans per stage (the naive per-stage self-join plan is
    k scans and k-1 joins)."""
    events = load_table(spark, sf_dir, "events")
    first_ts = lambda t: F.min(  # noqa: E731
        F.when(F.col("event_type") == t, F.col("ts"))
    )
    per_user = events.groupBy("user_id").agg(
        first_ts("signup").alias("signup_ts"),
        first_ts("click").alias("click_ts"),
        first_ts("purchase").alias("purchase_ts"),
    )
    stage = (
        F.when(F.col("signup_ts").isNull(), "0_none")
        .when(
            F.col("click_ts").isNull() | (F.col("click_ts") < F.col("signup_ts")),
            "1_signup",
        )
        .when(
            F.col("purchase_ts").isNull()
            | (F.col("purchase_ts") < F.col("click_ts")),
            "2_clicked",
        )
        .otherwise("3_converted")
    )
    return (
        per_user.select(stage.alias("funnel_stage"))
        .groupBy("funnel_stage")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


def sketch_event_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch aggregates — the 100 TB path for distinct counts and
    quantiles: HyperLogLog++ (approx_count_distinct) and the
    approximate-percentile sketch, both mergeable map-side partials, no
    expand and no sort. No DuckDB oracle: its HLL/quantile sketches are
    different estimators, so the driver records a rows-only check —
    value_percentiles / distinct_users_per_type are the exact-twin
    queries that DO hash-match."""
    events = load_table(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", 0.02).alias("approx_users"),
        F.round(F.percentile_approx("value", F.lit(0.5), F.lit(10000)), 4).alias(
            "approx_p50"
        ),
    )


def sole_late_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21's operator pattern — EXISTS + NOT EXISTS correlated to
    the same table with an inequality on the correlation key — adapted
    to this schema (no receipt/commit dates): a lineitem is "slow" when
    it ships more than 60 days after the order date, and a supplier
    "waits" on an order when it is the ONLY slow supplier among ≥2
    suppliers on that order.

    Spark-first rewrite: instead of two correlated self-joins over
    lineitem (three scans + two shuffles of the fact table), ONE scan
    computes per-order supplier counts (`countDistinct` + conditional
    `countDistinct`), and the sole-slow supplier falls out of
    ``max(when(slow, suppkey))`` — the Q18-style single-scan rewrite.
    The DuckDB oracle keeps the classic EXISTS/NOT EXISTS form, so the
    hash gate doubles as an equivalence proof of the rewrite."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    supplier = load_table(spark, sf_dir, "supplier")
    li = lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
    slow = F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    per_order = li.groupBy("o_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(F.when(slow, F.col("l_suppkey"))).alias("n_slow"),
        F.max(F.when(slow, F.col("l_suppkey"))).alias("slow_supp"),
    )
    sole = per_order.where((F.col("n_supp") >= 2) & (F.col("n_slow") == 1))
    return (
        sole.join(supplier, sole.slow_supp == supplier.s_suppkey)
        .groupBy("s_name")
        .agg(F.countDistinct("o_orderkey").alias("numwait"))
    )


def brand_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16's operator pattern — NOT IN subquery + COUNT(DISTINCT)
    — adapted to this schema (no partsupp): how many distinct suppliers
    shipped each (brand, size) of part, excluding suppliers in bad
    standing (negative account balance), who are removed by an anti-join
    against the exclusion list (AQE broadcasts it while small — it is a
    supplier slice, SF-linear, so no pinned hint) exactly where Q16's
    NOT IN comment-filter subquery sits."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    bad = load_table(spark, sf_dir, "supplier").where(
        F.col("s_acctbal") < 0
    ).select(F.col("s_suppkey").alias("l_suppkey"))
    return (
        lineitem.join(bad, "l_suppkey", "left_anti")
        .join(part, lineitem.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


def value_zscore_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-QC anomaly flags: events whose value is > 3 sample standard
    deviations from their event_type mean — the per-feature outlier
    sweep a training-data pipeline runs before trusting a numeric
    column.

    Cross-engine determinism: mean/variance accumulate on DECIMAL
    (exact, order-independent) over values pre-rounded to 6 places;
    the float math (one subtraction, two divisions, sqrt) runs on those
    exact sums with the SAME expression shape in both engines, so every
    intermediate is an identically-rounded IEEE value — no
    last-ulp-summation drift (the Window-SUM trap documented in
    oracles.py).

    Groups with n < 2 are excluded (r08 single-row sweep): a sample
    standard deviation needs two observations — Spark's ANSI mode
    CRASHES on the (n−1)=0 division where DuckDB returns NULL, and a
    one-event type cannot flag anomalies anyway."""
    events = load_table(spark, sf_dir, "events")
    v6 = F.round("value", 6).cast("decimal(18,6)")
    augmented = events.select("event_id", "event_type", "value", v6.alias("v6"))
    stats = augmented.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("v6").alias("s1"),
        F.sum(F.col("v6") * F.col("v6")).alias("s2"),
    ).where(F.col("n") >= 2)
    s1d = F.col("s1").cast("double")
    s2d = F.col("s2").cast("double")
    nd = F.col("n").cast("double")
    mean = s1d / nd
    var = (s2d - s1d * s1d / nd) / (nd - F.lit(1.0))
    z = (F.col("v6").cast("double") - mean) / F.sqrt(var)
    return (
        augmented.join(F.broadcast(stats), "event_type")
        .select(
            "event_id",
            "event_type",
            F.round("value", 2).alias("value"),
            F.round(z, 4).alias("zscore"),
        )
        .where(F.abs(F.col("zscore")) > 3)
    )


def discount_tax_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence test between the discount and tax
    columns (each bucketed to its exact percent level): the
    column-pair dependence screen a CBO or feature-selection pass
    runs to decide whether a joint histogram is worth keeping over
    two marginals. Output is one row per discount level with its
    chi² contribution plus the shared total statistic and degrees of
    freedom — a readable dependence profile, not just one number.

    Exactness: cells are integer counts; each cell's
    (o·N − r·c)²/(N·r·c) micro leaf rides DECIMAL(38,0)/HUGEINT
    exactly like text_source_chi2_drift; sums are BIGINT.

    Scale: one scan → |levels²| contingency aggregate (both columns
    are percent-quantized, so the grid is ≤ 11×9); everything after
    the first aggregate is constant-size."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.expr("cast(round(l_discount * 100) as bigint)").alias("disc_pct"),
        F.expr("cast(round(l_tax * 100) as bigint)").alias("tax_pct"),
    )
    cells = li.groupBy("disc_pct", "tax_pct").agg(
        F.count(F.lit(1)).cast("bigint").alias("o")
    )
    rows_m = cells.groupBy("disc_pct").agg(F.sum("o").alias("r"))
    cols_m = cells.groupBy("tax_pct").agg(F.sum("o").alias("c"))
    n = cells.agg(
        F.sum("o").alias("n"),
        F.countDistinct("disc_pct").alias("n_disc"),
        F.countDistinct("tax_pct").alias("n_tax"),
    )
    # o/n/r/c cast to DECIMAL(38,0) BEFORE the inner multiplications
    # (o·N and r·c individually pass int64 at scale; the 128-bit space
    # overflows loudly — NULL/error — instead of BIGINT's silent wrap)
    d38 = "(cast(o as decimal(38,0)) * n - cast(r as decimal(38,0)) * c)"
    contrib = (
        cells.join(rows_m, "disc_pct")
        .join(F.broadcast(cols_m), "tax_pct")
        .crossJoin(F.broadcast(n))
        .select(
            "disc_pct",
            F.expr(
                half_up(
                    f"({d38} * {d38}) * 1000000",
                    "(cast(n as decimal(38,0)) * r * c)",
                )
            ).alias("cell_micro"),
            "n_disc",
            "n_tax",
        )
    )
    per_level = contrib.groupBy("disc_pct", "n_disc", "n_tax").agg(
        F.sum("cell_micro").alias("level_micro")
    )
    w_all = Window.partitionBy()  # ≤11-row frame: levels, not data
    return per_level.select(
        "disc_pct",
        (F.col("level_micro") / F.lit(1e6)).alias("chi2_contrib"),
        (F.sum("level_micro").over(w_all) / F.lit(1e6)).alias("chi2_total"),
        ((F.col("n_disc") - 1) * (F.col("n_tax") - 1))
        .cast("bigint")
        .alias("dof"),
    )


def anomaly_detector_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Detector-agreement audit: how much the global z-score sweep
    (value_zscore_anomalies — population outliers) and the per-user
    EWMA burst detector (event_ewma_spikes — behavioral outliers)
    agree on WHICH events are anomalous — the 1-row triage that says
    whether the two signals are redundant or complementary before
    anyone builds an alerting ensemble on them. Composes the two gated
    builders verbatim; the oracle composes their gated SQL the same
    way, so the overlap inherits both queries' proofs.

    Scale: both inputs are flagged-event frames (≪ corpus); the
    full-outer equi-join on event_id and the 1-row rollup are
    negligible next to the detectors themselves."""
    z = value_zscore_anomalies(spark, sf_dir).select(
        F.col("event_id").alias("zid")
    )
    e = event_ewma_spikes(spark, sf_dir).select(
        F.col("event_id").alias("eid")
    )
    joined = z.join(e, F.col("zid") == F.col("eid"), "full_outer")
    return joined.agg(
        F.sum(F.when(F.col("zid").isNotNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_zscore"),
        F.sum(F.when(F.col("eid").isNotNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_ewma"),
        F.sum(
            F.when(
                F.col("zid").isNotNull() & F.col("eid").isNotNull(), 1
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_both"),
    ).select(
        "n_zscore",
        "n_ewma",
        "n_both",
        (
            F.expr(
                half_up("n_both * 1000000", "(n_zscore + n_ewma - n_both)")
            )
            / F.lit(1e6)
        ).alias("jaccard"),
    )


def experiment_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experimentation guardrail: assign every user to an arm by
    deterministic salted hash (the reproducible assignment a real
    platform uses), report per-arm user/event counts and the exact
    mean event value, and the sample-ratio-mismatch chi² — the
    1-degree test ((n_a−n_b)²/(n_a+n_b) for a 50/50 split) that must
    be checked BEFORE reading any treatment effect, since a skewed
    split means the assignment or logging is broken.

    Exactness: counts are integers; with E = (n_a+n_b)/2 the chi²
    collapses to the exact rational (n_a−n_b)²/(n_a+n_b) (half-up
    micro); arm means ride the established per-row micro-unit sums
    with the SIGNED half-away display split (value carries no sign
    contract).

    Scale: one scan → per-user arm assignment is pure expression
    logic → 2-key aggregate; the chi² is a 1-row frame broadcast back
    onto the 2 arm rows."""
    from ..functions.hashing import h60

    events = load_table(spark, sf_dir, "events")
    arm = (
        h60(F.concat(F.lit("exp1:"), F.col("user_id").cast("string"))) % 2
    ).cast("int")
    per_arm = (
        events.select(
            arm.alias("arm"),
            "user_id",
            F.expr("cast(round(value * 1000000) as bigint)").alias("vq"),
        )
        .groupBy("arm")
        .agg(
            F.countDistinct("user_id").alias("n_users"),
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum("vq").alias("_svq"),
        )
    )
    srm = per_arm.agg(
        F.expr(
            half_up(
                "(max(n_users) - min(n_users))"
                " * (max(n_users) - min(n_users)) * 1000000",
                "sum(n_users)",
            )
        ).alias("_chi2_micro")
    )
    return per_arm.crossJoin(F.broadcast(srm)).select(
        "arm",
        "n_users",
        "n_events",
        (
            # value sums carry no sign contract, so the mean uses the
            # signed half-away split (div truncates toward zero in both
            # engines; the unsigned form would silently become
            # half-toward-+inf on a negative-value events table)
            F.expr(half_up_signed("_svq", "n_events"))
            / F.lit(1e6)
        ).alias("mean_value"),
        (F.col("_chi2_micro") / F.lit(1e6)).alias("srm_chi2"),
    )


def user_dau_wau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / WAU stickiness per day — the engagement dashboard staple.
    Trailing-7-day distinct users are NOT summable from daily counts,
    so the distributed shape is the contribution-explode: each (user,
    active-day) pair is exploded onto the ≤7 future days it keeps the
    user active for, then ONE distinct + count per target day replaces
    seven overlapping distinct windows. Days before a full 7-day
    window are excluded (they'd understate WAU); every other in-range
    day appears — the reporting grid is built densely from the corpus
    day bounds, so a zero-activity day is REPORTED as dau=0 (and
    stickiness 0) rather than silently omitted, which is the 'per day'
    dashboard contract.

    Exactness: all counts integers; stickiness = DAU/WAU half-up
    micro, exact 0 when the trailing week is empty. Scale: the explode
    is a bounded 7× of the |user × day| frame (already ≪ events), one
    shuffle for the distinct; the day grid is calendar-bounded."""
    events = load_table(spark, sf_dir, "events")
    user_days = (
        events.select("user_id", _epoch_us("ts").alias("_us"))
        .select("user_id", F.expr("_us div 86400000000").alias("day"))
        .distinct()
    )
    dau = user_days.groupBy("day").agg(
        F.count(F.lit(1)).cast("bigint").alias("dau")
    )
    wau = (
        user_days.select(
            "user_id",
            F.explode(
                F.sequence(F.col("day"), F.col("day") + 6)
            ).alias("day"),
        )
        .distinct()
        .groupBy("day")
        .agg(F.count(F.lit(1)).cast("bigint").alias("wau"))
    )
    bounds = user_days.agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    # a corpus shorter than the 7-day window has NO fully-covered day:
    # emit zero rows. Spark's sequence(start, stop) silently DESCENDS
    # when start > stop (7 phantom days) where DuckDB's
    # generate_series returns empty — caught by the r08 single-row
    # sweep; the guard pins the empty-grid semantics in both engines.
    grid = bounds.select(
        F.explode(
            F.when(
                F.col("d0") + 6 <= F.col("d1"),
                F.sequence(F.col("d0") + 6, F.col("d1")),
            ).otherwise(F.array().cast("array<bigint>"))
        ).alias("day")
    )
    return (
        grid.join(dau, "day", "left")
        .join(wau, "day", "left")
        .select(
            "day",
            F.coalesce("dau", F.lit(0).cast("bigint")).alias("dau"),
            F.coalesce("wau", F.lit(0).cast("bigint")).alias("wau"),
        )
        .select(
            "day",
            "dau",
            "wau",
            F.when(
                F.col("wau") > 0,
                F.expr(half_up("dau * 1000000", "wau"))
                / F.lit(1e6),
            )
            .otherwise(F.lit(0.0))
            .alias("stickiness"),
        )
    )


MAPE_LAG_DAYS = 7  # seasonal-naive: day d forecast by day d-7


def _daily_type_counts(events: DataFrame) -> DataFrame:
    """(event_type, day, c): event counts per type and epoch day — one
    scan reduced map-side to (type, day) cells."""
    return (
        events.select("event_type", _epoch_us("ts").alias("_us"))
        .select("event_type", F.expr("_us div 86400000000").alias("day"))
        .groupBy("event_type", "day")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )


def _dense_daily(daily: DataFrame) -> DataFrame:
    """``daily`` on the dense calendar grid: every type × every day of
    the global span (a sequence-explode over broadcast 1-row bounds),
    quiet days as explicit zeros — the series stays calendar-bounded,
    never corpus-sized."""
    bounds = daily.agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    grid = (
        daily.select("event_type")
        .distinct()
        .crossJoin(F.broadcast(bounds))
        .select("event_type", F.explode(F.sequence("d0", "d1")).alias("day"))
    )
    return grid.join(daily, ["event_type", "day"], "left").select(
        "event_type", "day", F.coalesce("c", F.lit(0)).alias("c")
    )


def event_seasonal_naive_mape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast-baseline evaluation: MAPE (and bias) of the
    seasonal-naive predictor — tomorrow looks like the same weekday
    last week — over the dense daily count series per event type. Any
    real forecasting model must beat this number; reporting it per
    type is the standard pre-model sanity the revenue-forecast query
    (forecast_revenue_change) assumes.

    Exactness: each scored day's |actual − lag7| / actual is an exact
    half-up micro leaf (counts are integers; zero-actual days are
    excluded from MAPE, counted in n_zero_actual); the mean is an
    integer division over the leaf sum. Bias keeps the sign with the
    signed half-away split.

    Scale: same shape as event_cusum_changepoint — one scan, (type,
    day) partial aggregate, the lag runs over the calendar-bounded
    dense grid."""
    events = load_table(spark, sf_dir, "events")
    dense = _dense_daily(_daily_type_counts(events))
    w = Window.partitionBy("event_type").orderBy("day")
    scored = dense.withColumn(
        "pred", F.lag("c", MAPE_LAG_DAYS).over(w)
    ).where(F.col("pred").isNotNull())
    leaves = scored.select(
        "event_type",
        "c",
        "pred",
        F.when(
            F.col("c") > 0,
            F.expr(half_up("abs(c - pred) * 1000000", "c")),
        ).alias("ape_micro"),
        (F.col("pred") - F.col("c")).alias("err"),
    )
    return leaves.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days_scored"),
        F.sum(F.when(F.col("c") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_zero_actual"),
        (
            F.expr(half_up("sum(ape_micro)", "count(ape_micro)"))
            / F.lit(1e6)
        ).alias("mape"),
        (
            F.expr(half_up_signed("sum(err) * 1000000", "count(1)"))
            / F.lit(1e6)
        ).alias("mean_bias"),
    )


CUPED_PRE_DAYS = 15  # first 15 corpus days = pre-experiment covariate


def experiment_cuped_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED-adjusted experiment readout (the industry-standard
    variance-reduction companion to experiment_srm_check): per user,
    X = pre-period value total (first CUPED_PRE_DAYS corpus days) and
    Y = post-period total; θ = cov(X,Y)/var(X) pooled over all users;
    each arm reports its raw and adjusted mean Ȳ − θ(X̄_arm − X̄).
    Users absent from a period contribute an exact 0, as in practice.

    Exactness: θ's numerator n·Sxy − Sx·Sy and denominator n·Sxx − Sx²
    are exact integers on DECIMAL(38,0)/HUGEINT (per-user products
    pass 63 bits); θ, the pooled and per-arm means, and the adjustment
    term are SIGNED half-away micro divisions (sign split, since
    `div`/`//` truncate toward zero and the unsigned half-up form
    would drift to half-toward-+inf on negative value sums);
    all-equal-X degenerates to θ = 0, not a division error.

    Scale: one scan → |users| aggregate → one 5-number pooled moment
    row + a 2-row arm rollup; the moment row broadcasts back."""
    from ..functions.hashing import h60

    events = load_table(spark, sf_dir, "events")
    days = events.select(
        "user_id",
        F.expr("cast(round(value * 1000000) as bigint)").alias("vq"),
        _epoch_us("ts").alias("_us"),
    ).select("user_id", "vq", F.expr("_us div 86400000000").alias("day"))
    bounds = days.agg(F.min("day").alias("d0"))
    per_user = (
        days.crossJoin(F.broadcast(bounds))
        .groupBy("user_id")
        .agg(
            F.sum(
                F.when(
                    F.col("day") < F.col("d0") + CUPED_PRE_DAYS, F.col("vq")
                ).otherwise(F.lit(0))
            ).alias("x"),
            F.sum(
                F.when(
                    F.col("day") >= F.col("d0") + CUPED_PRE_DAYS, F.col("vq")
                ).otherwise(F.lit(0))
            ).alias("y"),
        )
        .select(
            (
                h60(F.concat(F.lit("exp1:"), F.col("user_id").cast("string")))
                % 2
            )
            .cast("int")
            .alias("arm"),
            "x",
            "y",
        )
    )
    dec = "decimal(38,0)"
    pooled = per_user.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.expr(f"cast(x as {dec}) * x")).alias("sxx"),
        F.sum(F.expr(f"cast(x as {dec}) * y")).alias("sxy"),
    )
    theta = (
        pooled.crossJoin(
            F.broadcast(per_user.agg(F.sum("y").alias("sy_num")))
        )
        .select(
            F.expr(
                f"case when n * sxx - cast(sx as {dec}) * sx = 0"
                " then cast(0 as bigint) else cast("
                + half_up_signed(
                    f"(n * sxy - cast(sx as {dec}) * sy_num) * 1000000",
                    f"(n * sxx - cast(sx as {dec}) * sx)",
                )
                + " as bigint) end"
            ).alias("theta_micro"),
            # signed half-away mean: x sums carry no sign contract
            F.expr(half_up_signed("sx", "n")).alias("xbar_micro"),
        )
    )
    per_arm = per_user.groupBy("arm").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum("x").alias("sx_a"),
        F.sum("y").alias("sy_a"),
    )
    return (
        per_arm.crossJoin(F.broadcast(theta))
        .select(
            "arm",
            "n_users",
            # signed half-away arm means (value sums can be negative)
            F.expr(half_up_signed("sy_a", "n_users")).alias("_ybar"),
            F.expr(half_up_signed("sx_a", "n_users")).alias("_xbar_a"),
            "theta_micro",
            "xbar_micro",
        )
        .select(
            "arm",
            "n_users",
            (F.col("_ybar") / F.lit(1e6)).alias("raw_mean"),
            (
                (
                    F.col("_ybar")
                    - F.expr(
                        half_up_signed(
                            "theta_micro * (_xbar_a - xbar_micro)", "1000000"
                        )
                    )
                )
                / F.lit(1e6)
            ).alias("adjusted_mean"),
            (F.col("theta_micro") / F.lit(1e6)).alias("theta"),
        )
    )


def event_dispersion_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fisher dispersion index (variance-to-mean ratio of the DAILY
    count series) per event type: D ≈ 1 under a homogeneous Poisson
    stream, D ≫ 1 flags bursty/automated types, D ≪ 1 suspiciously
    regular ones — the burstiness triage beside the CUSUM changepoint
    (where) and EWMA spikes (which events). Quiet days enter as
    explicit zeros via the same sequence-explode day grid as
    event_cusum_changepoint, or D is biased up.

    Exactness: with S = Σx and Q = Σx² over n days, the sample
    variance-to-mean is (n·Q − S²)/((n−1)·S) — an exact integer
    rational; the 1e6-scaled numerator exceeds 63 bits at scale, so
    the half-up micro division rides DECIMAL(38,0)/HUGEINT like the
    chi² leaves. One scan → (type, day) partial aggregate → |types|
    rows."""
    events = load_table(spark, sf_dir, "events")
    dense = _dense_daily(_daily_type_counts(events))
    moments = dense.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum("c").alias("s"),
        F.sum(F.col("c") * F.col("c")).alias("q"),
    )
    return moments.select(
        "event_type",
        "n_days",
        F.col("s").alias("n_events"),
        (
            F.expr(half_up("s * 1000000", "n_days"))
            / F.lit(1e6)
        ).alias("daily_mean"),
        (
            # one observed day has no sample variance: dispersion := 0
            # (r08 single-row sweep; Spark ANSI crashes on the (n−1)=0
            # division where DuckDB returns NULL)
            F.expr(
                "CASE WHEN n_days <= 1 THEN 0 ELSE "
                + half_up(
                    "(cast(n_days as decimal(19,0)) * q"
                    " - cast(s as decimal(19,0)) * s) * 1000000",
                    "(n_days - 1) * cast(s as decimal(19,0))",
                )
                + " END"
            )
            / F.lit(1e6)
        ).alias("dispersion"),
    )


HAZARD_CENSOR_DAYS = 7  # users active this close to corpus end are censored


def user_hazard_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete-time churn hazard curve: for each lifetime age a (days
    since a user's first event), the share of still-at-risk users whose
    LAST event fell on that age — the per-interval Kaplan–Meier hazard
    d_a/n_a, the retention statistic product/LTV models consume. Users
    whose last activity is within HAZARD_CENSOR_DAYS of the corpus end
    are right-censored: they stay in the risk set up to their observed
    age but never count as churned (they may still be active).

    Exactness: everything is integer counts off one per-user
    (first_day, last_day) aggregate; the risk set is a suffix sum over
    the bounded age grid and the hazard is the established half-up
    micro division — no survival-probability product, so no float
    compounding anywhere.

    Scale: one scan → |users| aggregate → |ages| grid (bounded by the
    calendar span, not the corpus; the suffix-sum window runs over that
    grid only)."""
    events = load_table(spark, sf_dir, "events")
    per_user = (
        events.select("user_id", _epoch_us("ts").alias("_us"))
        .select("user_id", F.expr("_us div 86400000000").alias("day"))
        .groupBy("user_id")
        .agg(F.min("day").alias("first_day"), F.max("day").alias("last_day"))
    )
    bounds = per_user.agg(F.max("last_day").alias("gmax"))
    aged = per_user.crossJoin(F.broadcast(bounds)).select(
        (F.col("last_day") - F.col("first_day")).alias("age"),
        (
            F.col("last_day") > F.col("gmax") - HAZARD_CENSOR_DAYS
        ).alias("censored"),
    )
    # per-age endings, split by censoring; at_risk(a) = Σ_{a'≥a} ended
    per_age = aged.groupBy("age").agg(
        F.count(F.lit(1)).alias("n_ended"),
        F.sum(F.when(~F.col("censored"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_churned"),
    )
    w_suffix = Window.orderBy(F.col("age").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )  # |ages| rows — calendar-bounded, never a data-sized window
    return (
        per_age.withColumn("n_at_risk", F.sum("n_ended").over(w_suffix))
        .select(
            "age",
            "n_at_risk",
            "n_churned",
            (
                F.expr(half_up("n_churned * 1000000", "n_at_risk"))
                / F.lit(1e6)
            ).alias("hazard"),
        )
    )


def event_markov_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov next-event evaluation: learn the transition
    counts (prev_type → next_type) over every user's (ts, event_id)-
    ordered walk, predict argmax-next per previous type (ties broken
    lexicographically), and report resubstitution accuracy per previous
    type — the baseline any sequence model must beat, and a pure
    count-arithmetic report both engines agree on exactly.

    Scale: one shuffle on user_id for the lag, one |types²|-key
    aggregate (event-type vocabularies are small by construction), and
    the argmax is a window over that bounded frame."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    trans = (
        events.select(
            "user_id",
            F.lag("event_type").over(w).alias("prev_type"),
            F.col("event_type").alias("next_type"),
        )
        .where(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "next_type")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w_best = Window.partitionBy("prev_type").orderBy(
        F.col("c").desc(), "next_type"
    )
    best = trans.withColumn("rn", F.row_number().over(w_best)).where(
        F.col("rn") == 1
    )
    totals = trans.groupBy("prev_type").agg(
        F.sum("c").alias("n_transitions")
    )
    return (
        best.join(totals, "prev_type")
        .select(
            "prev_type",
            F.col("next_type").alias("pred_next"),
            "n_transitions",
            F.col("c").alias("n_correct"),
            (
                F.expr(half_up("c * 1000000", "n_transitions"))
                / F.lit(1e6)
            ).alias("accuracy"),
        )
    )


def user_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention triangle: users cohorted by the week of their
    first event; n_users counts cohort members active k weeks later.
    Two shuffles (per-user min, then per-cell distinct count) — both on
    keys that scale with users, not events."""
    events = load_table(spark, sf_dir, "events")
    first = events.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    activity = events.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("week")
    ).distinct()
    offset = (F.datediff("week", "cohort_week") / 7).cast("int")
    return (
        activity.join(first, "user_id")
        .groupBy("cohort_week", offset.alias("week_offset"))
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


def event_hourly_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series regularization: per event_type, an hourly grid from
    the corpus min to max hour with zero-filled count/sum — the
    gap-fill a monitoring or feature pipeline needs before windowed
    models (missing hours must exist as zeros).

    The grid is time-bounded, not data-bounded: |hours| × |types| rows
    regardless of corpus size (sequence explode over one aggregate
    row), so at 100 TB the only data-sized work is the one hourly
    pre-aggregation shuffle; the grid join is broadcast-sized."""
    events = load_table(spark, sf_dir, "events")
    bounds = events.agg(
        F.date_trunc("hour", F.min("ts")).alias("h0"),
        F.date_trunc("hour", F.max("ts")).alias("h1"),
    )
    hours = bounds.select(
        F.explode(
            F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))
        ).alias("hour")
    )
    types = events.select("event_type").distinct()
    hourly = events.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        # exact micro-unit sum: a double SUM here is partition-order-
        # dependent in the last ulp and flipped a .xx5 cent boundary
        # at the sf0.4 sweep
        F.sum(F.round(F.col("value") * 1e6).cast("bigint")).alias("sv"),
    )
    return (
        hours.crossJoin(F.broadcast(types))
        .join(hourly, ["hour", "event_type"], "left")
        .select(
            "hour",
            "event_type",
            F.coalesce("n", F.lit(0)).alias("n_events"),
            F.expr(cents("coalesce(sv, cast(0 as bigint))")).alias("sum_value"),
        )
    )


def user_type_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 interval build: collapse each user's event stream into
    validity intervals of constant event_type (gaps-and-islands), with
    valid_to = next interval's start (NULL while current) — the
    slowly-changing-dimension history table a warehouse derives from a
    change feed. Two analytic passes over one shuffle on user_id; no
    self-joins."""
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = events.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.when(
            F.lag("event_type").over(w).isNull()
            | (F.lag("event_type").over(w) != F.col("event_type")),
            1,
        )
        .otherwise(0)
        .alias("chg"),
    )
    runs = flagged.withColumn(
        "run_id",
        F.sum("chg").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    intervals = runs.groupBy("user_id", "run_id").agg(
        # every row in a run shares one event_type by construction;
        # max() keeps the aggregate order-insensitive
        F.max("event_type").alias("event_type"),
        F.min("ts").alias("valid_from"),
        F.count(F.lit(1)).alias("n_events"),
    )
    w2 = Window.partitionBy("user_id").orderBy("valid_from")
    return intervals.select(
        "user_id",
        "event_type",
        "valid_from",
        F.lead("valid_from").over(w2).alias("valid_to"),
        "n_events",
    )


def value_equidepth_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth histogram: ntile(10) splits each event_type's values
    into ten equal-count buckets with exact bounds — the profile that
    drives skew-aware partitioning and bucketed sampling choices. One
    shuffle on event_type; the sort is per-partition within the window.
    NULL values are excluded at the scan (r08): engines disagree on
    NULL sort placement (Spark FIRST / DuckDB LAST), which would shift
    every decile boundary."""
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events").where(
        F.col("value").isNotNull()
    )
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    binned = events.select(
        "event_type",
        "value",
        F.ntile(10).over(w).alias("decile"),
    )
    return binned.groupBy("event_type", "decile").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.min("value"), 2).alias("lo"),
        F.round(F.max("value"), 2).alias("hi"),
    )


def user_value_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Gini coefficient of per-user event value — the scalar
    inequality summary user_value_concentration's Lorenz bands plot:
    G = (2·Σ rank·x − (n+1)·Σx) / (n·Σx) with ranks ascending. Ranks
    come from ``exact_global_rank`` (banded two-phase — no
    single-partition sort), and tied values contribute the same sum
    under any within-tie order, so the deterministic tiebreak only
    needs to exist, not to match an external convention. All moments
    are decimal(38,0)-exact (rank·cents products overflow BIGINT at
    corpus scale); the numerator is signed when negative user totals
    exist, so the micro rounding is the half-away-from-zero sign
    CASE."""
    events = load_table(spark, sf_dir, "events")
    users = events.groupBy("user_id").agg(
        F.sum(F.expr("cast(round(value * 100) as bigint)")).alias("v_cents")
    )
    ranked = exact_global_rank(users, "v_cents", "user_id", "rnk")
    agg = ranked.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum(F.col("v_cents").cast("decimal(38,0)")).alias("s"),
        F.sum(
            F.expr(
                "cast(rnk as decimal(38,0)) * cast(v_cents as decimal(38,0))"
            )
        ).alias("si"),
    )
    return agg.select(
        "n_users",
        F.col("s").cast("bigint").alias("total_cents"),
        F.expr(
            "CASE WHEN n_users * s <= 0 THEN NULL ELSE "
            + half_up_signed("(2 * si - (n_users + 1) * s) * 1000000", "n_users * s")
            + " END / 1000000.0D"
        ).alias("gini"),
    )


def customer_rfm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation — the classic lifecycle-marketing cut: per
    customer, Recency (days from last order to the corpus's latest
    order), Frequency (order count), Monetary (exact lifetime cents),
    each scored 1–5 by exact global equi-depth rank
    (``score = 1 + 5·(rank−1) div n``; recency inverted so 5 = most
    recent) and concatenated into the familiar 'RFM' cell label.

    Ranks come from ``exact_global_rank`` — the two-phase banded
    form, so the 100 TB plan never funnels the customer dimension
    through one sort task. All arithmetic is integer (days, counts,
    micro-unit cents): the oracle's plain ROW_NUMBER over the same
    total order must agree bit-for-bit."""
    orders = load_table(spark, sf_dir, "orders")
    corpus_max = orders.agg(F.max("o_orderdate").alias("corpus_max"))
    per_cust = (
        orders.groupBy("o_custkey")
        .agg(
            F.max("o_orderdate").alias("last_order"),
            F.count(F.lit(1)).cast("bigint").alias("frequency"),
            F.sum(
                F.expr("cast(round(o_totalprice * 1000000) as bigint)")
            ).alias("micro"),
        )
        .crossJoin(F.broadcast(corpus_max))
        .select(
            "o_custkey",
            F.datediff(F.to_date("corpus_max"), F.to_date("last_order"))
            .cast("bigint")
            .alias("recency_days"),
            "frequency",
            F.expr(half_up("micro", "10000")).alias("monetary_cents"),
        )
    )
    # each exact_global_rank re-references its input ~4× (extremes,
    # in-band rank, band sizes); three chained calls without a
    # materialization barrier would re-aggregate orders ~30× (measured
    # 12 s → 2 s at sf0.1). per_cust is |customers| rows — persist is
    # the intended cluster answer too (MEMORY_AND_DISK, spillable).
    per_cust = per_cust.persist()
    n_frame = per_cust.agg(F.count(F.lit(1)).alias("n"))
    ranked = exact_global_rank(
        per_cust, "recency_days", "o_custkey", "r_rank"
    ).persist()
    ranked = exact_global_rank(ranked, "frequency", "o_custkey", "f_rank").persist()
    ranked = exact_global_rank(
        ranked, "monetary_cents", "o_custkey", "m_rank"
    )
    scored = ranked.crossJoin(F.broadcast(n_frame)).select(
        "o_custkey",
        "recency_days",
        "frequency",
        "monetary_cents",
        F.expr("5 - ((r_rank - 1) * 5) div n").cast("int").alias("r_score"),
        F.expr("1 + ((f_rank - 1) * 5) div n").cast("int").alias("f_score"),
        F.expr("1 + ((m_rank - 1) * 5) div n").cast("int").alias("m_score"),
    )
    return scored.withColumn(
        "rfm_cell",
        F.concat_ws(
            "", F.col("r_score"), F.col("f_score"), F.col("m_score")
        ),
    )


BOT_MIN_GAPS = 5


def user_bot_periodicity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bot-likeness signal: the share of a user's inter-event gaps that
    equal their single most common gap (bucketed to whole seconds).
    Organic users have dispersed gaps; schedulers and replay bots emit
    near-identical ones, so a high modal share flags automation — the
    variance-free periodicity heuristic (entropy/variance need
    float math; this is exact integers end to end).

    One user-partitioned lag window (same shuffle as
    ``user_event_gaps``), a (user, gap) count, and a per-user argmax
    via max_by with a deterministic smallest-gap tie-break."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = (
        events.withColumn(
            "gap_us", _epoch_us("ts") - _epoch_us(F.lag("ts").over(w))
        )
        .where(F.col("gap_us").isNotNull())
        .select("user_id", F.expr("gap_us div 1000000").alias("gap_s"))
    )
    per_gap = gaps.groupBy("user_id", "gap_s").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    return (
        per_gap.groupBy("user_id")
        .agg(
            F.sum("c").cast("bigint").alias("n_gaps"),
            F.count(F.lit(1)).cast("bigint").alias("n_distinct_gaps"),
            F.max(F.struct(F.col("c"), (-F.col("gap_s")).alias("ng"))).alias(
                "top"
            ),
        )
        .where(F.col("n_gaps") >= BOT_MIN_GAPS)
        .select(
            "user_id",
            "n_gaps",
            "n_distinct_gaps",
            (-F.col("top.ng")).cast("bigint").alias("modal_gap_s"),
            F.col("top.c").alias("modal_n"),
            F.expr(half_up("1000000 * top.c", "n_gaps")).alias(
                "periodicity_micro"
            ),
        )
    )


def value_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization report — the outlier-clipping preprocessor robust
    training statistics start from: exact 1st/99th percentile bounds
    (discrete: value at rank ⌈q·n⌉ in (value, event_id) order) and the
    corpus totals before/after clipping, all in integer micro-units.

    The percentile ranks come from ``exact_global_rank`` (banded
    two-phase row-number — no single-partition sort of the fact
    table); the two bound rows broadcast back into one clipping scan.
    approx_percentile is the classic shortcut, but its results aren't
    reproducible across engines or cluster layouts — a winsorized
    training corpus must clip at the SAME values everywhere."""
    events = load_table(spark, sf_dir, "events")
    # a NULL measurement is not a measurement: excluded explicitly, or
    # NULLs land in the rank frame where the engines ORDER them
    # differently (Spark NULLS FIRST asc, DuckDB NULLS LAST) and the
    # percentile bounds diverge (NULL-bearing-corpus sweep, round 7)
    base = events.where(F.col("value").isNotNull()).select(
        "event_id", F.expr("cast(round(value * 1000000) as bigint)").alias("m")
    )
    ranked = exact_global_rank(base, "m", "event_id", "rnk")
    n_frame = base.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    bounds = (
        ranked.crossJoin(F.broadcast(n_frame))
        .where(
            (F.col("rnk") == F.expr("(n + 99) div 100"))
            | (F.col("rnk") == F.expr("(99 * n + 99) div 100"))
        )
        .groupBy()
        .agg(
            F.min("m").alias("lo_micro"),
            F.max("m").alias("hi_micro"),
        )
    )
    clipped = base.crossJoin(F.broadcast(bounds)).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.first("lo_micro").alias("lo_micro"),
        F.first("hi_micro").alias("hi_micro"),
        F.sum((F.col("m") < F.col("lo_micro")).cast("bigint")).alias(
            "n_clipped_lo"
        ),
        F.sum((F.col("m") > F.col("hi_micro")).cast("bigint")).alias(
            "n_clipped_hi"
        ),
        F.sum("m").alias("sum_micro"),
        F.sum(
            F.greatest(F.col("lo_micro"), F.least(F.col("hi_micro"), F.col("m")))
        ).alias("winsorized_sum_micro"),
    )
    return clipped


def forecast_revenue_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 pattern (shipdate year shifted to the fixture's 1995-
    2001 range): the what-if revenue delta from dropping small-quantity
    discounts. The textbook scan-dominated aggregate — every predicate
    pushes to the parquet scan, no join, no shuffle beyond the final
    1-row reduce; at 100 TB this is I/O-bound and partition-prunable
    on shipdate."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1997-01-01"))
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.expr(
                cents(sum_m6("l_extendedprice * l_discount"))
            ).alias("revenue_increase"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


def grouping_sets_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS beyond rollup/cube (which only express the
    power-set family): revenue by nation, by order priority, and the
    grand total in ONE aggregate pass, with grouping_id disambiguating
    the all-null rows. Expand + single shuffle — the same plan family
    Spark gives rollup/cube."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("gs_orders")
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("gs_customer")
    load_table(spark, sf_dir, "nation").createOrReplaceTempView("gs_nation")
    return spark.sql(
        f"""
        SELECT n_name AS nation_name,
               o_orderpriority,
               CAST(grouping_id(n_name, o_orderpriority) AS INT) AS gid,
               COUNT(*) AS n_orders,
               {cents("SUM(CAST(ROUND(o_totalprice * 1000000) AS DECIMAL(38,0)))")}
                   AS revenue
        FROM gs_orders
        JOIN gs_customer ON o_custkey = c_custkey
        JOIN gs_nation ON c_nationkey = n_nationkey
        GROUP BY GROUPING SETS ((n_name), (o_orderpriority), ())
        """
    )


def orders_monthly_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue growth: the KPI trend every reporting
    layer derives from the fact table. One aggregate pass to the
    months-cardinality frame; the ``lag`` window runs over that tiny
    frame only (never the fact). Revenue accumulates as exact cent
    BIGINTs and the growth rate is half-up micro-unit integer division
    extended to negative deltas (round half-away-from-zero) — Spark's
    ``div`` and DuckDB's ``//`` both truncate toward zero, so the
    signed formula is applied to |Δ| and re-signed, keeping the two
    engines bit-identical on shrinking months too."""
    orders = load_table(spark, sf_dir, "orders")
    monthly = (
        orders.groupBy(
            F.year("o_orderdate").alias("year"),
            F.month("o_orderdate").alias("month"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias(
                "revenue_cents"
            ),
        )
    )
    w = Window.orderBy("year", "month")
    return (
        monthly.withColumn(
            "prev_cents", F.lag("revenue_cents").over(w)
        )
        .withColumn(
            "growth_micro",
            F.when(F.col("prev_cents").isNull(), F.lit(None).cast("bigint")).otherwise(
                F.expr(
                    half_up_signed(
                        "(revenue_cents - prev_cents) * 1000000", "prev_cents"
                    )
                )
            ),
        )
        .select(
            "year", "month", "n_orders", "revenue_cents", "prev_cents",
            "growth_micro",
        )
    )


UPSERT_MOD, UPSERT_REM = 101, 5
UPSERT_KEY_OFFSET = 20_000_000
UPSERT_BUMP_CENTS = 500
# COW MERGE partition count: key-hash partitioning with MERGE_NPART =
# UPSERT_MOD makes the CDC batch (keys ≡ UPSERT_REM mod 101, inserts
# offset by 20M ≡ 81 mod 101) land in EXACTLY two partitions — the
# dramatic case for copy-on-write planning: 99 of 101 partitions are
# provably untouched and never read
MERGE_NPART = UPSERT_MOD


def merge_touched_partitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Copy-on-write MERGE planning — the gated batch twin of
    ``streaming/pipeline.py::merge_upsert_partitioned_writer``: given
    the same deterministic CDC batch as ``order_status_upsert`` and an
    orders base hash-partitioned on the merge key (o_orderkey %
    MERGE_NPART), emit the plan a Delta/Iceberg MERGE compiles to —
    per TOUCHED partition, how many batch rows land there, how many
    split update vs insert, how many state rows must be read back and
    rewritten, and the read-back amplification (state rows read per
    batch row, exact half-up micro). ``untouched_parts`` carries the
    pruning claim: partitions the plan proves it never opens.

    Scale: touched-partition discovery is a groupBy over the batch
    (batch-sized, not table-sized); state row counts come from one
    aggregation of the base pre-filtered to the touched partition ids,
    so the plan reads exactly the partitions MERGE would. The 1-row
    touched-count frame broadcasts onto the result (bounded by
    construction)."""
    base = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        (F.col("o_orderkey") % MERGE_NPART).alias("part_id"),
    )
    matched = base.filter(
        F.col("o_orderkey") % UPSERT_MOD == UPSERT_REM
    ).select("o_orderkey")
    batch = matched.select(
        "o_orderkey", F.lit("update").alias("op")
    ).unionByName(
        matched.select(
            (F.col("o_orderkey") + UPSERT_KEY_OFFSET).alias("o_orderkey"),
            F.lit("insert").alias("op"),
        )
    )
    batch_parts = (
        batch.withColumn(
            "part_id", F.col("o_orderkey") % MERGE_NPART
        )
        .groupBy("part_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("batch_rows"),
            F.sum((F.col("op") == "update").cast("bigint"))
            .cast("bigint")
            .alias("n_updates"),
            F.sum((F.col("op") == "insert").cast("bigint"))
            .cast("bigint")
            .alias("n_inserts"),
        )
    )
    state_parts = base.groupBy("part_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("state_rows_read")
    )
    touched = batch_parts.join(state_parts, "part_id", "left").select(
        "part_id",
        "batch_rows",
        "n_updates",
        "n_inserts",
        F.coalesce("state_rows_read", F.lit(0)).alias("state_rows_read"),
        (
            F.coalesce("state_rows_read", F.lit(0)) + F.col("n_inserts")
        ).alias("rows_after_merge"),
        F.expr(
            half_up("coalesce(state_rows_read, 0) * 1000000", "batch_rows")
        ).alias("readback_amp_micro"),
    )
    n_touched = touched.agg(
        F.count(F.lit(1)).cast("bigint").alias("_nt")
    )
    return (
        touched.crossJoin(F.broadcast(n_touched))
        .select(
            "part_id",
            "batch_rows",
            "n_updates",
            "n_inserts",
            "state_rows_read",
            "rows_after_merge",
            "readback_amp_micro",
            (F.lit(MERGE_NPART) - F.col("_nt"))
            .cast("bigint")
            .alias("untouched_parts"),
        )
        .orderBy("part_id")
    )


MV_SPLIT_DATE = "2001-01-01"


def mv_incremental_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance: the revenue MV per
    (priority, month) is refreshed by aggregating ONLY the delta
    partition (orders on/after MV_SPLIT_DATE) and monoid-merging it
    with the frozen base aggregate — then checked cell-by-cell against
    a full recompute (``consistent`` must be true everywhere; emitting
    the check makes the maintenance identity part of the graded
    result, not a comment).

    The MV carries (count, exact-cent sum) rather than an average —
    partial averages don't merge; sum+count do, and ``avg_cents`` is
    derived at read time by half-up integer division. At 100 TB this
    is the difference between re-scanning the table per refresh and
    scanning yesterday's partition: base cells are read back from the
    MV store (here: the base aggregate frame), the delta aggregates
    map-side, and the merge shuffles only group cells.
    """
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority",
        (F.year("o_orderdate") * 100 + F.month("o_orderdate")).alias("month"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        (F.col("o_orderdate") < MV_SPLIT_DATE).alias("is_base"),
    )

    def agg(df: DataFrame) -> DataFrame:
        return df.groupBy("o_orderpriority", "month").agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("cents").alias("total_cents"),
        )

    base_mv = agg(orders.where(F.col("is_base")))
    delta = agg(orders.where(~F.col("is_base")))
    merged = (
        base_mv.unionByName(delta)
        .groupBy("o_orderpriority", "month")
        .agg(
            F.sum("n_orders").alias("n_orders"),
            F.sum("total_cents").alias("total_cents"),
        )
    )
    full = agg(orders).select(
        "o_orderpriority",
        "month",
        F.col("n_orders").alias("f_n"),
        F.col("total_cents").alias("f_cents"),
    )
    return merged.join(full, ["o_orderpriority", "month"], "full_outer").select(
        "o_orderpriority",
        "month",
        "n_orders",
        "total_cents",
        F.expr(half_up("total_cents", "n_orders")).alias("avg_cents"),
        (
            F.col("n_orders").eqNullSafe(F.col("f_n"))
            & F.col("total_cents").eqNullSafe(F.col("f_cents"))
        ).alias("consistent"),
    )


def order_status_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO semantics as pure relational lineage: a deterministic
    CDC batch (matched keys get status 'X' and a price bump; a
    synthetic set of brand-new keys inserts as status 'N') merged into
    the orders base via ONE full-outer join on the key — update wins
    where matched, base survives where not, inserts appear where only
    the batch has the key. Emitted as the post-merge per-status
    summary so the result stays audit-sized.

    At scale this is the lakehouse upsert shape: the join shuffles on
    the merge key exactly once, and a real table format (Delta/Iceberg)
    would replace only the touched files — the plan here is the
    engine-side semantics those formats compile MERGE into."""
    base = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    matched = base.filter(
        F.col("o_orderkey") % UPSERT_MOD == UPSERT_REM
    ).select(
        "o_orderkey",
        F.lit("X").alias("u_status"),
        (F.col("cents") + UPSERT_BUMP_CENTS).alias("u_cents"),
    )
    inserts = matched.select(
        (F.col("o_orderkey") + UPSERT_KEY_OFFSET).alias("o_orderkey"),
        F.lit("N").alias("u_status"),
        F.col("u_cents").alias("u_cents"),
    )
    updates = matched.unionByName(inserts)
    merged = base.join(updates, "o_orderkey", "full_outer").select(
        F.coalesce("u_status", "o_orderstatus").alias("status"),
        F.coalesce("u_cents", "cents").alias("cents"),
    )
    return merged.groupBy("status").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("cents").alias("total_cents"),
    )


# Benford first-digit expectation log10(1+1/d) in half-up micro units —
# compile-time constants inlined identically in both engines, so no
# runtime log() (whose last-ulp behavior differs across libm builds)
BENFORD_MICRO = {
    1: 301030, 2: 176091, 3: 124939, 4: 96910, 5: 79181,
    6: 66947, 7: 57992, 8: 51153, 9: 45757,
}


def event_value_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-significant-digit screen over positive event
    values — the classic fabricated-data / unit-mixing detector: a
    value column that is genuinely multiplicative spans enough orders
    of magnitude to follow log10(1+1/d); a capped, defaulted, or
    synthetic one visibly does not. Reports per digit the exact count,
    observed share, the Benford expectation, and the chi2 drift
    contribution n·(p−e)²/e — all exact micro integers; the first
    digit comes from the micro-quantized value's decimal string, never
    a runtime log10.

    Scale: one scan, one 9-key map-side-combinable aggregate, one
    1-row total broadcast."""
    events = load_table(spark, sf_dir, "events")
    digits = events.select(
        F.expr("cast(round(value * 1000000) as bigint)").alias("vq")
    ).where(F.col("vq") > 0).select(
        F.expr("cast(substring(cast(vq as string), 1, 1) as bigint)").alias(
            "digit"
        )
    )
    # one scan: the 9-row digit histogram persists and the total rolls
    # up from it instead of re-scanning events
    per = digits.groupBy("digit").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    ).persist()
    tot = per.agg(F.sum("n").cast("bigint").alias("total"))
    exp_case = "CASE digit " + " ".join(
        f"WHEN {d} THEN {m}" for d, m in BENFORD_MICRO.items()
    ) + " END"
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "digit",
            "n",
            F.expr(half_up("n * 1000000", "total")).alias("share_micro"),
            F.expr(f"cast({exp_case} as bigint)").alias("benford_micro"),
            "total",
        )
        .select(
            "digit",
            "n",
            "share_micro",
            "benford_micro",
            F.expr(
                "cast("
                + half_up(
                    "cast(total as decimal(38,0))"
                    " * (share_micro - benford_micro)"
                    " * (share_micro - benford_micro)",
                    "cast(benford_micro as decimal(38,0))",
                )
                + " as bigint)"
            ).alias("chi2_micro"),
        )
        .orderBy("digit")
    )


def order_backlog_timeseries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly open-order backlog: an order opens in its order month
    and closes in the month its LAST line ships (orders with no lines
    stay open), and the backlog at month m is cumulative opens minus
    cumulative closes — the classic +1/−1 interval-count reduced to
    month grain. This is the ops dashboard series behind 'are we
    shipping faster than we book'.

    Scale: per-order close month is one map-side-combinable groupBy of
    lineitem; opens are a groupBy of orders; everything downstream
    (full-outer month merge + running sum) runs on the |year-months|
    calendar frame — the unpartitioned window is bounded by the
    calendar, never the fact tables."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    opens = (
        orders.select(
            F.expr(
                "CAST(year(o_orderdate) * 100 + month(o_orderdate)"
                " AS BIGINT)"
            ).alias("month")
        )
        .groupBy("month")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_opened"))
    )
    closes = (
        li.groupBy("l_orderkey")
        .agg(F.max("l_shipdate").alias("last_ship"))
        .select(
            F.expr(
                "CAST(year(last_ship) * 100 + month(last_ship) AS BIGINT)"
            ).alias("month")
        )
        .groupBy("month")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_closed"))
    )
    months = opens.join(closes, "month", "full_outer").select(
        "month",
        F.coalesce("n_opened", F.lit(0)).cast("bigint").alias("n_opened"),
        F.coalesce("n_closed", F.lit(0)).cast("bigint").alias("n_closed"),
    )
    w = Window.orderBy("month").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return months.select(
        "month",
        "n_opened",
        "n_closed",
        F.sum(F.col("n_opened") - F.col("n_closed"))
        .over(w)
        .cast("bigint")
        .alias("backlog"),
    ).orderBy("month")


def orders_priority_mix_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Priority-mix drift by order year: each (year, priority) cell's
    share of its year vs the priority's all-time share, plus the
    chi2-style drift contribution yt·(p−g)²/g — the monitoring stat
    that flags a quarter where e.g. URGENT orders quietly doubled.
    The same shape as ``text_source_chi2_drift`` applied to the
    orders dimension.

    Scale: three map-side-combinable groupBys over one scan lineage;
    all joins are on year/priority cell frames (dozens of rows, left
    to AQE), and the only broadcast pin is the 1-row grand total.
    Drift math runs on DECIMAL(38,0) — yt·Δµ² exceeds int64 once a
    year holds ~10⁸ orders."""
    o = load_table(spark, sf_dir, "orders").select(
        F.expr("CAST(year(o_orderdate) AS BIGINT)").alias("year"),
        F.col("o_orderpriority").alias("priority"),
    )
    # ONE corpus scan: the (year, priority) cell frame (≤ dozens of
    # rows, persisted) — year totals, priority totals, and the grand
    # total all roll up from it instead of re-scanning orders (the
    # first cut paid 4 scans for a 35-row report)
    cells = (
        o.groupBy("year", "priority")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_orders"))
        .persist()
    )
    yt = cells.groupBy("year").agg(
        F.sum("n_orders").cast("bigint").alias("year_total")
    )
    gp = cells.groupBy("priority").agg(
        F.sum("n_orders").cast("bigint").alias("prio_total")
    )
    tot = cells.agg(
        F.sum("n_orders").cast("bigint").alias("grand_total")
    )
    gshare = gp.crossJoin(F.broadcast(tot)).select(
        "priority",
        F.expr(half_up("prio_total * 1000000", "grand_total")).alias(
            "global_share_micro"
        ),
    )
    return (
        cells.join(yt, "year")
        .join(gshare, "priority")
        .select(
            "year",
            "priority",
            "n_orders",
            F.expr(half_up("n_orders * 1000000", "year_total")).alias(
                "share_micro"
            ),
            "global_share_micro",
            "year_total",
        )
        .select(
            "year",
            "priority",
            "n_orders",
            "share_micro",
            "global_share_micro",
            F.expr(
                "cast("
                + half_up(
                    "cast(year_total as decimal(38,0))"
                    " * (share_micro - global_share_micro)"
                    " * (share_micro - global_share_micro)",
                    "cast(global_share_micro as decimal(38,0))",
                )
                + " as bigint)"
            ).alias("drift_chi2_micro"),
        )
        .orderBy("year", "priority")
    )


def regional_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 pattern — the correlated-MIN supplier-selection shape:
    for every qualifying part, the supplier(s) in one region offering
    the minimum unit price (the schema has no partsupp, so the offer
    book is derived: per (part, supplier) average sale price from
    lineitem). The classic form is a correlated scalar subquery
    ``WHERE cost = (SELECT MIN(cost) ... WHERE partkey = outer)``;
    here it is one aggregation plus a per-part MIN window with an
    equality filter — Catalyst's own decorrelation target.

    Scale shape: the selective part filter and the region filter both
    broadcast onto the lineitem scan BEFORE the (part, supplier)
    aggregation, so the only wide shuffle is over the filtered offer
    frame. Unit price is exact half-up micro-unit integer division
    ((2a+b) div (2b)) — a double AVG would hit the cross-engine ROUND
    boundary this registry eliminates everywhere else."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").where(
        (F.col("p_type") == "ECONOMY") & (F.col("p_size") <= 15)
    )
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    sup_in_region = (
        supplier.join(
            F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey")
        )
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey", "s_name", F.col("n_name").alias("nation_name"))
    )
    offers = (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .join(sup_in_region, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("p_partkey", "p_name", "s_suppkey", "s_name", "nation_name")
        .agg(
            F.sum(
                F.round(F.col("l_extendedprice") * 1e6).cast("bigint")
            ).alias("ext_micro"),
            F.sum(F.round("l_quantity").cast("bigint")).alias("qty"),
        )
        .withColumn(
            "price_micro",
            F.expr(half_up("ext_micro", "qty")),
        )
    )
    w = Window.partitionBy("p_partkey")
    return (
        offers.withColumn("min_micro", F.min("price_micro").over(w))
        .where(F.col("price_micro") == F.col("min_micro"))
        .select(
            "p_partkey",
            "p_name",
            "s_suppkey",
            "s_name",
            "nation_name",
            (F.col("price_micro") / F.lit(1000000.0)).alias("unit_price"),
        )
    )


def valuable_part_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 pattern — share-of-total HAVING with a scalar
    subquery: per-part sales value from one nation's suppliers, kept
    only where the part's value exceeds TWICE the mean per-part value
    (Q11's literal 0.0001·total is a fixed fraction, which inverts
    meaning as the part catalog grows — the mean-relative form keeps
    the selectivity scale-invariant). The threshold compare is pure
    integer arithmetic (v > 2 · (total div n_parts)) so no engine
    ever divides fractionally: no rounding boundary, no overflow from
    multiplying the grand total.

    Scale shape: the nation's supplier keys broadcast onto the
    lineitem scan; the per-part aggregate is the one wide shuffle; the
    grand total is a 1-row aggregate OF THE AGGREGATE (never a second
    fact scan) broadcast back over the part frame."""
    li = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation").where(
        F.col("n_name") == "NATION_7"
    )
    sup = supplier.join(
        F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey")
    ).select("s_suppkey")
    val = (
        li.join(sup, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(F.col("l_partkey").alias("partkey"))
        .agg(
            F.sum(
                F.round(F.col("l_extendedprice") * 1e6).cast("bigint")
            ).alias("v")
        )
    )
    total = val.agg(
        F.expr("2 * (sum(v) div count(*))").alias("threshold")
    )
    return (
        val.join(F.broadcast(total))
        .where(F.col("v") > F.col("threshold"))
        .select(
            "partkey",
            (F.expr(half_up("v", "10000")) / F.lit(100.0)).alias("stock_value"),
        )
    )


def excess_quantity_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 pattern — the nested-IN supplier-qualification chain:
    suppliers who moved MORE THAN HALF the corpus-wide volume of some
    part in a name family (``p_name LIKE 'small%'`` stands in for Q20's
    ``'forest%'``; shipped quantity stands in for availqty, and the
    qualifying share is an eighth — the corpus spreads parts across
    ~100 suppliers, so Q20's literal half selects nobody). The classic
    form is suppkey IN (… partkey IN (…) AND qty > frac·total); here
    the inner IN is a broadcast equi-join, the fraction is the integer
    compare 8·sq > tq, and the outer IN collapses to DISTINCT before
    the supplier join.

    Scale shape: the part-family filter broadcasts onto the scan
    before the (supplier, part) aggregation; the per-part total is a
    window over the already-aggregated frame (cardinality = touched
    part×supplier pairs, not lineitems); qualification emits supplier
    KEYS only, so the final enrichment join is key-distinct-sized."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").where(F.col("p_name").like("small%"))
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    per_pair = (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum(F.round("l_quantity").cast("bigint")).alias("sq"))
    )
    w = Window.partitionBy("l_partkey")
    qualified = (
        per_pair.withColumn("tq", F.sum("sq").over(w))
        .where(8 * F.col("sq") > F.col("tq"))
        .select("l_suppkey")
        .distinct()
    )
    return (
        qualified.join(supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_name", F.col("n_name").alias("nation_name"))
    )


def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: P(next_type | type) for every observed ordered pair —
    the sequence-mining summary behind next-action prediction and
    funnel-anomaly alerts (a transition probability collapsing between
    releases is a regression signal no per-type count shows).

    Probabilities are exact half-up micro-units of c(pair)/c(prefix),
    where the prefix total is the row sum of the matrix — so each row
    provably normalizes to ~1e6. One lag window per user partition
    (the natural event-log partitioning; state is one row), then a
    types²-bounded aggregate — scale-independent output size."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        events.select(
            "user_id",
            F.lag("event_type").over(w).alias("prev_type"),
            F.col("event_type").alias("next_type"),
        )
        .where(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "next_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_transitions"))
    )
    totals = pairs.groupBy("prev_type").agg(
        F.sum("n_transitions").alias("n_from")
    )
    return pairs.join(F.broadcast(totals), "prev_type").select(
        "prev_type",
        "next_type",
        "n_transitions",
        F.expr(half_up("n_transitions * 1000000", "n_from")).alias("p_micro"),
    )


PATH_GAP_MIN = 30  # session gap, minutes
PATH_MAX_EVENTS = 8  # path truncation: analyze the head of the journey
PATH_TOPK = 20


def event_path_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top user-journey paths: the PATH_TOPK most common ordered
    event-type sequences per session (gaps-and-islands sessionization,
    PATH_GAP_MIN-minute gap), paths truncated to their first
    PATH_MAX_EVENTS events — product analytics' "what do users
    actually do" query, and the sequence complement of
    ``event_transition_matrix`` (which sees only adjacent pairs).

    Scale: one lag window per user partition (the event log's natural
    partitioning) for session boundaries, one hash aggregation per
    session collecting a ≤PATH_MAX_EVENTS array (bounded state — the
    truncation is what keeps a 100 TB pathological session from
    building an unbounded string), then a path-keyed count and a
    distributed TakeOrderedAndProject top-k. No global window, no
    self-join."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = PATH_GAP_MIN * 60 * 1_000_000
    sess = events.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.sum(
            F.when(
                (_epoch_us(F.col("ts")) - F.lag(_epoch_us(F.col("ts"))).over(w))
                > gap_us,
                1,
            )
            .otherwise(0)
            .cast("bigint")
        )
        .over(w)
        .alias("sess_id"),
    )
    paths = (
        sess.groupBy("user_id", "sess_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("ts", "event_id", "event_type"))
            ).alias("evs")
        )
        .select(
            F.concat_ws(
                ">",
                F.transform(
                    F.slice("evs", 1, PATH_MAX_EVENTS), lambda e: e.event_type
                ),
            ).alias("path")
        )
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_sessions"))
        .orderBy(F.desc("n_sessions"), F.asc("path"))
        .limit(PATH_TOPK)
    )


LIFT_SCALE = 1_000_000


def event_cooccurrence_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association over event types: for every unordered
    type pair, the users touching both and the lift
    P(a∧b)/(P(a)·P(b)) — the association-mining primitive behind
    "users who X also Y" and feature-cross discovery. Lift > 1e6
    micro-units = positive association.

    Scale: the corpus reduces to the distinct (user, type) frame
    (map-side combine; ≤|types| rows per user), the pair frame is a
    user-keyed self-join whose per-user fan-out is bounded by
    |types|², and per-type totals are a |types|-row broadcast. Lift is
    exact: numerator n_both·n_users·1e6 and denominator n_a·n_b in
    BIGINT with one half-up division — safe while
    n_both·n_users·2e6 < 2^63, i.e. past 1e5 types over 3e9 users."""
    events = load_table(spark, sf_dir, "events")
    ut = events.select("user_id", "event_type").distinct()
    n_users = events.select("user_id").distinct().agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users")
    )
    per_type = ut.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_t")
    )
    pairs = (
        ut.alias("a")
        .join(ut.alias("b"), "user_id")
        .where(F.col("a.event_type") < F.col("b.event_type"))
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_both"))
    )
    return (
        pairs.join(
            F.broadcast(
                per_type.select(
                    F.col("event_type").alias("type_a"),
                    F.col("n_t").alias("n_a"),
                )
            ),
            "type_a",
        )
        .join(
            F.broadcast(
                per_type.select(
                    F.col("event_type").alias("type_b"),
                    F.col("n_t").alias("n_b"),
                )
            ),
            "type_b",
        )
        .crossJoin(F.broadcast(n_users))
        .select(
            "type_a",
            "type_b",
            "n_a",
            "n_b",
            "n_both",
            F.expr(half_up(f"n_both * n_users * {LIFT_SCALE}", "n_a * n_b")).alias(
                "lift_micro"
            ),
        )
    )


def user_value_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-concentration (Lorenz-style) report: how much of total
    event value the heaviest users hold. Users aggregate to exact
    cents, then band by the INTEGER log2 of their total (power-of-two
    bands via bin-length — the same portable integer-log trick the
    HLL sketch uses), and the cumulative share sweeps bands from the
    top. 'The top band's N users hold X% of value' without ever
    globally sorting users: a global ntile/row_number window would
    single-partition the user frame — the classic 100 TB cliff — so
    the only ordered window here runs over the ≤ ~40-row band frame.
    All arithmetic exact: cents BIGINT, half-up micro shares with the
    1e6-scaled products on DECIMAL(38,0)/HUGEINT (2e6·total-cents
    wraps int64 silently past a ~$50B corpus)."""
    events = load_table(spark, sf_dir, "events")
    users = events.groupBy("user_id").agg(
        F.sum(F.expr("cast(round(value * 100) as bigint)")).alias("v_cents")
    )
    # non-positive totals get band 0; positive ones 1 + floor(log2)
    band = F.when(F.col("v_cents") <= 0, F.lit(0)).otherwise(
        F.length(F.bin(F.col("v_cents")))
    )
    bands = users.groupBy(band.alias("band")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum("v_cents").alias("band_cents"),
    )
    w_desc = Window.orderBy(F.desc("band")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.orderBy(F.desc("band")).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return bands.select(
        "band",
        "n_users",
        "band_cents",
        F.sum("n_users").over(w_desc).alias("cum_users"),
        F.sum("band_cents").over(w_desc).alias("cum_cents"),
        # the 1e6-scaled cumulative-cents products ride DECIMAL(38,0):
        # 2e6 x corpus-total cents passes int64 around 5e12 cents
        # (~$50B corpus), where BIGINT would wrap silently
        F.expr(
            half_up(
                "1000000 * cast(sum(band_cents) over ("
                "order by band desc rows between unbounded preceding"
                " and current row) as decimal(38,0))",
                "cast(sum(band_cents) over ("
                "order by band desc rows between unbounded preceding"
                " and unbounded following) as decimal(38,0))",
            )
        ).alias("cum_share_micro"),
    )


def nation_supplier_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier-concentration index per nation: the Herfindahl–
    Hirschman index over suppliers' lineitem revenue shares — the
    market-concentration metric a sourcing-risk dashboard tracks
    (10 000 ≡ monopoly in the classic scale; here exact micro-units
    of Σ share², i.e. 1e6 ≡ monopoly). Computed EXACTLY as
    1e6·Σv_i² / (Σv_i)² — one half-up division per nation on BIGINT
    cent sums, no per-supplier rounding. Two partial-aggregable
    groupBys (supplier revenue, then nation moments) plus one
    broadcast dim join; DECIMAL(38) guards the Σv² squaring."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    rev = lineitem.groupBy("l_suppkey").agg(
        F.sum(
            F.expr(
                "cast(round(l_extendedprice * (1 - l_discount) * 100) as bigint)"
            )
        ).alias("v_cents")
    )
    by_nation = (
        rev.join(supplier.select("s_suppkey", "s_nationkey"),
                 F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation.select("n_nationkey", "n_name")),
              F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_suppliers"),
            F.sum("v_cents").alias("total_cents"),
            F.sum(
                (F.col("v_cents").cast("decimal(38,0)")
                 * F.col("v_cents").cast("decimal(38,0)"))
            ).alias("sum_sq"),
        )
    )
    return by_nation.select(
        F.col("n_name").alias("nation_name"),
        "n_suppliers",
        "total_cents",
        F.expr(
            "cast("
            + half_up(
                "1000000 * sum_sq", "cast(total_cents as decimal(38,0)) * total_cents"
            )
            + " as bigint)"
        ).alias("hhi_micro"),
    )


ASOF_T1 = "2024-01-16 00:00:00"  # first snapshot boundary
ASOF_T2 = "2024-01-31 00:00:00"  # second snapshot boundary (covers all)


def snapshot_asof_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC diff between two as-of snapshots of per-user latest state —
    the change feed a downstream sync computes when the upstream has
    no change log: reconstruct "latest (event_type, value) per user as
    of T1" and "as of T2" and emit what changed in between
    (``added`` = first seen after T1, ``changed`` = latest state
    differs; unchanged users are suppressed, which is what keeps the
    diff small at scale).

    Both snapshots come out of ONE scan and ONE user-keyed shuffle:
    the T1 state is a conditional struct-max (max over
    lexicographically-ordered (ts, event_id, ...) structs, nulls
    ignored), the T2 state the unconditional one — never two scans
    joined. (user_id, ts) is unique in the corpus, but event_id stays
    in the ordering struct so ties would still be deterministic.
    """
    ev = load_table(spark, sf_dir, "events").where(
        F.col("ts") <= F.lit(ASOF_T2).cast("timestamp_ntz")
    )
    st = F.struct("ts", "event_id", "event_type", "value")
    states = ev.groupBy("user_id").agg(
        F.max(F.when(F.col("ts") <= F.lit(ASOF_T1).cast("timestamp_ntz"), st))
        .alias("old"),
        F.max(st).alias("new"),
    )
    return (
        states.select(
            "user_id",
            F.col("old.event_type").alias("old_type"),
            F.col("old.value").alias("old_value"),
            F.col("new.event_type").alias("new_type"),
            F.col("new.value").alias("new_value"),
            F.when(F.col("old").isNull(), F.lit("added"))
            .when(
                (F.col("old.event_type") != F.col("new.event_type"))
                | (F.col("old.value") != F.col("new.value")),
                F.lit("changed"),
            )
            .alias("change_type"),
        )
        .where(F.col("change_type").isNotNull())
        # values are raw stored doubles (identical parquet bytes in
        # both engines) — passed through unrounded on purpose; a ROUND
        # here would reintroduce the cross-engine .xx5 boundary class
        .select(
            "user_id", "change_type",
            "old_type", "old_value", "new_type", "new_value",
        )
    )


MAD_K = 3  # anomaly threshold: |x - median| > MAD_K * MAD


def _exact_group_rank(
    df: DataFrame, key: str, metric: str, tiebreak: str, out: str
) -> DataFrame:
    """Per-key variant of ``exact_global_rank``: exact row-number by
    (metric, tiebreak) within each key WITHOUT one monolithic sort
    partition per key — deterministic value-bands within the key, rank
    inside (key, band), then per-key band-offset cumsum (≤|keys|·BANDS
    rows, broadcast back). A plain ``Window.partitionBy(key)`` funnels
    each key's entire fact slice through one task; at 100 TB a hot key
    IS the corpus, so the banded two-phase shape is the difference
    between a sort that spills one executor and one that spreads over
    the cluster. Integer metrics only."""
    ext = df.groupBy(key).agg(
        F.max(metric).alias("_mx"), F.min(metric).alias("_mn")
    )
    banded = df.join(F.broadcast(ext), key).withColumn(
        "_band",
        F.expr(
            f"int((({metric} - _mn) * {RFM_BANDS}) div ((_mx - _mn) + 1))"
        ),
    )
    w_in = Window.partitionBy(key, "_band").orderBy(metric, tiebreak)
    ranked = banded.withColumn("_r_in", F.row_number().over(w_in))
    w_off = Window.partitionBy(key).orderBy("_band").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offs = (
        banded.groupBy(key, "_band")
        .agg(F.count(F.lit(1)).alias("_c"))
        .select(
            key,
            "_band",
            F.coalesce(F.sum("_c").over(w_off), F.lit(0)).alias("_off"),
        )
    )
    return (
        ranked.join(F.broadcast(offs), [key, "_band"])
        .withColumn(out, (F.col("_off") + F.col("_r_in")).cast("bigint"))
        .drop("_band", "_r_in", "_mx", "_mn", "_off")
    )


def value_mad_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust anomaly report per event type: exact median and median-
    absolute-deviation (both discrete — the element at rank ⌈n/2⌉ in
    (value, event_id) order, in integer micro-units) and the count of
    events deviating more than MAD_K·MAD. The z-score variant
    (value_zscore_anomalies) breaks down when the outliers themselves
    inflate the σ estimate; MAD has a 50% breakdown point — the robust
    twin every data-QC stack wants next to it.

    Both selection passes use ``_exact_group_rank`` (banded two-phase
    row-number), so no event type — however hot — is sorted in one
    task. approx_percentile would be cheaper but isn't reproducible
    across engines/layouts, and an anomaly GATE must flag the same
    rows everywhere. The base and deviation frames are persisted:
    each feeds a rank (which references its input ~4×) plus the final
    aggregate. NULL values are excluded at the scan (r08): a NULL in
    the rank frame shifts the median pick per engine (NULLS FIRST vs
    LAST) and is not a measurement."""
    events = load_table(spark, sf_dir, "events").where(
        F.col("value").isNotNull()
    )
    base = events.select(
        "event_type",
        "event_id",
        F.expr("cast(round(value * 1000000) as bigint)").alias("m"),
    ).persist()
    ns = base.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    ranked = _exact_group_rank(base, "event_type", "m", "event_id", "rnk")
    med = (
        ranked.join(F.broadcast(ns), "event_type")
        .where(F.col("rnk") == F.expr("(n + 1) div 2"))
        .select("event_type", F.col("m").alias("med"))
    )
    dev = (
        base.join(F.broadcast(med), "event_type")
        .select(
            "event_type",
            "event_id",
            "med",
            F.abs(F.col("m") - F.col("med")).alias("d"),
        )
        .persist()
    )
    dranked = _exact_group_rank(
        dev.select("event_type", "event_id", "d"),
        "event_type",
        "d",
        "event_id",
        "rnk",
    )
    mad = (
        dranked.join(F.broadcast(ns), "event_type")
        .where(F.col("rnk") == F.expr("(n + 1) div 2"))
        .select("event_type", F.col("d").alias("mad"))
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.min("med").alias("median_micro"),
            F.min("mad").alias("mad_micro"),
            F.sum(
                (F.col("d") > MAD_K * F.col("mad")).cast("bigint")
            ).alias("n_anomalies"),
            F.max("d").alias("max_dev_micro"),
        )
    )


AGING_LABELS = ((30, "0-30"), (60, "31-60"), (90, "61-90"))


def orders_aging_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-order aging — the receivables/backlog report: non-finished
    orders bucketed by days outstanding as of the corpus's latest
    order date, with counts and exact open value in cents per
    (status, bucket). One scan with the status filter pushed to
    parquet, a 1-row as-of scalar broadcast onto it, and a ≤|status|·4-
    key aggregate; value goes through the established micro→cents
    half-up integer path so both engines agree to the cent."""
    orders = load_table(spark, sf_dir, "orders")
    asof = orders.agg(F.max("o_orderdate").alias("asof"))
    bucket = F.when(F.col("age_days") <= AGING_LABELS[0][0], AGING_LABELS[0][1])
    for days, label in AGING_LABELS[1:]:
        bucket = bucket.when(F.col("age_days") <= days, label)
    bucket = bucket.otherwise("90+")
    return (
        orders.where(F.col("o_orderstatus") != "F")
        .crossJoin(F.broadcast(asof))
        .select(
            "o_orderstatus",
            F.datediff(F.to_date("asof"), F.to_date("o_orderdate")).alias(
                "age_days"
            ),
            F.expr("cast(round(o_totalprice * 1000000) as bigint)").alias(
                "micro"
            ),
        )
        .select("o_orderstatus", bucket.alias("age_bucket"), "micro")
        .groupBy("o_orderstatus", "age_bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.expr(half_up("sum(micro)", "10000")).alias("open_value_cents"),
        )
    )


def event_dow_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonality per event type: counts and the exact
    within-type share (micro-units) for each weekday — the profile
    that separates weekday-peaked business traffic from flat bot
    traffic and drives day-aware forecast baselines. Weekday comes
    from pure epoch arithmetic ((days + 4) mod 7, 0 = Sunday) rather
    than either engine's dow() so the bucketing is engine- and
    locale-independent. One scan, one |types|·7-key aggregate, one
    broadcast-back of per-type totals."""
    events = load_table(spark, sf_dir, "events")
    counted = (
        events.select(
            "event_type", _epoch_us("ts").alias("_us")
        )
        .select(
            "event_type",
            F.expr("cast((_us div 86400000000 + 4) % 7 as int)").alias("dow"),
        )
        .groupBy("event_type", "dow")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
    )
    totals = counted.groupBy("event_type").agg(
        F.sum("n_events").alias("total")
    )
    return counted.join(F.broadcast(totals), "event_type").select(
        "event_type",
        "dow",
        "n_events",
        F.expr(half_up("1000000 * n_events", "total")).alias("share_micro"),
    )


def event_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint detection per event type over the daily count
    series: the day where the cumulative deviation from the overall
    daily mean peaks — the classic level-shift detector a traffic
    monitor runs (a bot ramp-up or logging regression bends the cumsum
    into a V whose vertex IS the changepoint). Exactness: the mean is
    never materialized — S_k = n·cum_k − k·total clears the rational,
    so the statistic, the argmax day, and the normalized peak are all
    exact integers both engines agree on.

    Scale: one scan → (type, day) partial aggregate; the cumsum window
    partitions by type over DAYS (bounded by the calendar, not the
    corpus — a 100 TB year is still 365 rows per type). Missing days
    enter as explicit zeros via a sequence-explode of the global day
    span (broadcast 1-row bounds), so quiet days pull the cumsum down
    instead of being invisible."""
    events = load_table(spark, sf_dir, "events")
    dense = _dense_daily(_daily_type_counts(events))
    w_cum = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_all = Window.partitionBy("event_type")
    cum = dense.select(
        "event_type",
        "day",
        F.sum("c").over(w_cum).alias("cum"),
        F.row_number()
        .over(Window.partitionBy("event_type").orderBy("day"))
        .cast("bigint")
        .alias("k"),
        F.sum("c").over(w_all).alias("total"),
        F.count(F.lit(1)).over(w_all).cast("bigint").alias("n_days"),
    )
    scored = cum.select(
        "event_type",
        "day",
        "total",
        "n_days",
        F.abs(
            F.col("n_days") * F.col("cum") - F.col("k") * F.col("total")
        ).alias("s_abs"),
    )
    return (
        scored.groupBy("event_type")
        .agg(
            F.max("n_days").alias("n_days"),
            F.max("total").alias("total_events"),
            F.max(
                F.struct(F.col("s_abs"), (-F.col("day")).alias("nd"))
            ).alias("top"),
        )
        .select(
            "event_type",
            "n_days",
            "total_events",
            (-F.col("top.nd")).cast("bigint").alias("changepoint_day"),
            F.col("top.s_abs").alias("cusum_peak"),
            F.expr(
                half_up("top.s_abs * 1000000", "n_days * total_events")
            ).alias("peak_micro"),
        )
    )


EWMA_DEPTH = 16  # α = 1/2 EWMA truncated at 16 prior events
EWMA_WARMUP = 4  # history rows required before flagging
EWMA_SPIKE_MULT = 3  # flag when value > 3 × EWMA of prior values


def event_ewma_spikes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user EWMA spike detector: flag events whose value exceeds
    EWMA_SPIKE_MULT × the exponentially-weighted (α = 1/2) average of
    the user's prior values — the standard per-entity burst monitor
    (fraud spikes, runaway clients) in its streaming-friendly form.

    Exactness: with α = 1/2 the weights are dyadic, so the truncated
    EWMA over the last L ≤ EWMA_DEPTH values is the exact rational
    Σ vqᵢ·2ⁱ / (2ᴸ − 1) (oldest first) in micro-unit BIGINTs — the
    common 2^(DEPTH−L) factor cancels, the spike test is an integer
    cross-multiply, and the reported EWMA is the established half-up
    micro division, so both engines agree bit-for-bit. (The DuckDB twin
    computes the un-telescoped Σ vq·2^(DEPTH−d) form via a bounded
    self-join — same rational, identical floor.)

    Scale: one shuffle on user_id; the history is a bounded window
    frame (ROWS 16 PRECEDING), state O(DEPTH) per user exactly like
    the streaming implementation would keep, never a per-user
    re-scan. Values here are strictly positive; a signed variant
    would re-sign the half-up division (``exact.half_up_signed``).

    NULL measurements are excluded at the scan (r08, both engines):
    Spark's collect_list silently skips NULLs while the oracle's
    bounded self-join counts the row, so a NULL in the history frame
    desynchronizes the two EWMA denominators."""
    events = load_table(spark, sf_dir, "events").where(
        F.col("value").isNotNull()
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seqd = events.select(
        "user_id",
        "event_id",
        "ts",
        "value",
        F.expr("cast(round(value * 1000000) as bigint)").alias("vq"),
    ).withColumn(
        "hist",
        F.collect_list("vq").over(w.rowsBetween(-EWMA_DEPTH, -1)),
    )
    # fold with a (sum, weight) struct accumulator: weight doubles per
    # element, so hist[i] (oldest first) picks up 2^i — one JVM-side
    # pass, no explode
    num = F.expr(
        "aggregate(hist, struct(cast(0 as bigint) as s,"
        " cast(1 as bigint) as p),"
        " (acc, x) -> struct(acc.s + x * acc.p, acc.p * 2),"
        " acc -> acc.s)"
    )
    den = F.expr("shiftleft(cast(1 as bigint), size(hist)) - 1")
    scored = seqd.select(
        "user_id",
        "event_id",
        "value",
        F.size("hist").cast("bigint").alias("n_hist"),
        num.alias("num"),
        den.alias("den"),
        "vq",
    )
    return scored.where(
        (F.col("n_hist") >= EWMA_WARMUP)
        & (F.col("vq") * F.col("den") > EWMA_SPIKE_MULT * F.col("num"))
    ).select(
        "user_id",
        "event_id",
        "value",
        "n_hist",
        (F.expr(half_up("num", "den")) / F.lit(1e6)).alias("ewma"),
    )


def order_fulfillment_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship latency distribution per order priority: exact
    median and p90 of (l_shipdate − o_orderdate) days over the
    orders⋈lineitem join — the fulfillment SLA report, and the classic
    big-fact⋈big-fact shuffle shape. Percentiles are discrete rank
    statistics from ``_exact_group_rank`` (banded two-phase row-number
    — a hot priority never funnels through one sort task), so both
    engines and any cluster layout pick the same element.

    At 100 TB the join is the dominant cost: equi-join on l_orderkey
    with both sides shuffle-partitioned (or co-bucketed in a real
    lake); everything downstream runs on (priority, latency) pairs."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_orderdate"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"),
        "l_linenumber",
        "l_shipdate",
    )
    lat = orders.join(li, "o_orderkey").select(
        "o_orderpriority",
        # unique per (order, line): deterministic rank tiebreak
        (F.col("o_orderkey") * 8 + F.col("l_linenumber")).alias("rid"),
        F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate"))
        .cast("bigint")
        .alias("lat_days"),
    ).persist()
    ranked = _exact_group_rank(
        lat, "o_orderpriority", "lat_days", "rid", "rnk"
    )
    ns = lat.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    picked = ranked.join(F.broadcast(ns), "o_orderpriority").where(
        (F.col("rnk") == F.expr("(n + 1) div 2"))
        | (F.col("rnk") == F.expr("(9 * n + 9) div 10"))
    )
    meds = picked.groupBy("o_orderpriority", "n").agg(
        F.min(
            F.when(F.col("rnk") == F.expr("(n + 1) div 2"), F.col("lat_days"))
        ).alias("median_days"),
        F.min(
            F.when(F.col("rnk") == F.expr("(9 * n + 9) div 10"), F.col("lat_days"))
        ).alias("p90_days"),
    )
    extremes = lat.groupBy("o_orderpriority").agg(
        F.min("lat_days").alias("min_days"),
        F.max("lat_days").alias("max_days"),
    )
    return meds.join(extremes, "o_orderpriority").select(
        "o_orderpriority",
        F.col("n").alias("n_lineitems"),
        "median_days",
        "p90_days",
        "min_days",
        "max_days",
    )


def event_user_bitmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitmap-index distinct-user counting per event type: each user
    hashes to one bit of a presence bitmap
    (``sketches.user_presence_bitmap``); words OR together map-side,
    and the exact popcount of the OR'd bitmap is the distinct
    estimate (exact until buckets collide — the report
    carries the exact distinct count and the collision shortfall).
    This is the roaring-bitmap/BITMAP index pattern every OLAP engine
    uses for COUNT(DISTINCT) acceleration: per-partition bitmaps are
    tiny, merging is bitwise-OR (associative, shuffle-free partials),
    and the final count never rescans.

    One scan → (type, word) OR-aggregate (≤types·BITMAP_WORDS rows)
    → per-type popcount sum; the exact side is the one count-distinct
    shuffle this sketch exists to avoid — kept here as the acceptance
    metric, same as the HLL/CMS siblings."""
    from ..operators.sketches import user_presence_bitmap

    events = load_table(spark, sf_dir, "events")
    words = user_presence_bitmap(events)
    counts = words.groupBy("event_type").agg(
        F.sum(F.bit_count("mask")).cast("bigint").alias("bitmap_count"),
        F.count(F.lit(1)).cast("bigint").alias("words_used"),
    )
    exact = events.groupBy("event_type").agg(
        F.count_distinct("user_id").cast("bigint").alias("exact_distinct")
    )
    return counts.join(exact, "event_type").select(
        "event_type",
        "words_used",
        "bitmap_count",
        "exact_distinct",
        (F.col("exact_distinct") - F.col("bitmap_count")).alias(
            "collision_loss"
        ),
    )


def cohort_ltv_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curve: customers grouped by first-order
    month, cumulative revenue (exact cents) tracked by cohort age in
    months — the retention-economics table behind every LTV model.
    Age = month index difference on pure epoch arithmetic, so both
    engines bucket identically.

    Scale: one orders scan → first-order month per customer (groupBy),
    join back (equi on custkey; AQE broadcasts when the customer side
    is small), (cohort, age) aggregate, then a cumsum window over AGE
    within each cohort — bounded by the calendar (≤ months² cells),
    never by order volume."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.expr(
            "cast(year(o_orderdate) * 12 + month(o_orderdate) - 1 as bigint)"
        ).alias("m"),
        F.expr("cast(round(o_totalprice * 1000000) as bigint)").alias(
            "micro"
        ),
    )
    first = orders.groupBy("o_custkey").agg(F.min("m").alias("cohort_m"))
    cells = (
        orders.join(first, "o_custkey")
        .select(
            "cohort_m",
            (F.col("m") - F.col("cohort_m")).alias("age_months"),
            "micro",
        )
        .groupBy("cohort_m", "age_months")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum("micro").alias("rev_micro"),
        )
    )
    w = (
        Window.partitionBy("cohort_m")
        .orderBy("age_months")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return cells.select(
        "cohort_m",
        "age_months",
        "n_orders",
        F.expr(half_up("rev_micro", "10000")).alias("rev_cents"),
        F.expr(
            half_up(
                "sum(rev_micro) over (partition by cohort_m"
                " order by age_months rows between unbounded preceding"
                " and current row)",
                "10000",
            )
        ).alias("cum_rev_cents"),
    )


def supplier_return_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier scorecard: shipped volume, returned share (exact
    micro), and revenue (exact cents) per supplier, nation attached —
    the vendor-quality report a marketplace reviews monthly. One
    lineitem scan with a map-combinable supplier aggregate, then a
    broadcast join to the supplier/nation dims."""
    li = load_table(spark, sf_dir, "lineitem")
    per_supp = li.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_items"),
        F.sum((F.col("l_returnflag") == "R").cast("bigint")).alias(
            "n_returned"
        ),
        F.sum(
            F.expr(
                "cast(round(l_extendedprice * (1 - l_discount) * 1000000)"
                " as bigint)"
            )
        ).alias("rev_micro"),
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("l_suppkey"), "s_name", "s_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nationkey"), "n_name"
    )
    return (
        per_supp.join(supp, "l_suppkey")
        .join(F.broadcast(nation), "s_nationkey")
        .select(
            F.col("l_suppkey").alias("s_suppkey"),
            "s_name",
            F.col("n_name").alias("nation_name"),
            "n_items",
            "n_returned",
            F.expr(half_up("n_returned * 1000000", "n_items")).alias(
                "return_micro"
            ),
            F.expr(half_up("rev_micro", "10000")).alias("revenue_cents"),
        )
    )


STREAK_TOPN = 20


def customer_order_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: each customer's longest run of CONSECUTIVE
    order days — the classic engagement-streak idiom (island id =
    day − row_number over the customer's distinct ordered days, a pure
    window subtraction; no self-join, no recursion). Reports the
    STREAK_TOPN longest streaks with deterministic tie-break.

    Scale: distinct (customer, day) reduces the fact first (map-side
    combinable); the windows partition per customer over their
    distinct DAYS (calendar-bounded); final top-N is sort+limit
    (TakeOrderedAndProject — distributed partial top-k)."""
    orders = load_table(spark, sf_dir, "orders")
    days = (
        orders.select(
            "o_custkey",
            F.expr(
                "cast(to_unix_timestamp(to_date(o_orderdate)) div 86400"
                " as bigint)"
            ).alias("day"),
        )
        .distinct()
    )
    w = Window.partitionBy("o_custkey").orderBy("day")
    islands = days.select(
        "o_custkey",
        "day",
        (F.col("day") - F.row_number().over(w)).alias("island"),
    )
    streaks = islands.groupBy("o_custkey", "island").agg(
        F.count(F.lit(1)).cast("bigint").alias("streak_days"),
        F.min("day").alias("start_day"),
    )
    return (
        streaks.select("o_custkey", "streak_days", "start_day")
        .orderBy(
            F.col("streak_days").desc(), "o_custkey", "start_day"
        )
        .limit(STREAK_TOPN)
    )


BASKET_TOPN = 50
BASKET_MIN_PAIR = 2


def basket_lift_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules over order line items: the
    BASKET_TOPN part pairs most often co-ordered, with exact-integer
    support, directional confidence, and lift — the classic
    recommender/assortment signal (lift > 1 = genuinely bought
    together, not just both popular).

    Plan: one distinct (order, part) pass; the within-order pair
    expansion is a self equi-join on orderkey (both sides the SAME
    persisted frame, so the orderkey Exchange is reused) emitting only
    pk1 < pk2 — pairs per order are k²/2 with k = basket size, a
    small CONSTANT per order, so output stays linear in orders at any
    corpus size. Pair counts then join per-part order counts (shuffle
    joins on the part keys — deliberately not broadcast-forced; AQE
    upgrades when the filtered pair frame is small) and the top-N is
    TakeOrderedAndProject, never a global sort."""
    li = load_table(spark, sf_dir, "lineitem")
    op = li.select("l_orderkey", "l_partkey").distinct().persist()
    n_frame = (
        op.select("l_orderkey")
        .distinct()
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_orders"))
    )
    part_orders = op.groupBy("l_partkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("c_part")
    )
    pairs = (
        op.alias("a")
        .join(op.alias("b"), "l_orderkey")
        .where(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .groupBy(
            F.col("a.l_partkey").alias("pk1"),
            F.col("b.l_partkey").alias("pk2"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("c_pair"))
        .where(F.col("c_pair") >= BASKET_MIN_PAIR)
    )
    return (
        pairs.join(
            part_orders.select(
                F.col("l_partkey").alias("pk1"), F.col("c_part").alias("c1")
            ),
            "pk1",
        )
        .join(
            part_orders.select(
                F.col("l_partkey").alias("pk2"), F.col("c_part").alias("c2")
            ),
            "pk2",
        )
        .crossJoin(F.broadcast(n_frame))
        .select(
            "pk1",
            "pk2",
            "c_pair",
            "c1",
            "c2",
            F.expr(half_up("c_pair * 1000000", "n_orders") + " / 1000000.0D").alias(
                "support"
            ),
            F.expr(half_up("c_pair * 1000000", "c1") + " / 1000000.0D").alias(
                "confidence"
            ),
            # lift numerator is pair·orders·1e6 — corpus² scale, so it
            # rides decimal(38,0); the quotient is micro-small, safe
            # for div's BIGINT return
            F.expr(
                half_up(
                    "cast(c_pair as decimal(38,0)) * n_orders * 1000000",
                    "cast(c1 as decimal(38,0)) * c2",
                )
                + " / 1000000.0D"
            ).alias("lift"),
        )
        .orderBy(F.desc("c_pair"), "pk1", "pk2")
        .limit(BASKET_TOPN)
    )


AUTOCORR_LAG_DAYS = 7


def revenue_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly-seasonality strength of the order stream: Pearson
    correlation between daily revenue and daily revenue LAG_DAYS
    later, reported as SIGNED r² — r² is a pure rational of exact
    integer moment sums (no sqrt), so unlike r itself it can be
    computed half-up-exact cross-engine; the sign of the covariance
    numerator rides along. |signed_r2| near 1 = strong weekly rhythm
    worth a seasonal forecast model; near 0 = don't bother.

    Plan: one orders scan → per-day exact half-up kilo-dollar
    aggregate (|days|-bounded) → the lag pairing as a self equi-join
    on day+LAG (no window at all) → one 1-row moment aggregate in
    DECIMAL(38,0) (the moment products overflow BIGINT at large
    corpora; kilo-dollar units keep num² inside decimal38)."""
    orders = load_table(spark, sf_dir, "orders")
    daily = (
        orders.groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(
            F.sum(
                F.expr("cast(round(o_totalprice * 100) as bigint)")
            ).alias("cents")
        )
        .select(
            "day",
            F.expr(half_up("cents", "100000")).alias("kusd"),
        )
    )
    # center by the series min: covariance/variance sums are invariant
    # under a constant shift (integer identity), but the shifted
    # moments stay ~fluctuation-sized instead of ~level-sized — the
    # difference between fitting decimal38/int128 forever and
    # overflowing one sf notch up
    mn = daily.agg(F.min("kusd").alias("mn"))
    centered = daily.crossJoin(F.broadcast(mn)).select(
        "day", (F.col("kusd") - F.col("mn")).alias("x")
    )
    lagged = centered.alias("a").join(
        centered.alias("b"),
        F.col("b.day") == F.date_add(F.col("a.day"), AUTOCORR_LAG_DAYS),
    )
    m = lagged.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("a.x").cast("decimal(38,0)").alias("sx"),
        F.sum("b.x").cast("decimal(38,0)").alias("sy"),
        F.sum(F.col("a.x") * F.col("b.x"))
        .cast("decimal(38,0)")
        .alias("sxy"),
        F.sum(F.col("a.x") * F.col("a.x"))
        .cast("decimal(38,0)")
        .alias("sxx"),
        F.sum(F.col("b.x") * F.col("b.x"))
        .cast("decimal(38,0)")
        .alias("syy"),
    )
    return m.select(
        F.lit(AUTOCORR_LAG_DAYS).cast("bigint").alias("lag_days"),
        F.col("n").cast("bigint").alias("n_pairs"),
        F.expr(
            "case when (n * sxx - sx * sx) * (n * syy - sy * sy) = 0"
            " then null else"
            " case when n * sxy - sx * sy < 0 then -1 else 1 end * ("
            + half_up(
                "(n * sxy - sx * sy) * (n * sxy - sx * sy) * 1000000",
                "(n * sxx - sx * sx) * (n * syy - sy * sy)",
            )
            + ") / 1000000.0D end"
        ).alias("signed_r2"),
    )


def discount_quantity_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand price elasticity: exact least-squares slope of
    quantity on discount plus r² — the 'does discounting move volume'
    staple, as ONE scan of integer moments (n, Σx, Σy, Σxy, Σx², Σy²)
    per brand, never a second pass or a residual join. x is the
    discount in exact centi-units (the column carries 2 decimals) and
    y the integer quantity, so every moment is an integer and the
    slope/r² are pure rationals: slope = 100·Sxy/Sxx per unit
    discount (signed half-away-from-zero micro), r² = Sxy²/(Sxx·Syy)
    (half-up micro), with Sxy = nΣxy − ΣxΣy etc. Moments accumulate
    in decimal(38,0) — the moment PRODUCTS overflow BIGINT long
    before the sums do. Degenerate brands (all rows one discount or
    one quantity) yield NULL, both engines."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.expr("cast(round(l_discount * 100) as bigint)").alias("x"),
        F.expr("cast(round(l_quantity) as bigint)").alias("y"),
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    m = (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
            F.sum("x").cast("decimal(38,0)").alias("sx"),
            F.sum("y").cast("decimal(38,0)").alias("sy"),
            F.sum(F.col("x") * F.col("y")).cast("decimal(38,0)").alias("sxy"),
            F.sum(F.col("x") * F.col("x")).cast("decimal(38,0)").alias("sxx"),
            F.sum(F.col("y") * F.col("y")).cast("decimal(38,0)").alias("syy"),
        )
    )
    return m.select(
        "p_brand",
        F.col("n").cast("bigint").alias("n_rows"),
        F.expr(
            "case when n * sxx - sx * sx = 0 then null else "
            + half_up_signed("(n * sxy - sx * sy) * 100000000", "(n * sxx - sx * sx)")
            + " end / 1000000.0D"
        ).alias("slope"),
        F.expr(
            "case when (n * sxx - sx * sx) * (n * syy - sy * sy) = 0"
            " then null else "
            + half_up(
                "(n * sxy - sx * sy) * (n * sxy - sx * sy) * 1000000",
                "(n * sxx - sx * sx) * (n * syy - sy * sy)",
            )
            + " / 1000000.0D end"
        ).alias("r2"),
    )


FRONTIER_BANDS = 256


def customer_value_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline (Pareto front): customers not dominated on
    (lifetime spend, account balance) — s dominates r iff s is ≥ on
    both axes and > on at least one. The classic operator behind
    "best trade-off" shortlists; the naive form is an O(n²)
    NOT-EXISTS self-join (which is exactly what the oracle runs, so
    parity proves the rewrite).

    One-scan plan: a row is dominated iff (a) some STRICTLY-higher-
    spend row has acctbal ≥ its own, or (b) an equal-spend row has
    acctbal strictly greater. Both are running maxima over the spend
    ordering, computed without a single-partition sort via the
    deterministic value-band two-phase: per-band acctbal max →
    ≤FRONTIER_BANDS-row prefix max over strictly-higher bands
    (broadcast back) + an in-band strictly-higher-spend RANGE window
    and an equal-spend max. Integer cents end-to-end."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    base = (
        customer.join(
            orders.groupBy("o_custkey").agg(
                F.sum(
                    F.expr("cast(round(o_totalprice * 100) as bigint)")
                ).alias("spend_cents")
            ),
            customer.c_custkey == F.col("o_custkey"),
            "left",
        )
        .select(
            "c_custkey",
            "c_name",
            F.coalesce(F.col("spend_cents"), F.lit(0))
            .cast("bigint")
            .alias("spend_cents"),
            F.expr("cast(round(c_acctbal * 100) as bigint)").alias(
                "acctbal_cents"
            ),
        )
        .persist()
    )
    ext = base.agg(
        F.max("spend_cents").alias("_mx"), F.min("spend_cents").alias("_mn")
    )
    banded = base.crossJoin(F.broadcast(ext)).withColumn(
        "_band",
        F.expr(
            f"int(((spend_cents - _mn) * {FRONTIER_BANDS})"
            " div ((_mx - _mn) + 1))"
        ),
    )
    w_higher_bands = Window.orderBy(F.desc("_band")).rowsBetween(
        Window.unboundedPreceding, -1
    )
    band_max = (
        banded.groupBy("_band")
        .agg(F.max("acctbal_cents").alias("_bmax"))
        .select(
            "_band",
            F.max("_bmax").over(w_higher_bands).alias("_hband_max"),
        )
    )
    w_in = (
        Window.partitionBy("_band")
        .orderBy("spend_cents")
        .rangeBetween(1, Window.unboundedFollowing)
    )
    w_eq = Window.partitionBy("_band", "spend_cents")
    return (
        banded.join(F.broadcast(band_max), "_band")
        .withColumn("_hin_max", F.max("acctbal_cents").over(w_in))
        .withColumn("_eq_max", F.max("acctbal_cents").over(w_eq))
        .where(
            ~F.coalesce(
                F.greatest("_hband_max", "_hin_max")
                >= F.col("acctbal_cents"),
                F.lit(False),
            )
            & (F.col("_eq_max") <= F.col("acctbal_cents"))
        )
        .select(
            "c_custkey",
            "c_name",
            (F.col("spend_cents") / F.expr("100.0D")).alias("total_spend"),
            (F.col("acctbal_cents") / F.expr("100.0D")).alias("acctbal"),
        )
    )


def event_value_log2_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log₂-bucket value histogram per event type — the long-tail
    profile (doubling buckets) that sizes value skew at a glance, the
    way engine ANALYZE histograms and latency dashboards do. The
    bucket index is floor(log₂(micro)) computed EXACTLY as
    ``length(bin(micro)) − 1`` — integer-string arithmetic both
    engines define identically, never a double log whose last ulp
    could flip a boundary value's bucket (the ROUND-divergence class).
    Non-positive micro values get bucket −1; NULL measurements are
    excluded at the scan (r08 NULL policy). One scan, map-side
    combinable (type, bucket) aggregate, ≤ |types|·~40 output rows."""
    events = load_table(spark, sf_dir, "events").where(
        F.col("value").isNotNull()
    )
    m = F.expr("cast(round(value * 1000000) as bigint)")
    bucket = (
        F.when(m <= 0, F.lit(-1))
        .otherwise(F.length(F.bin(m)) - 1)
        .cast("int")
    )
    return (
        events.select(
            "event_type", bucket.alias("bucket"), m.alias("micro")
        )
        .groupBy("event_type", "bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.min("micro").alias("min_micro"),
            F.max("micro").alias("max_micro"),
        )
        .orderBy("event_type", "bucket")
    )


def event_trend_theilsen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen trend of daily event volume per type — the robust
    slope (median of all pairwise day-count slopes) that one outlier
    day cannot move, unlike the OLS fit (``discount_quantity_ols``'s
    estimator class): the volume-trend alarm a pipeline dashboard
    wants when a single backfill day would otherwise fake a growth
    trend. Quiet days enter as explicit zeros via the same
    sequence-explode day grid as ``event_dispersion_index`` — skipping
    them biases every pairwise slope toward the active days.

    Scale: the only corpus-sized work is ONE scan reduced map-side to
    (type, day) cells; the pairwise expansion is CALENDAR-bounded —
    (n_days choose 2) ≈ 6.7M pairs for a 10-year corpus regardless of
    row count — so the per-type median rank sorts a frame whose size
    the calendar fixes, never the data. Slopes are exact signed
    half-away micro integers (the ``div``-truncation split documented
    at experiment_cuped_lift); numerators ride DECIMAL, since a
    day-pair count delta × 2e6 exceeds int64 once daily volume passes
    ~4.6e12 events. Ties rank by (slope, day-pair) so both engines
    pick the identical median row."""
    events = load_table(spark, sf_dir, "events").where(
        F.col("ts").isNotNull()
    )
    # ONE corpus scan; bounds/grid/dense read it
    daily = _daily_type_counts(events).persist()
    # calendar-bounded cells; both sides of the pair join
    dense = _dense_daily(daily).persist()
    pairs = (
        dense.alias("a")
        .join(
            dense.alias("b"),
            (F.col("a.event_type") == F.col("b.event_type"))
            & (F.col("a.day") < F.col("b.day")),
        )
        .select(
            F.col("a.event_type").alias("event_type"),
            F.col("a.day").alias("da"),
            F.col("b.day").alias("db"),
            (F.col("b.c") - F.col("a.c")).alias("dc"),
            (F.col("b.day") - F.col("a.day")).alias("dd"),
        )
        .select(
            "event_type",
            "da",
            "db",
            F.expr(
                "cast("
                + half_up_signed("cast(dc as decimal(19,0)) * 1000000", "dd")
                + " as bigint)"
            ).alias("slope_micro"),
        )
    )
    wp = Window.partitionBy("event_type")
    wo = wp.orderBy("slope_micro", "da", "db")
    ranked = pairs.select(
        "event_type",
        "slope_micro",
        F.row_number().over(wo).alias("rn"),
        F.count(F.lit(1)).over(wp).cast("bigint").alias("n_pairs"),
        F.min("slope_micro").over(wp).alias("min_slope_micro"),
        F.max("slope_micro").over(wp).alias("max_slope_micro"),
    )
    return (
        ranked.where(F.col("rn") == F.expr("(n_pairs + 1) div 2"))
        .select(
            "event_type",
            "n_pairs",
            F.col("slope_micro").alias("median_slope_micro"),
            "min_slope_micro",
            "max_slope_micro",
        )
        .orderBy("event_type")
    )


SHIP_QS = (50, 90, 99)  # latency percentiles reported per ship mode


def order_ship_latency_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-RETURNFLAG order-to-ship latency p50/p90/p99 via the
    VALUE-DOMAIN HISTOGRAM (SURVEY §7.4d item 3; the seed said
    per-shipmode, but the synthetic lineitem carries no l_shipmode —
    l_returnflag plays the same small-cardinality grouping role and
    asks a real question: do eventually-returned items ship slower?)
    — the cheaper sibling
    of ``order_fulfillment_latency``'s banded rank: latency in days is
    a small integer, so instead of ranking every lineitem row the scan
    reduces map-side to (shipmode, lag_days) cells — at 100 TB that is
    ≤ |modes|·|days| ≈ a few thousand rows off a trillion-row join —
    and every percentile is an exact rank statistic read off the
    bounded per-mode cumulative (rank ⌈q·n/100⌉, the
    ``sketch_histogram_quantiles`` convention, here EXACT because the
    histogram domain is the value domain itself, not a bucketing).
    Never a per-group sort; the only corpus-scale work is the
    orders⋈lineitem equi-join the latency definition requires.

    Long output (shipmode, q, n_items, lag_days): one row per
    percentile, exact small ints on both engines."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"), "l_returnflag", "l_shipdate"
    )
    cells = (
        orders.join(li, "o_orderkey")
        .select(
            "l_returnflag",
            F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate"))
            .cast("bigint")
            .alias("lag"),
        )
        .groupBy("l_returnflag", "lag")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .persist()  # ≤|modes|·|days| rows: feeds the cumulative AND ns
    )
    w_cum = (
        Window.partitionBy("l_returnflag")
        .orderBy("lag")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = cells.select(
        "l_returnflag", "lag", F.sum("c").over(w_cum).alias("cum")
    )
    ns = cells.groupBy("l_returnflag").agg(
        F.sum("c").cast("bigint").alias("n_items")
    )
    # targets rides a RENAMED key: cum and ns share the cells lineage,
    # so an un-aliased join would be an ambiguous self-reference
    targets = ns.select(
        F.col("l_returnflag").alias("tf"),
        "n_items",
        F.explode(F.array(*[F.lit(q) for q in SHIP_QS])).alias("q"),
    ).select(
        "tf",
        "n_items",
        "q",
        F.expr("(q * n_items + 99) div 100").alias("r"),
    )
    return (
        cum.join(
            F.broadcast(targets),
            (F.col("l_returnflag") == F.col("tf")) & (F.col("cum") >= F.col("r")),
        )
        .groupBy("tf", "q", "n_items")
        .agg(F.min("lag").alias("lag_days"))
        .select(
            F.col("tf").alias("l_returnflag"), "q", "n_items", "lag_days"
        )
        .orderBy("l_returnflag", "q")
    )


QUERIES: dict[str, object] = {
    # dict order = registry order = driver grading order (its gate has
    # a budget; see plans/registry.py) — entries added or re-planned
    # most recently go FIRST so they are graded before the suite that
    # already has multiple green rounds on record.
    "event_trend_theilsen": event_trend_theilsen,
    "order_ship_latency_quantiles": order_ship_latency_quantiles,
    "event_value_log2_histogram": event_value_log2_histogram,
    "merge_touched_partitions": merge_touched_partitions,
    "event_value_benford": event_value_benford,
    "order_backlog_timeseries": order_backlog_timeseries,
    "orders_priority_mix_shift": orders_priority_mix_shift,
    "event_ewma_spikes": event_ewma_spikes,
    "linkage_fs_weights": linkage_fs_weights,
    "user_hazard_curve": user_hazard_curve,
    "event_markov_accuracy": event_markov_accuracy,
    "event_dispersion_index": event_dispersion_index,
    "experiment_srm_check": experiment_srm_check,
    "experiment_cuped_lift": experiment_cuped_lift,
    "event_seasonal_naive_mape": event_seasonal_naive_mape,
    "user_dau_wau_stickiness": user_dau_wau_stickiness,
    "anomaly_detector_overlap": anomaly_detector_overlap,
    "discount_tax_independence": discount_tax_independence,
    "user_value_gini": user_value_gini,
    "discount_quantity_ols": discount_quantity_ols,
    "customer_value_frontier": customer_value_frontier,
    "revenue_autocorr": revenue_autocorr,
    "basket_lift_pairs": basket_lift_pairs,
    "customer_order_streaks": customer_order_streaks,
    "cohort_ltv_curve": cohort_ltv_curve,
    "supplier_return_rates": supplier_return_rates,
    "event_cusum_changepoint": event_cusum_changepoint,
    "order_fulfillment_latency": order_fulfillment_latency,
    "event_user_bitmap": event_user_bitmap,
    "value_mad_anomalies": value_mad_anomalies,
    "orders_aging_buckets": orders_aging_buckets,
    "event_dow_profile": event_dow_profile,
    "event_path_topk": event_path_topk,
    "event_cooccurrence_lift": event_cooccurrence_lift,
    "snapshot_asof_diff": snapshot_asof_diff,
    "mv_incremental_refresh": mv_incremental_refresh,
    "user_value_concentration": user_value_concentration,
    "nation_supplier_hhi": nation_supplier_hhi,
    "event_transition_matrix": event_transition_matrix,
    "regional_min_cost_supplier": regional_min_cost_supplier,
    "valuable_part_stock": valuable_part_stock,
    "excess_quantity_suppliers": excess_quantity_suppliers,
    "orders_monthly_growth": orders_monthly_growth,
    "order_status_upsert": order_status_upsert,
    "local_supplier_volume": local_supplier_volume,
    "returned_item_report": returned_item_report,
    "user_trailing_hour_stats": user_trailing_hour_stats,
    "props_map_stats": props_map_stats,
    "fuzzy_name_matches": fuzzy_name_matches,
    "peak_concurrent_sessions": peak_concurrent_sessions,
    "recent_orders_lateral": recent_orders_lateral,
    "lineitem_measures_unpivot": lineitem_measures_unpivot,
    "sole_late_supplier": sole_late_supplier,
    "brand_supplier_variety": brand_supplier_variety,
    "value_zscore_anomalies": value_zscore_anomalies,
    "user_retention_cohorts": user_retention_cohorts,
    "event_hourly_resample": event_hourly_resample,
    "user_type_scd2": user_type_scd2,
    "value_equidepth_deciles": value_equidepth_deciles,
    "grouping_sets_revenue": grouping_sets_revenue,
    "forecast_revenue_change": forecast_revenue_change,
    "q1_filter": q1_filter,
    "q2_join_enrich": q2_join_enrich,
    "q3_window_collect_set": q3_window_collect_set,
    "json_encode": json_encode,
    "date_parts": date_parts,
    "pricing_summary": pricing_summary,
    "revenue_by_nation": revenue_by_nation,
    "top_customers": top_customers,
    "order_priority_semijoin": order_priority_semijoin,
    "parts_never_in_bulk_orders": parts_never_in_bulk_orders,
    "clickers_not_purchasers": clickers_not_purchasers,
    "event_type_union": event_type_union,
    "distinct_users_per_type": distinct_users_per_type,
    "user_simpson_diversity": user_simpson_diversity,
    "value_winsorize": value_winsorize,
    "user_bot_periodicity": user_bot_periodicity,
    "rollup_order_status": rollup_order_status,
    "cube_event_stats": cube_event_stats,
    "pivot_user_event_values": pivot_user_event_values,
    "value_percentiles": value_percentiles,
    "session_window_stats": session_window_stats,
    "top3_per_segment": top3_per_segment,
    "user_event_gaps": user_event_gaps,
    "sliding_window_stats": sliding_window_stats,
    "asof_last_signup": asof_last_signup,
    "asof_attribution": asof_attribution,
    "customer_rfm_scores": customer_rfm_scores,
    "range_join_click_purchase": range_join_click_purchase,
    "salted_type_totals": salted_type_totals,
    "promo_revenue_ratio": promo_revenue_ratio,
    "returnflag_priority_counts": returnflag_priority_counts,
    "supplier_balance_by_nation": supplier_balance_by_nation,
    "small_qty_part_revenue": small_qty_part_revenue,
    "big_order_customers": big_order_customers,
    "inactive_rich_customers": inactive_rich_customers,
    "top_supplier_by_revenue": top_supplier_by_revenue,
    "shipping_priority_topk": shipping_priority_topk,
    "nation_pair_volume": nation_pair_volume,
    "market_share_by_year": market_share_by_year,
    "part_profit_by_nation_year": part_profit_by_nation_year,
    "customer_order_distribution": customer_order_distribution,
    "disjunctive_part_revenue": disjunctive_part_revenue,
    "daily_click_purchase_recon": daily_click_purchase_recon,
    "click_and_error_users": click_and_error_users,
    "latest_event_per_user": latest_event_per_user,
    "funnel_conversion": funnel_conversion,
    "running_user_value": running_user_value,
    "event_rank_stats": event_rank_stats,
    "sketch_event_stats": sketch_event_stats,
}
