"""Lake-health audit operators: referential integrity, join-key skew,
and erasure (right-to-be-forgotten) impact — the QC passes a team runs
over a 100 TB lake before trusting joins, before picking partition
keys, and before executing a compliance delete.

The reference has nothing in this territory; these are north-star
extensions per SURVEY.md §7.4.

Scale posture: every operator is one scan per table plus at most one
equi-join, all aggregation map-side-combinable, results a handful of
rows. ``join_key_skew``'s top-k uses sort+limit (TakeOrderedAndProject
— distributed partial top-k per partition) rather than a global
row_number window, so the per-key frame is never single-partitioned.
All ratios are exact half-up micro-unit integers (``*_micro``), never
engine-rounded doubles.
"""

from __future__ import annotations

from functools import reduce

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession, Window

from ..functions.exact import half_up
from ..session import local_frame
from ..sources.batch import load_table

# child table, fk column, parent table, pk column
FK_EDGES: tuple[tuple[str, str, str, str], ...] = (
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("events", "user_id", "customer", "c_custkey"),
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("nation", "n_regionkey", "region", "r_regionkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
)

_MICRO = (
    "CASE WHEN child_rows = 0 THEN 0 ELSE "
    + half_up("orphan_rows * 1000000", "child_rows")
    + " END"
)  # zero-denominator guard: an empty child table has 0 orphans


def fk_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orphan audit across every foreign-key edge of the star schema:
    child rows whose key has no parent. One left join per edge (parent
    side reduced to distinct keys first, so the build side is the key
    domain, not the table); AQE picks broadcast where the key domain
    is small. Each edge aggregates to a single row.
    """
    frames = []
    for child_t, fk, parent_t, pk in FK_EDGES:
        child = load_table(spark, sf_dir, child_t).select(F.col(fk).alias("k"))
        parent = (
            load_table(spark, sf_dir, parent_t)
            .select(F.col(pk).alias("k"))
            .distinct()
            .withColumn("hit", F.lit(1))
        )
        frames.append(
            child.join(parent, "k", "left")
            .agg(
                F.count("*").alias("child_rows"),
                # count-style (not SUM of 0/1): COUNT over an empty
                # table is 0 where SUM is NULL — the degenerate-corpus
                # sweep caught the NULL leaking into the report
                F.count(F.when(F.col("hit").isNull(), 1))
                .cast("bigint")
                .alias("orphan_rows"),
            )
            .select(
                F.lit(f"{child_t}.{fk}->{parent_t}.{pk}").alias("relationship"),
                "child_rows",
                "orphan_rows",
                F.expr(_MICRO).alias("orphan_micro"),
            )
        )
    return reduce(DataFrame.unionByName, frames)


SKEW_TOPK = 10


def join_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-distribution profile for lineitem's supplier join key — the
    pre-flight check before shuffling a fact on it. Reports the
    SKEW_TOPK heaviest keys (exact share in micro-units) alongside the
    global key stats (n_keys, max, exact mean) that decide whether the
    join needs salting or AQE skew handling.

    micro products stay inside BIGINT while total_rows·1e6 < 2^63,
    i.e. up to ~9.2e12 fact rows — comfortably past 100 TB of
    lineitem.
    """
    per_key = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_suppkey")
        .agg(F.count("*").alias("cnt"))
    )
    stats = per_key.agg(
        F.count("*").alias("n_keys"),
        F.sum("cnt").alias("total_rows"),
        F.max("cnt").alias("max_cnt"),
    )
    # distributed top-k (TakeOrderedAndProject), then rank the tiny result
    top = per_key.orderBy(F.desc("cnt"), F.asc("l_suppkey")).limit(SKEW_TOPK)
    w = Window.orderBy(F.desc("cnt"), F.asc("l_suppkey"))
    return (
        top.withColumn("rank", F.row_number().over(w))
        .crossJoin(F.broadcast(stats))
        .select(
            "rank",
            "l_suppkey",
            "cnt",
            F.expr(half_up("cnt * 1000000", "total_rows")).alias("share_micro"),
            "n_keys",
            "max_cnt",
            F.expr(half_up("total_rows * 1000000", "n_keys")).alias(
                "avg_cnt_micro"
            ),
        )
    )


ERASE_MOD, ERASE_REM = 97, 3


def user_erasure_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cascade impact of a right-to-be-forgotten delete: for a
    deterministic erasure cohort (custkey ≡ ERASE_REM mod ERASE_MOD),
    count the rows each table would lose. Tables keyed directly on the
    customer key (customer, orders, events) need NO join — the cohort
    predicate pushes into their scans; only lineitem cascades through
    orders (semi-join-shaped left join on the erased order keys).
    """
    def direct(table: str, key: str) -> DataFrame:
        t = load_table(spark, sf_dir, table)
        return t.agg(
            F.count("*").alias("rows_total"),
            F.count(F.when(F.col(key) % ERASE_MOD == ERASE_REM, 1))
            .cast("bigint")
            .alias("rows_erased"),
        ).select(F.lit(table).alias("table_name"), "rows_total", "rows_erased")

    erased_orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_custkey") % ERASE_MOD == ERASE_REM)
        .select("o_orderkey")
        .withColumn("hit", F.lit(1))
    )
    lineitem = (
        load_table(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("o_orderkey"))
        .join(erased_orders, "o_orderkey", "left")
        .agg(
            F.count("*").alias("rows_total"),
            F.count(F.when(F.col("hit").isNotNull(), 1))
            .cast("bigint")
            .alias("rows_erased"),
        )
        .select(F.lit("lineitem").alias("table_name"), "rows_total", "rows_erased")
    )
    frames = [
        direct("customer", "c_custkey"),
        direct("events", "user_id"),
        lineitem,
        direct("orders", "o_custkey"),
    ]
    return reduce(DataFrame.unionByName, frames).select(
        "table_name",
        "rows_total",
        "rows_erased",
        F.expr(
            "CASE WHEN rows_total = 0 THEN 0 ELSE "
            + half_up("rows_erased * 1000000", "rows_total")
            + " END"
        ).alias("erased_micro"),
    )


DRIFT_BUCKETS = 10


def drift_bucket(value: Column, lo: Column, hi: Column) -> Column:
    """INT bucket of ``value`` on the DRIFT_BUCKETS equi-width grid
    over [lo, hi]: ``hi`` itself falls in the last bucket, and a
    zero-width grid puts every value in bucket 0."""
    return (
        F.when(hi == lo, F.lit(0))
        .otherwise(
            F.least(
                F.lit(DRIFT_BUCKETS - 1),
                F.floor((value - lo) * DRIFT_BUCKETS / (hi - lo)),
            )
        )
        .cast("int")
    )


def tvd_micro(n1: str, n2: str) -> Column:
    """Total-variation distance Σ|o1·n2 − o2·n1| / (2·n1·n2) in half-up
    micro-units, from the column ``num`` = Σ|o1·n2 − o2·n1| and the
    SQL expressions ``n1``, ``n2`` of the two sides' totals. An empty
    side means no drift is measurable: tvd := 0 (r08 single-row sweep;
    an ANSI div-by-zero crash otherwise)."""
    return F.expr(
        f"CASE WHEN {n1} = 0 OR {n2} = 0 THEN 0 ELSE"
        f" {half_up('1000000 * num', f'2 * {n1} * {n2}')} END"
    )


def value_drift_tvd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift monitor: total-variation distance between the
    first and second time-halves of each event type's ``value``
    distribution, over a fixed equi-width bucket grid.

    TVD = ½·Σ_b |p1(b) − p2(b)| is computed EXACTLY as
    Σ|o1·n2 − o2·n1| / (2·n1·n2) in half-up micro-units — one integer
    division per event type, no per-bucket rational arithmetic to
    round (the reformulation that keeps a χ²-style statistic exact).
    ``top_shift_bucket`` names the bucket contributing the largest
    shift — where to look when the alarm fires.

    Scale: one corpus scan; the only broadcast is the 1-row global
    bounds frame (time midpoint + value range); buckets×types cells
    then reduce by partial aggregation. The drift alarm a 100 TB
    ingest pipeline runs per batch IS this shape — summaries are
    type×bucket cells, never rows."""
    from ..plans.analytics import _epoch_us

    events = load_table(spark, sf_dir, "events")
    base = events.select("event_type", _epoch_us("ts").alias("us"), "value")
    bounds = base.agg(
        F.min("us").alias("lo_us"),
        F.max("us").alias("hi_us"),
        F.min("value").alias("lo_v"),
        F.max("value").alias("hi_v"),
    )
    marked = base.crossJoin(F.broadcast(bounds)).select(
        "event_type",
        (F.col("us") * 2 <= F.col("lo_us") + F.col("hi_us")).alias("first_half"),
        drift_bucket(F.col("value"), F.col("lo_v"), F.col("hi_v")).alias(
            "bucket"
        ),
    )
    cells = marked.groupBy("event_type", "bucket").agg(
        F.sum(F.col("first_half").cast("bigint")).alias("o1"),
        F.sum((~F.col("first_half")).cast("bigint")).alias("o2"),
    )
    totals = cells.groupBy("event_type").agg(
        F.sum("o1").alias("n1"), F.sum("o2").alias("n2")
    )
    diffs = cells.join(F.broadcast(totals), "event_type").select(
        "event_type",
        "bucket",
        "n1",
        "n2",
        F.abs(F.col("o1") * F.col("n2") - F.col("o2") * F.col("n1")).alias("d"),
    )
    w = Window.partitionBy("event_type").orderBy(F.desc("d"), F.asc("bucket"))
    return (
        diffs.withColumn("rn", F.row_number().over(w))
        .groupBy("event_type", "n1", "n2")
        .agg(
            F.sum("d").alias("num"),
            F.max(F.when(F.col("rn") == 1, F.col("bucket"))).alias(
                "top_shift_bucket"
            ),
        )
        .select(
            "event_type",
            F.col("n1").alias("n_first"),
            F.col("n2").alias("n_second"),
            tvd_micro("n1", "n2").alias("tvd_micro"),
            "top_shift_bucket",
        )
    )


ZORDER_BITS = 8  # 256 buckets per dimension
ZORDER_FILES = 64  # simulated file count per layout


def _interleave(u: str, d: str, idiv: str) -> str:
    """Morton/Z-order bit interleave of two ZORDER_BITS-bit ints as a
    pure integer expression (``idiv`` is 'div' for Spark, '//' for
    DuckDB — the only dialect difference)."""
    terms = []
    for i in range(ZORDER_BITS):
        terms.append(f"((({u}) {idiv} {1 << i}) % 2) * {1 << (2 * i + 1)}")
        terms.append(f"((({d}) {idiv} {1 << i}) % 2) * {1 << (2 * i)}")
    return " + ".join(terms)


def layout_zorder_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-dimensional clustering audit: how much of the corpus a
    point probe on EACH dimension must scan under three file layouts —
    Z-order (Morton-interleaved user×hour), user-linear, and
    time-linear. This is the measurement behind ``OPTIMIZE ZORDER BY``
    decisions: a linear layout prunes perfectly on its own dimension
    and not at all on the other; Z-order buys balanced pruning on
    both, which is what a 100 TB table probed by several predicates
    needs.

    Each event maps to a (user-bucket, hour-bucket) cell; each layout
    assigns it a simulated file; per file the zone map [min,max] of
    each dimension is aggregated, and the expected scan fraction for a
    uniform point probe on a dimension is Σ_files(span)/files·buckets
    in exact half-up micro-units.

    Scale: one scan; the stack() triples rows BEFORE aggregation but
    partial aggregation collapses them to layouts×files cells inside
    the scan task, so the shuffle moves ≤ 3·64 rows.
    """
    from ..plans.analytics import _epoch_us

    events = load_table(spark, sf_dir, "events")
    b = 1 << ZORDER_BITS
    per_file = b * b // ZORDER_FILES  # z-cells per z-order file
    lin = b // ZORDER_FILES  # buckets per linear file
    base = (
        events.select(
            (F.col("user_id") % b).alias("u"),
            _epoch_us("ts").alias("us"),
        )
        # integer div throughout: double-divide + CAST truncates in
        # Spark but ROUNDS in DuckDB — a silent off-by-one-hour
        .select("u", F.expr(f"(us div 3600000000) % {b}").alias("d"))
        .select("u", "d", F.expr(_interleave("u", "d", "div")).alias("z"))
    )
    cells = (
        base.select(
            "u",
            "d",
            F.expr(
                f"stack(3, 'zorder', z div {per_file},"
                f" 'linear_user', u div {lin},"
                f" 'linear_time', d div {lin}) as (layout, file_id)"
            ),
        )
        .groupBy("layout", "file_id")
        .agg(
            F.min("u").alias("lo_u"),
            F.max("u").alias("hi_u"),
            F.min("d").alias("lo_d"),
            F.max("d").alias("hi_d"),
        )
    )
    return (
        cells.groupBy("layout")
        .agg(
            F.count(F.lit(1)).alias("files"),
            F.sum(F.col("hi_u") - F.col("lo_u") + 1).alias("span_u"),
            F.sum(F.col("hi_d") - F.col("lo_d") + 1).alias("span_d"),
        )
        .select(
            "layout",
            "files",
            F.expr(half_up("span_u * 1000000", f"files * {b}")).alias(
                "probe_scan_user_micro"
            ),
            F.expr(half_up("span_d * 1000000", f"files * {b}")).alias(
                "probe_scan_time_micro"
            ),
        )
        .orderBy("layout")
    )


K_ANON = 8  # groups smaller than this are re-identification risks


def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity profile of the customer table under the
    quasi-identifier pair (nation, market segment): the size-of-size
    histogram — how many QI groups have exactly s members, how many
    rows sit in them, and whether that size is below the K_ANON
    re-identification threshold. This is the privacy audit run before
    releasing an 'anonymized' extract: any row in a ``risky`` band is
    re-identifiable by its QI combination alone.

    Scale: one scan → QI-cardinality groupBy (map-side combinable) →
    a second groupBy over the group-size frame (≤ |QI domain| rows).
    Nothing here grows with table size except the first partial
    aggregation.
    """
    cust = load_table(spark, sf_dir, "customer")
    groups = cust.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("group_size")
    )
    return (
        groups.groupBy("group_size")
        .agg(F.count(F.lit(1)).alias("n_groups"))
        .select(
            "group_size",
            "n_groups",
            (F.col("group_size") * F.col("n_groups")).alias("n_rows"),
            (F.col("group_size") < K_ANON).alias("risky"),
        )
        .orderBy("group_size")
    )


L_DIV = 3  # groups with fewer distinct sensitive values are risky


def l_diversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity profile — the attribute-disclosure complement to
    ``k_anonymity_audit``: a QI group can be large (k-anonymous) yet
    still leak if every member shares the same sensitive value. Under
    the same quasi-identifier pair (nation, market segment), the
    sensitive attribute is the account-balance band (1000-unit floor);
    the report is the histogram of groups by their distinct-sensitive
    count, with the rows they cover and the below-L_DIV risk flag.

    Scale: one scan → (QI, band)-keyed partial-aggregate groupBy →
    QI-keyed rollup of the (≤ |QI|·|bands|)-row frame → histogram over
    the ≤|QI|-row group frame. Only the first aggregation sees data.
    """
    cust = load_table(spark, sf_dir, "customer")
    bands = (
        cust.select(
            "c_nationkey",
            "c_mktsegment",
            F.floor(F.col("c_acctbal") / 1000).cast("int").alias("band"),
        )
        .groupBy("c_nationkey", "c_mktsegment", "band")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    groups = bands.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_sensitive"),
        F.sum("n").alias("group_size"),
    )
    return (
        groups.groupBy("n_sensitive")
        .agg(
            F.count(F.lit(1)).alias("n_groups"),
            F.sum("group_size").alias("n_rows"),
        )
        .select(
            "n_sensitive",
            "n_groups",
            "n_rows",
            (F.col("n_sensitive") < L_DIV).alias("risky"),
        )
        .orderBy("n_sensitive")
    )


CARD_BUCKETS = 256


def join_cardinality_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram-based join-cardinality estimation — the cost-based-
    optimizer statistic, validated against the true join size. For
    orders ⋈ lineitem on orderkey, the classic estimator per histogram
    bucket is |R_b|·|S_b| / max(ndv_R_b, ndv_S_b); the single-bucket
    ('global stats only') estimate is what an optimizer has from table
    stats, the 256-bucket one is what a real histogram buys. Emitting
    both errors shows the refinement — the decision data for 'do we
    ANALYZE this table'.

    Scale: two scans (one per side) reduced to bucket cells inside the
    scan tasks, one key-equi-join for ground truth (the validation
    step; the estimator itself never joins). Exact integer micro-unit
    errors.
    """
    orders = load_table(spark, sf_dir, "orders").select(
        (F.col("o_orderkey") % CARD_BUCKETS).alias("b"),
        F.col("o_orderkey").alias("k"),
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        (F.col("l_orderkey") % CARD_BUCKETS).alias("b"),
        F.col("l_orderkey").alias("k"),
    )

    def hist(df: DataFrame) -> DataFrame:
        return df.groupBy("b").agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("k").alias("d"),
        )
    h1 = hist(orders).select("b", F.col("n").alias("n1"), F.col("d").alias("d1"))
    h2 = hist(li).select("b", F.col("n").alias("n2"), F.col("d").alias("d2"))
    per_bucket = h1.join(h2, "b").select(
        F.expr(half_up("n1 * n2", "greatest(d1, d2)")).alias("est_b"),
        "n1", "n2", "d1", "d2",
    )
    est = per_bucket.agg(
        F.sum("est_b").alias("est_bucketed"),
        F.sum("n1").alias("t1"),
        F.sum("n2").alias("t2"),
        F.sum("d1").alias("td1"),
        F.sum("d2").alias("td2"),
    ).select(
        "est_bucketed",
        F.expr(half_up("t1 * t2", "greatest(td1, td2)")).alias("est_global"),
    )
    actual = (
        orders.select("k")
        .join(li.select("k"), "k")
        .agg(F.count(F.lit(1)).alias("actual_rows"))
    )
    return est.crossJoin(F.broadcast(actual)).select(
        "actual_rows",
        "est_global",
        "est_bucketed",
        F.expr(
            half_up("abs(est_global - actual_rows) * 1000000", "actual_rows")
        ).alias("err_global_micro"),
        F.expr(
            half_up("abs(est_bucketed - actual_rows) * 1000000", "actual_rows")
        ).alias("err_bucketed_micro"),
    )


# (column, exact-integer encoding SQL — shared verbatim by both
# engines so NDV/min/max are over the identical canonical value; NULL
# encoding = string column, whose min/max are skipped)
STATS_COLUMNS: tuple[tuple[str, str | None], ...] = (
    ("o_orderkey", "o_orderkey"),
    ("o_custkey", "o_custkey"),
    ("o_orderstatus", None),
    ("o_totalprice", "CAST(ROUND(o_totalprice * 100) AS BIGINT)"),
    (
        "o_orderdate",
        "CAST(DATEDIFF(CAST(o_orderdate AS DATE), DATE '1970-01-01')"
        " AS BIGINT)",
    ),
    ("o_orderpriority", None),
)


def lake_column_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE TABLE in operator form: per-column row/null counts,
    exact NDV, and min/max over the ``orders`` table — the statistics
    a cost-based optimizer's join-ordering and broadcast decisions
    consume (``join_cardinality_estimate`` shows what those stats
    buy). Numeric/temporal columns are canonicalized to exact integer
    units (cents, epoch days) so min/max and NDV hash identically
    across engines; string columns report NDV only.

    Scale: one scan; the multi-column exact COUNT(DISTINCT) expands
    the scan the way ANALYZE itself does. At 100 TB the swap is
    ``approx_count_distinct`` (or the mergeable HLL registers of
    ``sketch_hll_users``) — same plan shape, sketch-sized state; the
    exact form is kept because the oracle gate must hash-match."""
    orders = load_table(spark, sf_dir, "orders")
    aggs, fields = [], []
    for col, enc in STATS_COLUMNS:
        e = F.expr(enc) if enc is not None else F.col(col)
        aggs += [
            F.sum(F.col(col).isNull().cast("bigint")).alias(f"nn_{col}"),
            F.countDistinct(e).alias(f"ndv_{col}"),
        ]
        if enc is not None:
            aggs += [F.min(e).alias(f"mn_{col}"), F.max(e).alias(f"mx_{col}")]
        mn = f"mn_{col}" if enc is not None else "CAST(NULL AS BIGINT)"
        mx = f"mx_{col}" if enc is not None else "CAST(NULL AS BIGINT)"
        fields.append(
            f"struct('{col}' AS col_name, nn_{col} AS n_nulls,"
            f" ndv_{col} AS ndv, {mn} AS min_v, {mx} AS max_v)"
        )
    one = orders.agg(F.count(F.lit(1)).cast("bigint").alias("n_rows"), *aggs)
    return one.select(
        "n_rows", F.explode(F.expr(f"array({', '.join(fields)})")).alias("s")
    ).select(
        F.col("s.col_name").alias("col_name"),
        "n_rows",
        F.col("s.n_nulls").cast("bigint").alias("n_nulls"),
        F.col("s.ndv").cast("bigint").alias("ndv"),
        F.col("s.min_v").cast("bigint").alias("min_v"),
        F.col("s.max_v").cast("bigint").alias("max_v"),
    )


ORACLES: dict[str, str] = {}


def _column_stats_sql() -> str:
    selects = []
    for col, enc in STATS_COLUMNS:
        duck_enc = (
            enc.replace(
                "DATEDIFF(CAST(o_orderdate AS DATE), DATE '1970-01-01')",
                "date_diff('day', DATE '1970-01-01',"
                " CAST(o_orderdate AS DATE))",
            )
            if enc is not None
            else None
        )
        e = duck_enc if duck_enc is not None else col
        mn = f"CAST(MIN({e}) AS BIGINT)" if enc else "CAST(NULL AS BIGINT)"
        mx = f"CAST(MAX({e}) AS BIGINT)" if enc else "CAST(NULL AS BIGINT)"
        selects.append(f"""
        SELECT '{col}' AS col_name,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CASE WHEN {col} IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_nulls,
               CAST(COUNT(DISTINCT {e}) AS BIGINT) AS ndv,
               {mn} AS min_v, {mx} AS max_v
        FROM orders""")
    return "\nUNION ALL\n".join(selects)


ORACLES["lake_column_stats"] = _column_stats_sql()

ORACLES["k_anonymity_audit"] = f"""
    WITH groups AS (
        SELECT c_nationkey, c_mktsegment, CAST(COUNT(*) AS BIGINT) AS group_size
        FROM customer GROUP BY 1, 2
    )
    SELECT group_size,
           CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(group_size * COUNT(*) AS BIGINT) AS n_rows,
           group_size < {K_ANON} AS risky
    FROM groups GROUP BY group_size
    ORDER BY group_size
"""

ORACLES["join_cardinality_estimate"] = f"""
    WITH h1 AS (
        SELECT o_orderkey % {CARD_BUCKETS} AS b,
               CAST(COUNT(*) AS BIGINT) AS n1,
               CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS d1
        FROM orders GROUP BY 1
    ),
    h2 AS (
        SELECT l_orderkey % {CARD_BUCKETS} AS b,
               CAST(COUNT(*) AS BIGINT) AS n2,
               CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS d2
        FROM lineitem GROUP BY 1
    ),
    per_bucket AS (
        SELECT (2 * n1 * n2 + greatest(d1, d2)) // (2 * greatest(d1, d2))
                   AS est_b,
               n1, n2, d1, d2
        FROM h1 JOIN h2 USING (b)
    ),
    est AS (
        SELECT CAST(SUM(est_b) AS BIGINT) AS est_bucketed,
               (2 * CAST(SUM(n1) AS BIGINT) * CAST(SUM(n2) AS BIGINT)
                + greatest(CAST(SUM(d1) AS BIGINT), CAST(SUM(d2) AS BIGINT)))
               // (2 * greatest(CAST(SUM(d1) AS BIGINT),
                                CAST(SUM(d2) AS BIGINT))) AS est_global
        FROM per_bucket
    ),
    actual AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS actual_rows
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    )
    SELECT actual_rows, est_global, est_bucketed,
           (2 * abs(est_global - actual_rows) * 1000000 + actual_rows)
               // (2 * actual_rows) AS err_global_micro,
           (2 * abs(est_bucketed - actual_rows) * 1000000 + actual_rows)
               // (2 * actual_rows) AS err_bucketed_micro
    FROM est, actual
"""

_ZB = 1 << ZORDER_BITS
ORACLES["layout_zorder_stats"] = f"""
    WITH base AS (
        SELECT (user_id % {_ZB}) AS u,
               ((epoch_us(ts) // 3600000000) % {_ZB}) AS d
        FROM events
    ),
    zed AS (
        SELECT u, d, {_interleave("u", "d", "//")} AS z FROM base
    ),
    assigned AS (
        SELECT 'zorder' AS layout, z // {_ZB * _ZB // ZORDER_FILES} AS file_id,
               u, d FROM zed
        UNION ALL
        SELECT 'linear_user', u // {_ZB // ZORDER_FILES}, u, d FROM zed
        UNION ALL
        SELECT 'linear_time', d // {_ZB // ZORDER_FILES}, u, d FROM zed
    ),
    cells AS (
        SELECT layout, file_id,
               MIN(u) AS lo_u, MAX(u) AS hi_u,
               MIN(d) AS lo_d, MAX(d) AS hi_d
        FROM assigned GROUP BY layout, file_id
    )
    SELECT layout,
           CAST(COUNT(*) AS BIGINT) AS files,
           CAST((2 * SUM(hi_u - lo_u + 1) * 1000000 + COUNT(*) * {_ZB})
                // (2 * COUNT(*) * {_ZB}) AS BIGINT)
               AS probe_scan_user_micro,
           CAST((2 * SUM(hi_d - lo_d + 1) * 1000000 + COUNT(*) * {_ZB})
                // (2 * COUNT(*) * {_ZB}) AS BIGINT)
               AS probe_scan_time_micro
    FROM cells GROUP BY layout
    ORDER BY layout
"""

ORACLES["value_drift_tvd"] = f"""
    WITH base AS (
        SELECT event_type, epoch_us(ts) AS us, value FROM events
    ),
    bounds AS (
        SELECT MIN(us) AS lo_us, MAX(us) AS hi_us,
               MIN(value) AS lo_v, MAX(value) AS hi_v
        FROM base
    ),
    marked AS (
        SELECT event_type,
               (us * 2 <= lo_us + hi_us) AS first_half,
               CAST(CASE WHEN hi_v = lo_v THEN 0
                    ELSE LEAST({DRIFT_BUCKETS - 1},
                               FLOOR((value - lo_v) * {DRIFT_BUCKETS}
                                     / (hi_v - lo_v)))
                    END AS INTEGER) AS bucket
        FROM base, bounds
    ),
    cells AS (
        SELECT event_type, bucket,
               CAST(SUM(CASE WHEN first_half THEN 1 ELSE 0 END) AS BIGINT) AS o1,
               CAST(SUM(CASE WHEN first_half THEN 0 ELSE 1 END) AS BIGINT) AS o2
        FROM marked GROUP BY event_type, bucket
    ),
    totals AS (
        SELECT event_type, CAST(SUM(o1) AS BIGINT) AS n1,
               CAST(SUM(o2) AS BIGINT) AS n2
        FROM cells GROUP BY event_type
    ),
    diffs AS (
        SELECT c.event_type, c.bucket, t.n1, t.n2,
               abs(c.o1 * t.n2 - c.o2 * t.n1) AS d,
               row_number() OVER (
                   PARTITION BY c.event_type ORDER BY abs(c.o1 * t.n2 - c.o2 * t.n1) DESC,
                   c.bucket ASC
               ) AS rn
        FROM cells c JOIN totals t ON c.event_type = t.event_type
    )
    SELECT event_type,
           n1 AS n_first,
           n2 AS n_second,
           CASE WHEN n1 = 0 OR n2 = 0 THEN 0 ELSE
           (2 * 1000000 * CAST(SUM(d) AS BIGINT) + 2 * n1 * n2)
               // (4 * n1 * n2) END AS tvd_micro,
           CAST(MAX(CASE WHEN rn = 1 THEN bucket END) AS INTEGER)
               AS top_shift_bucket
    FROM diffs
    GROUP BY event_type, n1, n2
"""

_FK_SELECTS = []
for _c, _fk, _p, _pk in FK_EDGES:
    _FK_SELECTS.append(f"""
    SELECT '{_c}.{_fk}->{_p}.{_pk}' AS relationship,
           CAST(COUNT(*) AS BIGINT) AS child_rows,
           CAST(COUNT(*) FILTER (WHERE p.k IS NULL) AS BIGINT) AS orphan_rows,
           CAST(CASE WHEN COUNT(*) = 0 THEN 0 ELSE
                (2 * COUNT(*) FILTER (WHERE p.k IS NULL) * 1000000 + COUNT(*))
                // (2 * COUNT(*)) END AS BIGINT) AS orphan_micro
    FROM {_c} c
    LEFT JOIN (SELECT DISTINCT {_pk} AS k FROM {_p}) p ON c.{_fk} = p.k
""")
ORACLES["fk_integrity_audit"] = "\nUNION ALL\n".join(_FK_SELECTS)

ORACLES["join_key_skew"] = f"""
    WITH per_key AS (
        SELECT l_suppkey, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM lineitem GROUP BY l_suppkey
    ),
    stats AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
               CAST(SUM(cnt) AS BIGINT) AS total_rows,
               MAX(cnt) AS max_cnt
        FROM per_key
    ),
    top AS (
        SELECT l_suppkey, cnt,
               CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, l_suppkey)
                    AS INTEGER) AS rank
        FROM per_key
        ORDER BY cnt DESC, l_suppkey
        LIMIT {SKEW_TOPK}
    )
    SELECT rank, l_suppkey, cnt,
           CAST((2 * cnt * 1000000 + total_rows) // (2 * total_rows) AS BIGINT)
               AS share_micro,
           n_keys, max_cnt,
           CAST((2 * total_rows * 1000000 + n_keys) // (2 * n_keys) AS BIGINT)
               AS avg_cnt_micro
    FROM top, stats
"""

_ERASE = f"% {ERASE_MOD} = {ERASE_REM}"
ORACLES["user_erasure_audit"] = f"""
    WITH counts AS (
        SELECT 'customer' AS table_name,
               CAST(COUNT(*) AS BIGINT) AS rows_total,
               CAST(COUNT(*) FILTER (WHERE c_custkey {_ERASE}) AS BIGINT)
                   AS rows_erased
        FROM customer
        UNION ALL
        SELECT 'events', CAST(COUNT(*) AS BIGINT),
               CAST(COUNT(*) FILTER (WHERE user_id {_ERASE}) AS BIGINT)
        FROM events
        UNION ALL
        SELECT 'lineitem', CAST(COUNT(*) AS BIGINT),
               CAST(COUNT(*) FILTER (WHERE o.o_orderkey IS NOT NULL) AS BIGINT)
        FROM lineitem l
        LEFT JOIN (SELECT o_orderkey FROM orders
                   WHERE o_custkey {_ERASE}) o
            ON l.l_orderkey = o.o_orderkey
        UNION ALL
        SELECT 'orders', CAST(COUNT(*) AS BIGINT),
               CAST(COUNT(*) FILTER (WHERE o_custkey {_ERASE}) AS BIGINT)
        FROM orders
    )
    SELECT table_name, rows_total, rows_erased,
           CAST(CASE WHEN rows_total = 0 THEN 0 ELSE
                (2 * rows_erased * 1000000 + rows_total) // (2 * rows_total)
                END AS BIGINT) AS erased_micro
    FROM counts
"""

ADV_BROADCAST_ROWS = 100_000  # parent fits executor memory → broadcast
ADV_SHJ_RATIO = 16  # size imbalance that favors shuffle-hash over SMJ
ADV_SALT_SHARE_MICRO = 200_000  # hottest key >20% of child rows → salt


def join_strategy_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Physical join-strategy recommendation per FK edge — the advisor
    pass a lakehouse runs from table stats BEFORE submitting the big
    job (the same decision Catalyst makes from size estimates, made
    explicit and auditable): broadcast when the parent fits executor
    memory, shuffle-hash when one side dwarfs the other (hash build of
    the small side beats sorting both), sort-merge otherwise; plus a
    salting flag when the hottest child key exceeds the skew bar,
    since no strategy survives one task owning 20% of the probe side.

    Thresholds here are row-based for determinism; a production
    advisor feeds byte sizes from ``lake_column_stats``. Per edge:
    two count scans plus one map-combinable (key → count) aggregate
    reduced to its max — nothing grows past a scan, and the report is
    |edges| rows."""
    frames = []
    for child_t, fk, parent_t, pk in FK_EDGES:
        child = load_table(spark, sf_dir, child_t)
        parent = load_table(spark, sf_dir, parent_t)
        per_key = child.groupBy(F.col(fk).alias("k")).agg(
            F.count(F.lit(1)).alias("cnt")
        )
        child_stats = per_key.agg(
            # COALESCE: SUM/MAX over an empty key frame are NULL, and
            # the advisor must still emit a defined row (empty child =>
            # broadcast, no salt) — degenerate-corpus sweep
            F.coalesce(F.sum("cnt"), F.lit(0)).cast("bigint").alias(
                "child_rows"
            ),
            F.coalesce(F.max("cnt"), F.lit(0)).cast("bigint").alias(
                "top_key_rows"
            ),
        )
        parent_stats = parent.agg(
            F.count(F.lit(1)).cast("bigint").alias("parent_rows")
        )
        frames.append(
            child_stats.crossJoin(F.broadcast(parent_stats)).select(
                F.lit(f"{child_t}.{fk}->{parent_t}.{pk}").alias(
                    "relationship"
                ),
                "child_rows",
                "parent_rows",
                F.expr(
                    "CASE WHEN child_rows = 0 THEN 0 ELSE "
                    + half_up("top_key_rows * 1000000", "child_rows")
                    + " END"
                ).alias("top_key_share_micro"),
                F.expr(
                    f"CASE WHEN parent_rows <= {ADV_BROADCAST_ROWS}"
                    f" THEN 'broadcast'"
                    f" WHEN greatest(child_rows, parent_rows) >="
                    f" {ADV_SHJ_RATIO} * least(child_rows, parent_rows)"
                    f" THEN 'shuffle_hash' ELSE 'sort_merge' END"
                ).alias("strategy"),
            )
        )
    out = reduce(DataFrame.unionByName, frames)
    return out.select(
        "*",
        (F.col("top_key_share_micro") > ADV_SALT_SHARE_MICRO).alias(
            "salt_recommended"
        ),
    )


def _advisor_sql() -> str:
    selects = []
    for child_t, fk, parent_t, pk in FK_EDGES:
        selects.append(
            f"""
    SELECT '{child_t}.{fk}->{parent_t}.{pk}' AS relationship,
           s.child_rows, p.parent_rows,
           CASE WHEN s.child_rows = 0 THEN 0 ELSE
               (2 * s.top_key_rows * 1000000 + s.child_rows)
               // (2 * s.child_rows) END AS top_key_share_micro,
           CASE WHEN p.parent_rows <= {ADV_BROADCAST_ROWS}
                THEN 'broadcast'
                WHEN GREATEST(s.child_rows, p.parent_rows) >=
                     {ADV_SHJ_RATIO} * LEAST(s.child_rows, p.parent_rows)
                THEN 'shuffle_hash' ELSE 'sort_merge' END AS strategy,
           CASE WHEN s.child_rows = 0 THEN 0 ELSE
               (2 * s.top_key_rows * 1000000 + s.child_rows)
               // (2 * s.child_rows) END > {ADV_SALT_SHARE_MICRO}
               AS salt_recommended
    FROM (
        SELECT CAST(COALESCE(SUM(cnt), 0) AS BIGINT) AS child_rows,
               CAST(COALESCE(MAX(cnt), 0) AS BIGINT) AS top_key_rows
        FROM (SELECT COUNT(*) AS cnt FROM {child_t} GROUP BY {fk})
    ) s
    CROSS JOIN (
        SELECT CAST(COUNT(*) AS BIGINT) AS parent_rows FROM {parent_t}
    ) p"""
        )
    return "\nUNION ALL\n".join(selects)


ORACLES["join_strategy_advisor"] = _advisor_sql()


T_CLOSE_MICRO = 200_000  # t-closeness threshold t = 0.2 (micro-units)


def t_closeness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness profile — the distribution-disclosure complement to
    ``k_anonymity_audit``/``l_diversity_audit``: a QI group can be
    k-anonymous AND l-diverse yet still leak if its sensitive-value
    DISTRIBUTION differs sharply from the table's (e.g. one segment
    skews to the top balance band). For the same QI pair
    (nation, market segment) and the same sensitive attribute
    (1000-unit account-balance band), report each group's Earth
    Mover's Distance to the global band distribution — for ordered
    1-D categories, EMD = Σ|cumP − cumQ| / (B−1) — and flag groups
    exceeding T_CLOSE. All arithmetic is exact integers on the common
    denominator group_size·N (micro-unit half-up only at the final
    division), so both engines agree bit-for-bit.

    Scale: one scan → (QI, band) partial-aggregate groupBy; everything
    after runs on the ≤|QI|·|bands| frame — the dense group×band grid
    is a broadcast of the ≤|bands|-row global frame onto the ≤|QI|-row
    group frame, and the cumsum window partitions by QI group, never
    by anything that grows with the table."""
    cust = load_table(spark, sf_dir, "customer")
    by_band = (
        cust.select(
            "c_nationkey",
            "c_mktsegment",
            F.floor(F.col("c_acctbal") / 1000).cast("int").alias("band"),
        )
        .groupBy("c_nationkey", "c_mktsegment", "band")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    glob = by_band.groupBy("band").agg(
        F.sum("n").cast("bigint").alias("g")
    )
    groups = by_band.groupBy("c_nationkey", "c_mktsegment").agg(
        F.sum("n").cast("bigint").alias("group_size")
    )
    # dense grid: every group × every band present anywhere
    grid = (
        groups.crossJoin(F.broadcast(glob))
        .join(
            by_band, ["c_nationkey", "c_mktsegment", "band"], "left"
        )
        .select(
            "c_nationkey",
            "c_mktsegment",
            "band",
            "group_size",
            "g",
            F.coalesce("n", F.lit(0)).alias("n"),
        )
    )
    w = (
        Window.partitionBy("c_nationkey", "c_mktsegment")
        .orderBy("band")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    totals = grid.select(
        "c_nationkey",
        "c_mktsegment",
        "group_size",
        F.sum("n").over(w).alias("cum_n"),
        F.sum("g").over(w).alias("cum_g"),
        F.count(F.lit(1))
        .over(Window.partitionBy("c_nationkey", "c_mktsegment"))
        .alias("n_bands"),
        F.sum("g")
        .over(Window.partitionBy("c_nationkey", "c_mktsegment"))
        .alias("n_total"),
    )
    return (
        totals.groupBy("c_nationkey", "c_mktsegment", "group_size")
        .agg(
            # decimal(38,0): cum_n·n_total is ~N·N — past int64 at
            # ~3e9 rows; the oracle twin sums on HUGEINT
            F.sum(
                F.abs(
                    F.col("cum_n").cast("decimal(19,0)")
                    * F.col("n_total").cast("decimal(19,0)")
                    - F.col("cum_g").cast("decimal(19,0)")
                    * F.col("group_size").cast("decimal(19,0)")
                ).cast("decimal(38,0)")
            ).alias("absdiff"),
            F.max("n_bands").alias("n_bands"),
            F.max("n_total").alias("n_total"),
        )
        .select(
            "c_nationkey",
            "c_mktsegment",
            "group_size",
            # a single global band means every distribution coincides:
            # EMD := 0 (r08 single-row sweep; ANSI crash on (B−1)=0)
            F.expr(
                "CASE WHEN n_bands <= 1 THEN cast(0 as bigint) ELSE cast("
                + half_up(
                    "absdiff * 1000000",
                    "cast(group_size as decimal(19,0)) * n_total * (n_bands - 1)",
                )
                + " as bigint) END"
            ).alias("emd_micro"),
        )
        .select(
            "c_nationkey",
            "c_mktsegment",
            "group_size",
            "emd_micro",
            (F.col("emd_micro") > T_CLOSE_MICRO).alias("breached"),
        )
    )


ORACLES["t_closeness_audit"] = f"""
    WITH by_band AS (
        SELECT c_nationkey, c_mktsegment,
               CAST(floor(c_acctbal / 1000) AS INTEGER) AS band,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM customer GROUP BY 1, 2, 3
    ),
    gdist AS (
        SELECT band, CAST(SUM(n) AS BIGINT) AS g FROM by_band GROUP BY band
    ),
    groups AS (
        SELECT c_nationkey, c_mktsegment,
               CAST(SUM(n) AS BIGINT) AS group_size
        FROM by_band GROUP BY 1, 2
    ),
    grid AS (
        SELECT gr.c_nationkey, gr.c_mktsegment, gl.band,
               gr.group_size, gl.g, COALESCE(b.n, 0) AS n
        FROM groups gr
        CROSS JOIN gdist gl
        LEFT JOIN by_band b
          ON b.c_nationkey = gr.c_nationkey
         AND b.c_mktsegment = gr.c_mktsegment
         AND b.band = gl.band
    ),
    totals AS (
        SELECT c_nationkey, c_mktsegment, group_size,
               SUM(n) OVER (
                   PARTITION BY c_nationkey, c_mktsegment
                   ORDER BY band ROWS UNBOUNDED PRECEDING
               ) AS cum_n,
               SUM(g) OVER (
                   PARTITION BY c_nationkey, c_mktsegment
                   ORDER BY band ROWS UNBOUNDED PRECEDING
               ) AS cum_g,
               COUNT(*) OVER (
                   PARTITION BY c_nationkey, c_mktsegment
               ) AS n_bands,
               SUM(g) OVER (
                   PARTITION BY c_nationkey, c_mktsegment
               ) AS n_total
        FROM grid
    ),
    agg AS (
        SELECT c_nationkey, c_mktsegment, group_size,
               CAST(SUM(abs(cum_n * n_total - cum_g * group_size))
                    AS HUGEINT) AS absdiff,
               MAX(n_bands) AS n_bands,
               MAX(n_total) AS n_total
        FROM totals GROUP BY 1, 2, 3
    )
    SELECT c_nationkey, c_mktsegment, group_size,
           CAST(CASE WHEN n_bands <= 1 THEN 0 ELSE
                (2 * absdiff * 1000000
                 + group_size * n_total * (n_bands - 1))
                // (2 * group_size * n_total * (n_bands - 1)) END
               AS BIGINT) AS emd_micro,
           CAST(CASE WHEN n_bands <= 1 THEN 0 ELSE
                (2 * absdiff * 1000000
                 + group_size * n_total * (n_bands - 1))
                // (2 * group_size * n_total * (n_bands - 1)) END
               AS BIGINT) > {T_CLOSE_MICRO} AS breached
    FROM agg
"""


ORACLES["l_diversity_audit"] = f"""
    WITH bands AS (
        SELECT c_nationkey, c_mktsegment,
               CAST(floor(c_acctbal / 1000) AS INTEGER) AS band,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM customer GROUP BY 1, 2, 3
    ),
    groups AS (
        SELECT c_nationkey, c_mktsegment,
               CAST(COUNT(*) AS BIGINT) AS n_sensitive,
               CAST(SUM(n) AS BIGINT) AS group_size
        FROM bands GROUP BY 1, 2
    )
    SELECT n_sensitive,
           CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(SUM(group_size) AS BIGINT) AS n_rows,
           n_sensitive < {L_DIV} AS risky
    FROM groups GROUP BY n_sensitive
    ORDER BY n_sensitive
"""

# Declarative data-contract expectations: (table, name, SQL predicate
# that is TRUE when the row VIOLATES the expectation). One scan per
# table evaluates all of its expectations as conditional aggregates;
# the report unpivots to a row per expectation. Spark and the DuckDB
# oracle share these predicate strings verbatim.
EXPECTATIONS: tuple[tuple[str, str, str], ...] = (
    ("events", "event_id_not_null", "event_id IS NULL"),
    ("events", "ts_not_null", "ts IS NULL"),
    ("events", "user_id_not_null", "user_id IS NULL"),
    (
        "events",
        "event_type_accepted",
        "event_type NOT IN ('click', 'view', 'purchase', 'signup',"
        " 'error')",
    ),
    ("events", "value_non_negative", "value < 0"),
    ("orders", "orderkey_not_null", "o_orderkey IS NULL"),
    ("orders", "totalprice_positive", "o_totalprice <= 0"),
    ("orders", "orderdate_not_null", "o_orderdate IS NULL"),
    (
        "orders",
        "status_accepted",
        "o_orderstatus NOT IN ('O', 'F', 'P')",
    ),
    ("lineitem", "quantity_in_range", "l_quantity < 1 OR l_quantity > 50"),
    ("lineitem", "discount_in_range", "l_discount < 0 OR l_discount > 1"),
    ("lineitem", "tax_non_negative", "l_tax < 0"),
    (
        "lineitem",
        "returnflag_accepted",
        "l_returnflag NOT IN ('A', 'N', 'R')",
    ),
)


def data_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative expectations runner (the dbt-test / Great-
    Expectations shape): every contract in ``EXPECTATIONS`` evaluated
    as a conditional aggregate, ONE scan per table no matter how many
    expectations that table carries, unpivoted to a row per
    expectation with exact violation counts and micro-unit rates.
    This is the gate a lake runs before promoting a batch: the
    violation predicate strings are shared verbatim with the DuckDB
    oracle, so the contract itself is engine-portable."""
    frames = []
    by_table: dict[str, list[tuple[str, str]]] = {}
    for table, name, pred in EXPECTATIONS:
        by_table.setdefault(table, []).append((name, pred))
    for table, checks in by_table.items():
        df = load_table(spark, sf_dir, table)
        agg = df.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            *[
                F.coalesce(
                    F.sum(F.expr(f"CASE WHEN {pred} THEN 1 ELSE 0 END")),
                    F.lit(0),
                )
                .cast("bigint")
                .alias(f"v_{i}")
                for i, (_, pred) in enumerate(checks)
            ],
        )
        stack = ", ".join(
            f"'{name}', v_{i}" for i, (name, _) in enumerate(checks)
        )
        frames.append(
            agg.select(
                F.lit(table).alias("table_name"),
                F.expr(
                    f"stack({len(checks)}, {stack}) AS (expectation,"
                    " n_violations)"
                ),
                "n_rows",
            ).select(
                "table_name",
                "expectation",
                "n_rows",
                F.col("n_violations").cast("bigint").alias("n_violations"),
                (F.col("n_violations") == 0).alias("passed"),
                F.expr(
                    "CASE WHEN n_rows = 0 THEN 0 ELSE "
                    + half_up("n_violations * 1000000", "n_rows")
                    + " END / 1000000.0D"
                ).alias("violation_rate"),
            )
        )
    return reduce(DataFrame.unionByName, frames)


def _data_quality_sql() -> str:
    by_table: dict[str, list[tuple[str, str]]] = {}
    for table, name, pred in EXPECTATIONS:
        by_table.setdefault(table, []).append((name, pred))
    selects = []
    for table, checks in by_table.items():
        for name, pred in checks:
            selects.append(f"""
    SELECT '{table}' AS table_name, '{name}' AS expectation,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COALESCE(SUM(CASE WHEN {pred} THEN 1 ELSE 0 END), 0)
                AS BIGINT) AS n_violations,
           CAST(COALESCE(SUM(CASE WHEN {pred} THEN 1 ELSE 0 END), 0)
                AS BIGINT) = 0 AS passed,
           (CASE WHEN COUNT(*) = 0 THEN 0 ELSE
            (2 * CAST(COALESCE(SUM(CASE WHEN {pred} THEN 1 ELSE 0 END), 0)
                      AS BIGINT)
             * 1000000 + COUNT(*)) // (2 * COUNT(*)) END) / 1000000.0
               AS violation_rate
    FROM {table}""")
    return "\nUNION ALL\n".join(selects)


ORACLES["data_quality_report"] = _data_quality_sql()


VACUUM_BATCH = 50  # docs per simulated micro-batch write (one file each)
VACUUM_TARGET = 8192  # compaction output target (chars stand in for bytes)
VACUUM_SMALL = 1500  # files below this are compaction-eligible


def _write_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simulated lake write manifest: one row per (source, micro-batch)
    ingest file with its payload bytes — the frame the vacuum planner
    packs and the skew audit profiles. |corpus|/VACUUM_BATCH rows,
    always orders of magnitude smaller than the data."""
    return (
        load_table(spark, sf_dir, "documents")
        .select(
            "source",
            F.expr(f"doc_id div {VACUUM_BATCH}").alias("batch_id"),
            F.col("n_chars").cast("bigint").alias("nb"),
        )
        .groupBy("source", "batch_id")
        .agg(F.sum("nb").alias("bytes"))
    )


def lake_file_skew_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-size skew profile of the write manifest, per source
    partition: file count, total/median/max bytes, half-up mean, the
    max-to-mean ratio in micro, and the small-file share — the
    dashboard that decides WHICH partitions the vacuum planner visits
    first (a partition whose max-to-mean is ~1 and small-share ~0 needs
    no compaction pass at all). Median is the exact lower median by
    (bytes, batch_id) rank — a window over manifest rows partitioned
    by source, never over documents."""
    manifest = _write_manifest(spark, sf_dir)
    w = Window.partitionBy("source").orderBy("bytes", "batch_id")
    ranked = manifest.withColumn("rn", F.row_number().over(w))
    stats = manifest.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_files"),
        F.sum("bytes").cast("bigint").alias("total_bytes"),
        F.max("bytes").cast("bigint").alias("max_bytes"),
        F.sum((F.col("bytes") < VACUUM_SMALL).cast("bigint"))
        .cast("bigint")
        .alias("small_files"),
    )
    med = (
        ranked.join(stats.select("source", "n_files"), "source")
        .where(F.col("rn") == F.expr("(n_files + 1) div 2"))
        .select("source", F.col("bytes").alias("p50_bytes"))
    )
    return (
        stats.join(med, "source")
        .select(
            "source",
            "n_files",
            "total_bytes",
            "p50_bytes",
            "max_bytes",
            F.expr(half_up("total_bytes", "n_files")).alias("mean_bytes"),
            "small_files",
        )
        .select(
            "source",
            "n_files",
            "total_bytes",
            "p50_bytes",
            "max_bytes",
            "mean_bytes",
            # zero-denominator ratio := 0 (r07 degenerate policy, ADVICE
            # r07): the half-up mean rounds to 0 when a source's files
            # total < n_files/2 bytes, so the guard is on the computed
            # mean. n_files needs no guard — it is a group count, ≥ 1
            # whenever the row exists.
            F.expr(
                "CASE WHEN mean_bytes = 0 THEN 0 ELSE "
                + half_up("max_bytes * 1000000", "mean_bytes")
                + " END"
            ).alias("max_to_mean_micro"),
            F.expr(half_up("small_files * 1000000", "n_files")).alias(
                "small_share_micro"
            ),
        )
        .orderBy("source")
    )


ORACLES["lake_file_skew_audit"] = f"""
    WITH manifest AS (
        SELECT source, doc_id // {VACUUM_BATCH} AS batch_id,
               CAST(SUM(n_chars) AS BIGINT) AS bytes
        FROM documents
        GROUP BY source, doc_id // {VACUUM_BATCH}
    ),
    stats AS (
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_files,
               CAST(SUM(bytes) AS BIGINT) AS total_bytes,
               CAST(MAX(bytes) AS BIGINT) AS max_bytes,
               CAST(SUM(CASE WHEN bytes < {VACUUM_SMALL} THEN 1 ELSE 0 END)
                    AS BIGINT) AS small_files
        FROM manifest GROUP BY source
    ),
    med AS (
        SELECT source, bytes AS p50_bytes FROM (
            SELECT source, bytes, batch_id,
                   ROW_NUMBER() OVER (PARTITION BY source
                                      ORDER BY bytes, batch_id) AS rn,
                   CAST(COUNT(*) OVER (PARTITION BY source) AS BIGINT)
                       AS n_files
            FROM manifest
        ) WHERE rn = (n_files + 1) // 2
    )
    SELECT s.source, s.n_files, s.total_bytes, m.p50_bytes, s.max_bytes,
           CAST((2 * s.total_bytes + s.n_files) // (2 * s.n_files)
                AS BIGINT) AS mean_bytes,
           CAST(CASE WHEN (2 * s.total_bytes + s.n_files)
                          // (2 * s.n_files) = 0 THEN 0 ELSE
                (2 * s.max_bytes * 1000000
                 + (2 * s.total_bytes + s.n_files) // (2 * s.n_files))
                // (2 * ((2 * s.total_bytes + s.n_files)
                         // (2 * s.n_files))) END AS BIGINT)
               AS max_to_mean_micro,
           CAST((2 * s.small_files * 1000000 + s.n_files)
                // (2 * s.n_files) AS BIGINT) AS small_share_micro
    FROM stats s JOIN med m ON s.source = m.source
    ORDER BY s.source
"""


def vacuum_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction (OPTIMIZE/VACUUM) planner — the sibling of
    ``layout_zorder_stats`` on the write side: the documents corpus was
    landed as one file per (source, micro-batch) ingest write (the
    classic streaming-sink pathology), and the planner emits, per
    source partition, the bin-packed rewrite: which files are small
    enough to compact (< VACUUM_SMALL), how many target-sized outputs
    the running-byte-sum packing produces, and the share of partition
    bytes the rewrite touches. This is the job a lakehouse table
    service runs nightly; the touched-bytes share is its I/O budget.

    Scale: the manifest frame (one row per file) is |corpus|/batch-size
    — always orders of magnitude smaller than the data, so the
    per-source packing window runs over manifest rows, never documents;
    the only corpus-sized operation is the one groupBy building the
    manifest (map-side combinable). All shares are exact half-up
    micro-unit integers."""
    manifest = _write_manifest(spark, sf_dir)
    # bin-pack ONLY the small files, per source, in write (batch) order:
    # output file id = prior small-bytes div TARGET — pure arithmetic,
    # no per-bin state
    w = (
        Window.partitionBy("source")
        .orderBy("batch_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    packed = (
        manifest.filter(F.col("bytes") < VACUUM_SMALL)
        .withColumn(
            "prior", F.coalesce(F.sum("bytes").over(w), F.lit(0))
        )
        .withColumn("out_file", F.expr(f"prior div {VACUUM_TARGET}"))
    )
    small = packed.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("small_files"),
        F.sum("bytes").cast("bigint").alias("small_bytes"),
        F.countDistinct("out_file").cast("bigint").alias("out_files"),
    )
    totals = manifest.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_files"),
        F.sum("bytes").cast("bigint").alias("total_bytes"),
    )
    return (
        totals.join(small, "source", "left")
        .select(
            "source",
            "n_files",
            "total_bytes",
            F.coalesce("small_files", F.lit(0)).alias("small_files"),
            F.coalesce("small_bytes", F.lit(0)).alias("small_bytes"),
            F.coalesce("out_files", F.lit(0)).alias("out_files"),
            (
                F.coalesce("small_files", F.lit(0))
                - F.coalesce("out_files", F.lit(0))
            ).alias("files_saved"),
            # zero-denominator rate := 0 (r07 degenerate policy, ADVICE
            # r07): a partition holding only zero-byte files has no I/O
            # budget to spend
            F.expr(
                "CASE WHEN total_bytes = 0 THEN 0 ELSE "
                + half_up("coalesce(small_bytes, 0) * 1000000", "total_bytes")
                + " END"
            ).alias("rewrite_share_micro"),
        )
        .orderBy("source")
    )


ORACLES["vacuum_compaction_plan"] = f"""
    WITH manifest AS (
        SELECT source, doc_id // {VACUUM_BATCH} AS batch_id,
               CAST(SUM(n_chars) AS BIGINT) AS bytes
        FROM documents
        GROUP BY source, doc_id // {VACUUM_BATCH}
    ),
    packed AS (
        SELECT source, bytes,
               CAST(COALESCE(SUM(bytes) OVER (
                   PARTITION BY source ORDER BY batch_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS BIGINT) // {VACUUM_TARGET} AS out_file
        FROM manifest WHERE bytes < {VACUUM_SMALL}
    ),
    small AS (
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS small_files,
               CAST(SUM(bytes) AS BIGINT) AS small_bytes,
               CAST(COUNT(DISTINCT out_file) AS BIGINT) AS out_files
        FROM packed GROUP BY source
    ),
    totals AS (
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_files,
               CAST(SUM(bytes) AS BIGINT) AS total_bytes
        FROM manifest GROUP BY source
    )
    SELECT t.source, t.n_files, t.total_bytes,
           CAST(COALESCE(s.small_files, 0) AS BIGINT) AS small_files,
           CAST(COALESCE(s.small_bytes, 0) AS BIGINT) AS small_bytes,
           CAST(COALESCE(s.out_files, 0) AS BIGINT) AS out_files,
           CAST(COALESCE(s.small_files, 0) - COALESCE(s.out_files, 0)
                AS BIGINT) AS files_saved,
           CAST(CASE WHEN t.total_bytes = 0 THEN 0 ELSE
                (2 * COALESCE(s.small_bytes, 0) * 1000000 + t.total_bytes)
                // (2 * t.total_bytes) END AS BIGINT) AS rewrite_share_micro
    FROM totals t LEFT JOIN small s ON t.source = s.source
    ORDER BY t.source
"""


def partition_pruning_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-key selection audit: for each candidate partition
    layout of ``orders`` (by order month, by priority, by customer
    hash-bucket) and each point-probe dimension, the exact expected
    fraction of table bytes scanned after partition pruning, assuming
    the probed value is uniform over the dimension's distinct values.
    A layout prunes perfectly on its own key and degrades to the share
    of partitions that *contain* the probed value elsewhere — the
    number that decides which column earns the partition key on a
    100 TB table (``layout_zorder_stats`` answers the same question
    one level down, for file zone maps inside a partition).

    E[scan] = Σ_v bytes(partitions containing v) / (V · total_bytes),
    and Σ_v collapses to a sum over DISTINCT (partition, value) pairs.
    Plan shape: ONE corpus scan builds the full 3-dimension cell frame
    (≤ |months|·|priorities|·32 rows, persisted — a bounded aggregate,
    not data); a single 9×-replicated LONG frame (one row per
    layout×probe×cell) then feeds ONE aggregation chain — (combo,
    part, val) → (combo, part) → combo — so all nine metrics cost
    three shuffles of a bounded frame. The first cut re-aggregated
    the corpus per cell (21 scans of orders for a 9-row report); the
    second derived each combo from the cache but as a 9-branch union
    whose ~30 tiny sequential AQE stages dominated wall-clock (7.5 s
    for 9 rows at sf0.1, the most expensive query in the r08a bench —
    the long-frame chain runs in ~1 s).
    """
    dims = ("month", "priority", "cust_bucket")
    orders = load_table(spark, sf_dir, "orders").select(
        F.expr(
            "CAST(year(o_orderdate) * 100 + month(o_orderdate) AS BIGINT)"
        ).alias("month"),
        F.expr("CAST(o_custkey % 32 AS BIGINT)").alias("cust_bucket"),
        F.col("o_orderpriority").alias("priority"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("nb"),
    )
    cells = (
        orders.groupBy("month", "priority", "cust_bucket")
        .agg(F.sum("nb").alias("nb"))
        .persist()
    )
    # the long frame: every (layout, probe) combo sees every cell once;
    # casts to string are injective per dimension, so distinct counts
    # and groupings are unchanged
    combos = ",".join(
        f"struct('{layout}' as layout, '{probe}' as probe_dim,"
        f" cast({layout} as string) as part,"
        f" cast({probe} as string) as val, nb)"
        for layout in dims
        for probe in dims
    )
    long_frame = cells.select(
        F.expr(f"explode(array({combos}))").alias("x")
    ).select("x.*")
    pv = (
        long_frame.groupBy("layout", "probe_dim", "part", "val")
        .agg(F.sum("nb").alias("nb_pv"))
        .persist()  # bounded (9 × cells); feeds the chain AND totals
    )
    per_part = pv.groupBy("layout", "probe_dim", "part").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vals"),
        F.sum("nb_pv").alias("part_bytes"),
    )
    per_combo = per_part.groupBy("layout", "probe_dim").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_parts"),
        # hit_bytes×1e6 exceeds int64 (cents × thousands of
        # values × 1e6) → DECIMAL(38,0), ≡ DuckDB HUGEINT
        F.sum(
            F.col("part_bytes").cast("decimal(38,0)") * F.col("n_vals")
        ).alias("hit_bytes"),
        F.sum("part_bytes").alias("total_bytes"),
    )
    # a probe dimension's distinct-value universe is layout-independent:
    # read it off one layout's slice of the pair frame
    totals = (
        pv.where(F.col("layout") == dims[0])
        .groupBy("probe_dim")
        .agg(F.countDistinct("val").cast("bigint").alias("n_vals_total"))
    )
    # the report dimension is the LITERAL 9-combo grid (like the states
    # dimension): on an empty corpus the old per-branch global
    # aggregates each still emitted their one row, and the DuckDB twin
    # always does — a bare groupBy would emit 0 rows and diverge, so
    # the grid left-joins the chain and the empty side displays the
    # aggregate-on-empty values (counts 0, byte sums NULL)
    base = local_frame(
        spark,
        [(layout, probe) for layout in dims for probe in dims],
        "layout string, probe_dim string",
    )
    return (
        base.join(per_combo, ["layout", "probe_dim"], "left")
        .join(F.broadcast(totals), "probe_dim", "left")
        .select(
            "layout",
            "probe_dim",
            F.coalesce("n_parts", F.lit(0).cast("bigint")).alias(
                "n_parts"
            ),
            F.coalesce("n_vals_total", F.lit(0).cast("bigint")).alias(
                "n_vals_total"
            ),
            F.expr(
                "cast("
                + half_up(
                    "cast(hit_bytes as decimal(38,0)) * 1000000",
                    "cast(coalesce(n_vals_total, 0) as decimal(38,0)) * total_bytes",
                )
                + " as bigint)"
            ).alias("scan_frac_micro"),
        )
        .orderBy("layout", "probe_dim")
    )


def _pruning_sql() -> str:
    dims = {
        "month": "CAST(year(o_orderdate) * 100 + month(o_orderdate)"
        " AS BIGINT)",
        "priority": "o_orderpriority",
        "cust_bucket": "CAST(o_custkey % 32 AS BIGINT)",
    }
    selects = []
    for layout in dims:
        for probe in dims:
            selects.append(f"""
    SELECT '{layout}' AS layout, '{probe}' AS probe_dim,
           n_parts, n_vals_total,
           CAST((2 * CAST(hit_bytes AS HUGEINT) * 1000000
                 + CAST(n_vals_total AS HUGEINT) * total_bytes)
                // (2 * CAST(n_vals_total AS HUGEINT) * total_bytes)
                AS BIGINT) AS scan_frac_micro
    FROM (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_parts,
               CAST(SUM(part_bytes * n_vals) AS HUGEINT) AS hit_bytes,
               CAST(SUM(part_bytes) AS BIGINT) AS total_bytes
        FROM (
            SELECT part, SUM(nb) AS part_bytes FROM (
                SELECT {dims[layout]} AS part,
                       CAST(round(o_totalprice * 100) AS BIGINT) AS nb
                FROM orders) GROUP BY part
        ) b JOIN (
            SELECT part, CAST(COUNT(*) AS BIGINT) AS n_vals FROM (
                SELECT DISTINCT {dims[layout]} AS part,
                       {dims[probe]} AS v
                FROM orders) GROUP BY part
        ) p USING (part)
    ), (
        SELECT CAST(COUNT(DISTINCT {dims[probe]}) AS BIGINT)
               AS n_vals_total
        FROM orders
    )""")
    return "\nUNION ALL\n".join(selects) + "\n    ORDER BY layout, probe_dim"


ORACLES["partition_pruning_audit"] = _pruning_sql()


def lake_clustering_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap (stabbing) depth of the write layout, per
    source and dimension — the number an OPTIMIZE/Z-ORDER planner
    reads to decide whether file-level min/max pruning works at all:
    a point probe on dimension d must open every file whose [min, max]
    spans the probe value, so the average stabbing depth over the
    covered domain IS the expected files-read amplification (and
    max_depth its worst case). The write dimension (doc_id — files
    are id-contiguous by construction) grades depth 1; the unwritten
    dimension (n_chars) grades depth ≈ n_files: the pair shows the
    metric separating a clustered from an unclustered layout of the
    same table (``layout_zorder_stats`` reports range widths; this
    reports the read amplification those widths cause).

    Shape: ONE corpus scan reduces map-side to per-file min/max cells
    at the vacuum planner's |corpus|/VACUUM_BATCH manifest
    granularity; the classic sweep-line then runs entirely on the
    2-events-per-file boundary frame — +1 at lo, −1 at hi+1, depth =
    running sum, spans from lead() — so overlap costs
    O(files·log files), never the quadratic file×file range self-join
    it replaces. covered_points needs no zero guard: every file has
    hi ≥ lo, so each (source, dim) group covers ≥ 1 point. The area
    numerator rides DECIMAL — area × 2e6 exceeds int64 once
    files × span passes ~4.6e12."""
    docs = load_table(spark, sf_dir, "documents").select(
        "source",
        F.expr(f"doc_id div {VACUUM_BATCH}").alias("batch_id"),
        F.col("doc_id").cast("bigint").alias("id"),
        F.col("n_chars").cast("bigint").alias("ch"),
    )
    files = docs.groupBy("source", "batch_id").agg(
        F.min("id").alias("lo_id"),
        F.max("id").alias("hi_id"),
        F.min("ch").alias("lo_ch"),
        F.max("ch").alias("hi_ch"),
    )
    ivals = files.select(
        "source",
        F.expr(
            "stack(2, 'doc_id', lo_id, hi_id, 'n_chars', lo_ch, hi_ch)"
            " as (dim, lo, hi)"
        ),
    ).persist()  # 2 rows per file; feeds both event sides + n_files
    nf = ivals.groupBy("source", "dim").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_files")
    )
    events = ivals.select(
        "source", "dim", F.col("lo").alias("pos"), F.lit(1).alias("d")
    ).unionByName(
        ivals.select(
            "source",
            "dim",
            (F.col("hi") + 1).alias("pos"),
            F.lit(-1).alias("d"),
        )
    )
    boundaries = events.groupBy("source", "dim", "pos").agg(
        F.sum("d").alias("dd")
    )
    w = Window.partitionBy("source", "dim").orderBy("pos")
    runs = boundaries.select(
        "source",
        "dim",
        F.sum("dd")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("depth"),
        (F.lead("pos").over(w) - F.col("pos")).alias("span"),
    )
    agg = runs.groupBy("source", "dim").agg(
        F.max("depth").cast("bigint").alias("max_depth"),
        F.sum(F.when(F.col("depth") >= 1, F.col("span")).otherwise(0))
        .cast("bigint")
        .alias("covered_points"),
        F.sum(
            F.when(
                F.col("depth") >= 1, F.col("depth") * F.col("span")
            ).otherwise(0)
        )
        .cast("decimal(38,0)")
        .alias("_area"),
    )
    return (
        agg.join(nf, ["source", "dim"])
        .select(
            "source",
            "dim",
            "n_files",
            "max_depth",
            "covered_points",
            F.expr(
                "cast(" + half_up("_area * 1000000", "covered_points") + " as bigint)"
            ).alias("avg_depth_micro"),
        )
        .orderBy("source", "dim")
    )


# sweep-line twin: same boundary events, same lead() spans; the final
# position of every (source, dim) group always closes to depth 0, so
# its NULL span never meets the depth >= 1 branch in either engine
ORACLES["lake_clustering_depth"] = f"""
    WITH files AS (
        SELECT source, doc_id // {VACUUM_BATCH} AS batch_id,
               CAST(MIN(doc_id) AS BIGINT) AS lo_id,
               CAST(MAX(doc_id) AS BIGINT) AS hi_id,
               CAST(MIN(n_chars) AS BIGINT) AS lo_ch,
               CAST(MAX(n_chars) AS BIGINT) AS hi_ch
        FROM documents GROUP BY 1, 2
    ),
    ivals AS (
        SELECT source, 'doc_id' AS dim, lo_id AS lo, hi_id AS hi
        FROM files
        UNION ALL
        SELECT source, 'n_chars' AS dim, lo_ch AS lo, hi_ch AS hi
        FROM files
    ),
    nf AS (
        SELECT source, dim, CAST(COUNT(*) AS BIGINT) AS n_files
        FROM ivals GROUP BY 1, 2
    ),
    boundaries AS (
        SELECT source, dim, pos, SUM(d) AS dd FROM (
            SELECT source, dim, lo AS pos, 1 AS d FROM ivals
            UNION ALL
            SELECT source, dim, hi + 1 AS pos, -1 AS d FROM ivals
        ) ev GROUP BY 1, 2, 3
    ),
    runs AS (
        SELECT source, dim,
               SUM(dd) OVER (PARTITION BY source, dim ORDER BY pos
                             ROWS UNBOUNDED PRECEDING) AS depth,
               lead(pos) OVER (PARTITION BY source, dim ORDER BY pos)
                   - pos AS span
        FROM boundaries
    ),
    agg AS (
        SELECT source, dim,
               CAST(MAX(depth) AS BIGINT) AS max_depth,
               CAST(SUM(CASE WHEN depth >= 1 THEN span ELSE 0 END)
                    AS BIGINT) AS covered_points,
               CAST(SUM(CASE WHEN depth >= 1 THEN depth * span
                             ELSE 0 END) AS HUGEINT) AS area
        FROM runs GROUP BY 1, 2
    )
    SELECT a.source, a.dim, n.n_files, a.max_depth, a.covered_points,
           CAST((2 * a.area * 1000000 + a.covered_points)
                // (2 * a.covered_points) AS BIGINT) AS avg_depth_micro
    FROM agg a JOIN nf n ON a.source = n.source AND a.dim = n.dim
    ORDER BY a.source, a.dim
"""


QUERIES = {
    # round-8 addition first: registry order = driver grading order
    "lake_clustering_depth": lake_clustering_depth,
    # round-7 entries next
    "vacuum_compaction_plan": vacuum_compaction_plan,
    "lake_file_skew_audit": lake_file_skew_audit,
    "partition_pruning_audit": partition_pruning_audit,
    # round-4h entry
    "data_quality_report": data_quality_report,
    # new-in-round-4f entries next
    "join_strategy_advisor": join_strategy_advisor,
    "t_closeness_audit": t_closeness_audit,
    # round-4d entry
    "lake_column_stats": lake_column_stats,
    # round-4c entry
    "l_diversity_audit": l_diversity_audit,
    # round-4b entries
    "layout_zorder_stats": layout_zorder_stats,
    "k_anonymity_audit": k_anonymity_audit,
    "join_cardinality_estimate": join_cardinality_estimate,
    "value_drift_tvd": value_drift_tvd,
    "fk_integrity_audit": fk_integrity_audit,
    "join_key_skew": join_key_skew,
    "user_erasure_audit": user_erasure_audit,
}
