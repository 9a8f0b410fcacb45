"""Structured Streaming surface: sources, sinks, and the streaming
forms of the engine's operators.

The reference's runtime shape (SURVEY.md §3) is Kafka source →
lineage → Kafka sink with checkpointing, one blocking query per
process (``srapk_structure_streaming.py:12-16,181-187``). This module
keeps that shape but factors source/sink out of the lineages
(plans/reference_queries.py builders run unchanged over batch or
streaming frames — the Structured Streaming contract).

Sources:
- ``rsvp_file_stream``: replayable JSONL directory source — the test
  surrogate for the Kafka topic (1 file ≈ 1 micro-batch;
  ``maxFilesPerTrigger=1``). Schema matches the Kafka envelope after
  the reference's cast: (value STRING, timestamp STRING).
- ``kafka_reader_options``: the exact option set for the production
  Kafka source, kept as data so deployments don't re-derive it.

Sinks:
- ``to_memory_sink``: bounded test sink (named in-memory table).
- ``to_kafka_sink``: production path (value column → topic) with
  mandatory checkpointing, mirroring
  ``srapk_structure_streaming.py:181-186``.

Scale posture: RocksDB state store (session.py), watermark on every
stateful query (unbounded state is a deploy-blocker at 100 TB),
``dropDuplicatesWithinWatermark`` for ingest dedup, and
``applyInPandasWithState`` for custom state machines (sessionization).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

ENVELOPE_SCHEMA = StructType(
    [
        StructField("value", StringType()),
        StructField("timestamp", StringType()),
    ]
)


def rsvp_file_stream(
    spark: SparkSession, fixture_dir: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """JSONL directory → streaming (value, timestamp) envelope frames,
    one file per micro-batch — a replayable surrogate for the Kafka
    source at ``srapk_structure_streaming.py:12-16``."""
    return (
        spark.readStream.schema(ENVELOPE_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .json(fixture_dir)
    )


def kafka_reader_options(bootstrap_servers: str, topic: str) -> dict[str, str]:
    """Production Kafka source options (the reference's, as data)."""
    return {
        "kafka.bootstrap.servers": bootstrap_servers,
        "subscribe": topic,
        "startingOffsets": "earliest",
        "failOnDataLoss": "false",
    }


def read_kafka_stream(
    spark: SparkSession, bootstrap_servers: str, topic: str
) -> DataFrame:
    """Kafka source → cast envelope, exactly the reference's first two
    operators (``srapk_structure_streaming.py:12-16``). Requires the
    spark-sql-kafka package on the classpath; not exercised in tests
    (no broker in this environment)."""
    reader = spark.readStream.format("kafka")
    for k, v in kafka_reader_options(bootstrap_servers, topic).items():
        reader = reader.option(k, v)
    return reader.load().selectExpr(
        "CAST(value AS STRING)", "CAST(timestamp AS STRING)"
    )


def to_memory_sink(
    df: DataFrame, name: str, output_mode: str = "append"
):
    """Test sink: named in-memory table, processAllAvailable-friendly."""
    return (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .start()
    )


def with_ingest_metrics(df: DataFrame, name: str = "ingest_metrics") -> DataFrame:
    """Attach per-micro-batch data-quality metrics via ``observe()`` —
    the production observability hook: row count, decode-failure count,
    and max event-time ride the batch as observed metrics (surfaced in
    every StreamingQueryProgress / QueryProgressEvent), costing one
    accumulator pass fused into the existing plan instead of a second
    aggregation query over the stream.

    Works on any frame with the decoded RSVP ``data`` struct.
    PERMISSIVE ``from_json`` turns a malformed record into a struct of
    all-NULL fields (not a NULL struct — the same predicate
    ``rsvp_decode_failures`` pins), so ``n_corrupt`` is the live
    decode-failure meter the reference had no way to see."""
    corrupt = (
        F.col("data.rsvp_id").isNull()
        & F.col("data.group").isNull()
        & F.col("data.event").isNull()
    )
    return df.observe(
        name,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(corrupt.cast("bigint")).alias("n_corrupt"),
        F.max("timestamp").alias("max_event_ts"),
    )


def to_console_sink(
    df: DataFrame, output_mode: str = "append", truncate: bool = True
):
    """Debug sink (``srapk_structure_streaming.py:167-171``): print each
    micro-batch to stdout. Dev affordance only — never a deploy path."""
    return (
        df.writeStream.format("console")
        .option("truncate", str(truncate).lower())
        .outputMode(output_mode)
        .start()
    )


def to_kafka_sink(
    df: DataFrame,
    bootstrap_servers: str,
    topic: str,
    checkpoint_dir: str,
    output_mode: str = "append",
):
    """Production sink (``srapk_structure_streaming.py:181-186``):
    exactly-once via checkpointed offsets + idempotent-ish topic write."""
    return (
        df.writeStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("topic", topic)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode(output_mode)
        .start()
    )


def to_foreach_batch_sink(
    df: DataFrame,
    batch_fn,
    checkpoint_dir: str,
    output_mode: str = "append",
    available_now: bool = False,
):
    """foreachBatch sink: arbitrary per-micro-batch batch logic (merge,
    multi-sink fan-out, JDBC upsert) with the engine's delivery
    contract — Spark may REPLAY a batch_id after failure, so batch_fn
    must be idempotent per batch_id. ``available_now=True`` drains all
    available input then stops (the batch-over-stream trigger for
    backfills)."""
    writer = (
        df.writeStream.foreachBatch(batch_fn)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode(output_mode)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def idempotent_parquet_batch_writer(out_dir: str):
    """batch_fn for to_foreach_batch_sink: each micro-batch lands in
    ``out_dir/batch_id=N`` with overwrite, so a replayed batch
    overwrites its own output instead of duplicating — exactly-once
    effect on top of at-least-once delivery."""

    def write(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(f"{out_dir}/batch_id={batch_id}")

    return write


def dlq_split_batch_writer(out_dir: str, reject_sql: str, reason_sql: str):
    """batch_fn for ``to_foreach_batch_sink``: the dead-letter-queue
    split every production ingest runs — rows failing ``reject_sql``
    quarantine to ``out_dir/dlq`` with a ``reject_reason`` column
    (``reason_sql``), the rest land in ``out_dir/good``; both sides
    partition by batch_id with overwrite so a replayed batch rewrites
    its own output (exactly-once effect on at-least-once delivery).

    This is the streaming form of the reference's decode-failure
    handling (``srapk_structure_streaming.py``'s from_json yields NULL
    structs it silently filters; here the failures are retained and
    attributed instead of dropped). Partition contract: good ∪ dlq is
    row-exactly the input batch — nothing silently vanishes.

    Scale: one persisted micro-batch scan feeds both writes; the split
    is a narrow filter, no shuffle, and the DLQ side is tiny by
    construction so its files stay small without coalescing."""

    def write(batch_df: DataFrame, batch_id: int) -> None:
        flagged = batch_df.withColumn("_reject", F.expr(reject_sql)).persist()
        try:
            (
                flagged.where(~F.col("_reject"))
                .drop("_reject")
                .write.mode("overwrite")
                .parquet(f"{out_dir}/good/batch_id={batch_id}")
            )
            (
                flagged.where(F.col("_reject"))
                .drop("_reject")
                .withColumn("reject_reason", F.expr(reason_sql))
                .write.mode("overwrite")
                .parquet(f"{out_dir}/dlq/batch_id={batch_id}")
            )
        finally:
            flagged.unpersist()

    return write


def upsert_state_batch_writer(out_dir: str, key_cols, order_cols):
    """batch_fn for ``to_foreach_batch_sink``: streaming MERGE-upsert
    without a table format — maintains a compacted latest-row-per-key
    state table across micro-batches. State_N = latest-per-key of
    (State_{N-1} ∪ batch_N), written whole to ``out_dir/v=N``; readers
    take the highest committed version (``read_upsert_state``).

    Versioned-overwrite makes batch replays idempotent: re-running
    batch N recomputes v=N from the untouched v=N-1 and the replayed
    rows — the same exactly-once-effect contract as
    ``idempotent_parquet_batch_writer``, extended to keyed state.
    ``order_cols`` break ties descending (newest wins; include a
    unique id after the event time so replays are deterministic).

    Scale: the merge is one key-partitioned window over
    |state| + |batch| rows — the compact-on-write shape; nothing
    collects to the driver. A lakehouse deployment swaps this for
    MERGE INTO on a transactional table; the streaming contract
    (foreachBatch + idempotent per batch_id) is identical."""
    from pyspark.sql import Window

    def write(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        cols = batch_df.columns
        merged = batch_df
        if batch_id > 0:
            prev = spark.read.parquet(f"{out_dir}/v={batch_id - 1}")
            merged = prev.select(cols).unionByName(batch_df)
        w = Window.partitionBy(*key_cols).orderBy(
            *[F.col(c).desc() for c in order_cols]
        )
        (
            merged.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .drop("_rn")
            .write.mode("overwrite")
            .parquet(f"{out_dir}/v={batch_id}")
        )

    return write


def merge_upsert_partitioned_writer(
    out_dir: str, part_col: str, part_expr: str, key_cols, order_cols
):
    """batch_fn for ``to_foreach_batch_sink``: partitioned COPY-ON-WRITE
    MERGE over plain parquet — the Delta/Iceberg ``MERGE INTO`` file
    layout without a table format (SURVEY §7.4b item 3). Where
    ``upsert_state_batch_writer`` rewrites the WHOLE state per batch
    (correct, but a full-table rewrite at 100 TB), this writer derives
    the touched-partition set from the batch's keys and rewrites ONLY
    those partition directories:

    1. the batch's distinct partition values are collected — bounded by
       the batch's key spread, the same aggregate-not-data class as the
       other writers' bookkeeping;
    2. ONLY those partitions of the current state are read back
       (partition pruning is the ACID surrogate: untouched partition
       FILES are never opened, never rewritten — pinned byte-for-byte
       by test);
    3. state ∪ batch merges latest-row-per-key (``order_cols`` DESC,
       ties broken deterministically) and lands via dynamic partition
       overwrite, so exactly the touched directories swap.

    Replay idempotence needs no versioning here: latest-per-key is
    idempotent under re-merging the same rows — MERGE(S ∪ B ∪ B) ≡
    MERGE(S ∪ B) — provided ``order_cols`` end in a unique tiebreak.
    A lakehouse deployment swaps step 3 for a transactional commit;
    steps 1–2 and the merge plan are identical.

    CONTRACT: ``part_expr`` must be a pure function of ``key_cols``
    (e.g. ``"user_id % 8"``) — partition-pruned COW is only correct
    when a key's partition value can never change between batches; a
    value-derived partition (say, the update date) would strand the
    key's stale row in a directory this batch never rewrites, and
    reads would return two rows for the key. Mechanical enforcement
    (first batch, fail-fast): the expression must RESOLVE against a
    keys-only projection (catches any non-key column reference), must
    be DETERMINISTIC per Catalyst (catches rand()-style expressions),
    and must reference at least one key column (catches literals and
    batch-varying zero-arg calls like current_date(), which Catalyst
    marks deterministic yet violate purity across batches). What this
    cannot catch: a deterministic key-referencing expression that
    smuggles batch state in some other way — that residue is the
    caller's contract, not a checked invariant (ADVICE r07)."""
    from pyspark.sql import Window

    def write(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        state_dir = f"{out_dir}/state"
        contract = (
            f"part_expr {part_expr!r} must be a pure function of the "
            f"key columns {list(key_cols)}: partition-pruned COW "
            "MERGE is only correct when a key's partition value "
            "never changes between batches"
        )
        try:
            probe = batch_df.select(*key_cols).select(
                F.expr(part_expr).alias("_p")
            )
        except Exception as e:
            raise ValueError(contract) from e
        try:  # classic-JVM introspection; absent on exotic backends
            jexpr = probe._jdf.queryExecution().analyzed().expressions().head()
            deterministic = jexpr.deterministic()
            refs_keys = not jexpr.references().isEmpty()
        except Exception:
            deterministic = refs_keys = True
        if not deterministic:
            raise ValueError(contract + " (expression is nondeterministic)")
        if not refs_keys:
            raise ValueError(
                contract + " (expression references no key column — a "
                "constant or zero-arg call like current_date() can "
                "change a key's partition between batches)"
            )
        b = batch_df.withColumn(part_col, F.expr(part_expr))
        touched = [r[0] for r in b.select(part_col).distinct().collect()]
        cols = b.columns
        merged = b
        # isin() never matches NULL — a null partition value (part_expr
        # of a null key component) gets its own explicit predicate so
        # its state rows are still read back and merged
        pruned = F.col(part_col).isin(
            [t for t in touched if t is not None]
        )
        if any(t is None for t in touched):
            pruned = pruned | F.col(part_col).isNull()
        try:
            state = spark.read.parquet(state_dir).where(pruned)
            merged = state.select(cols).unionByName(b)
        except Exception as e:  # first batch: no state yet
            if "PATH_NOT_FOUND" not in str(e) and "Path does not exist" not in str(e):
                raise
        w = Window.partitionBy(*key_cols).orderBy(
            *[F.col(c).desc() for c in order_cols]
        )
        out = (
            merged.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .drop("_rn")
        )
        prev_mode = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            out.write.mode("overwrite").partitionBy(part_col).parquet(state_dir)
        finally:
            spark.conf.set(
                "spark.sql.sources.partitionOverwriteMode", prev_mode
            )

    return write


def read_upsert_state(spark: SparkSession, out_dir: str) -> DataFrame:
    """Current state = the highest committed version dir."""
    import os

    versions = [
        int(d.split("=", 1)[1])
        for d in os.listdir(out_dir)
        if d.startswith("v=")
    ]
    return spark.read.parquet(f"{out_dir}/v={max(versions)}")


DRIFT_BUCKETS = 10


def drift_monitor_batch_writer(
    ref_cells: dict[int, int], lo: float, hi: float, out_dir: str
):
    """batch_fn for ``to_foreach_batch_sink``: per micro-batch
    distribution-drift alarm — bucket the batch's ``value`` on the
    FIXED [lo, hi) equi-width grid a reference corpus defined, compute
    the exact total-variation distance against the reference histogram
    (the same |o_b·n_ref − o_ref·n_b| integer reformulation as
    ``operators.audit.value_drift_tvd``), and land ONE metrics row per
    batch in ``out_dir/batch_id=N`` (overwrite — idempotent under
    batch replay, same contract as idempotent_parquet_batch_writer).

    Everything stays on executors: the reference histogram is a
    ≤ DRIFT_BUCKETS-row broadcast, the batch reduces to bucket cells,
    and the alarm row is WRITTEN, not collected — the shape a 100 TB
    ingest pipeline's per-batch quality gate runs."""
    n_ref = sum(ref_cells.values())

    def write(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        ref = spark.createDataFrame(
            sorted(ref_cells.items()), "bucket INT, o_ref BIGINT"
        )
        bucket = F.least(
            F.lit(DRIFT_BUCKETS - 1),
            F.floor(
                (F.col("value") - F.lit(lo)) * DRIFT_BUCKETS / F.lit(hi - lo)
            ),
        ).cast("int")
        cells = (
            batch_df.select(bucket.alias("bucket"))
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).cast("bigint").alias("o_b"))
        )
        joined = (
            ref.join(cells, "bucket", "full_outer")
            .select(
                F.coalesce("o_b", F.lit(0)).alias("o_b"),
                F.coalesce("o_ref", F.lit(0)).alias("o_ref"),
            )
        )
        tot = joined.agg(F.sum("o_b").alias("n_b"))
        out = (
            joined.crossJoin(F.broadcast(tot))
            .agg(
                F.first("n_b").alias("n_batch"),
                F.sum(
                    F.abs(
                        F.col("o_b") * F.lit(n_ref) - F.col("o_ref") * F.col("n_b")
                    )
                ).alias("num"),
            )
            .select(
                F.lit(batch_id).cast("bigint").alias("batch_id"),
                "n_batch",
                F.expr(
                    f"(2 * 1000000 * num + 2 * n_batch * {n_ref})"
                    f" div (4 * n_batch * {n_ref})"
                ).alias("tvd_micro"),
            )
        )
        out.write.mode("overwrite").parquet(f"{out_dir}/batch_id={batch_id}")

    return write


def stream_dedup(
    events: DataFrame, keys: list[str], watermark_col: str, delay: str
) -> DataFrame:
    """Streaming exact dedup with bounded state: duplicates arriving
    within the watermark horizon are dropped; state older than the
    horizon is evicted. The streaming form of dedup.exact_dedup."""
    return events.withWatermark(watermark_col, delay).dropDuplicatesWithinWatermark(
        keys
    )


def incremental_dedup_batch_writer(out_dir: str):
    """batch_fn for ``to_foreach_batch_sink``: streaming incremental
    near-dup dedup — each arriving document micro-batch is checked
    against the ACCUMULATED corpus (never against itself), every doc
    gets a verdict (novel, or dup of its best prior match), and the
    batch's signatures then fold into the corpus. This is
    ``operators/dedup.incremental_dedup`` — the daily-increment shape —
    as a stream; SURVEY §7.4b item 1.

    State layout (parquet, no table format needed):
      {out_dir}/sigs/ingest_batch=N  — the corpus signature table,
        one partition per committed batch;
      {out_dir}/verdicts/batch_id=N  — per-batch verdict output.
    Both are whole-partition overwrites keyed by batch_id, and the
    corpus read filters ``ingest_batch < batch_id``, so replaying a
    failed batch is idempotent: the replay sees exactly the pre-batch
    corpus and rewrites exactly its own partitions — the same
    exactly-once-effect contract as the other foreachBatch writers.

    Scale shape = the batch operator's: the increment's band rows land
    on the corpus band table via a (band, sig) equi-join (candidate
    work bounded by true collisions), the corpus signature table is
    never reshuffled or rewritten (append-only partitions), and join
    strategy is left to AQE — a pinned broadcast here is the
    dup-dense-corpus job-killer the round-5 audit removed. The keyed-
    state (transformWithState) formulation of the same operator needs
    the protobuf runtime this sandbox lacks; foreachBatch + partitioned
    parquet state is the deployable equivalent and is trigger-shape
    invariant (pinned by the slicing test)."""

    def write(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import Window

        from ..operators.dedup import (
            EST_THRESHOLD,
            NUM_PERM,
            _band_rows,
            _doc_tokens,
            _minhash_of,
        )

        spark = batch_df.sparkSession
        mh_new = _minhash_of(_doc_tokens(batch_df)).persist()
        try:
            best = None
            if batch_id > 0:
                corpus = spark.read.parquet(f"{out_dir}/sigs").where(
                    F.col("ingest_batch") < batch_id
                )
                bands_old = _band_rows(corpus).select(
                    F.col("doc_id").alias("old_id"), "band", "sig"
                )
                bands_new = _band_rows(mh_new).select(
                    F.col("doc_id").alias("new_id"), "band", "sig"
                )
                cand = (
                    bands_old.join(bands_new, ["band", "sig"])
                    .select("new_id", "old_id")
                    .distinct()
                )
                a = mh_new.select(
                    F.col("doc_id").alias("new_id"),
                    *[F.col(f"mh{j}").alias(f"a{j}") for j in range(NUM_PERM)],
                )
                b = corpus.select(
                    F.col("doc_id").alias("old_id"),
                    *[F.col(f"mh{j}").alias(f"b{j}") for j in range(NUM_PERM)],
                )
                matches = sum(
                    (F.col(f"a{j}") == F.col(f"b{j}")).cast("int")
                    for j in range(NUM_PERM)
                )
                scored = (
                    b.join(cand.join(a, "new_id"), "old_id")
                    .select(
                        "new_id",
                        "old_id",
                        (matches / F.lit(float(NUM_PERM))).alias(
                            "est_jaccard"
                        ),
                    )
                    .where(F.col("est_jaccard") >= EST_THRESHOLD)
                )
                w = Window.partitionBy("new_id").orderBy(
                    F.col("est_jaccard").desc(), F.col("old_id")
                )
                best = (
                    scored.withColumn("rn", F.row_number().over(w))
                    .where(F.col("rn") == 1)
                    .select("new_id", "old_id", "est_jaccard")
                )
            new_docs = batch_df.select(F.col("doc_id").alias("new_id"))
            if best is None:
                verdicts = new_docs.select(
                    F.col("new_id").alias("doc_id"),
                    F.lit(True).alias("is_novel"),
                    F.lit(None).cast("long").alias("dup_of"),
                    F.lit(None).cast("double").alias("est_jaccard"),
                )
            else:
                verdicts = new_docs.join(best, "new_id", "left").select(
                    F.col("new_id").alias("doc_id"),
                    F.col("old_id").isNull().alias("is_novel"),
                    F.col("old_id").alias("dup_of"),
                    "est_jaccard",
                )
            verdicts.write.mode("overwrite").parquet(
                f"{out_dir}/verdicts/batch_id={batch_id}"
            )
            mh_new.write.mode("overwrite").parquet(
                f"{out_dir}/sigs/ingest_batch={batch_id}"
            )
        finally:
            mh_new.unpersist()

    return write


def token_budget_admission_batch_writer(out_dir: str, cap_tokens: int):
    """batch_fn for ``to_foreach_batch_sink``: streaming token-budget
    admission — the online face of ``operators/curation.
    token_budget_plan`` (SURVEY §7.4b item 2). Each source stream gets
    ``cap_tokens``; arriving documents are admitted in deterministic
    order (batch order, then doc_id) while the source's RUNNING token
    total stays within the cap, and once a source crosses it the
    source is closed — the keep/stop decision a streaming ingest gate
    actually emits. (The batch operator answers the retrospective
    question — which docs fill a budget in global quality order; this
    twin answers the online one, where quality ranking across unseen
    future docs is impossible and per-source caps are the standard
    control.)

    Admission is the inclusive prefix test ``cum <= cap`` on the raw
    per-source running total, so decisions are a pure function of the
    documents' global arrival order: micro-batch slicing cannot change
    them (pinned), and replays are idempotent via the same versioned
    state the upsert writer uses ({out_dir}/totals/v=N holds per-source
    totals AFTER batch N; {out_dir}/decisions/batch_id=N the per-doc
    verdicts; both whole-partition overwrites).

    Scale: one window partitioned BY SOURCE (never global) over the
    micro-batch, one |sources|-row state table joined broadcast-style
    by AQE, nothing driver-side."""

    def write(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import Window

        spark = batch_df.sparkSession
        prev = None
        if batch_id > 0:
            prev = spark.read.parquet(f"{out_dir}/totals/v={batch_id - 1}")
        b = batch_df.select(
            "doc_id", "source", F.col("n_tokens").cast("bigint").alias("n_tokens")
        )
        if prev is not None:
            b = b.join(
                prev.withColumnRenamed("total_tokens", "_prior"), "source", "left"
            ).withColumn("_prior", F.coalesce("_prior", F.lit(0)))
        else:
            b = b.withColumn("_prior", F.lit(0).cast("bigint"))
        w = (
            Window.partitionBy("source")
            .orderBy("doc_id")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        decided = b.withColumn(
            "cum_tokens", F.col("_prior") + F.sum("n_tokens").over(w)
        ).select(
            "doc_id",
            "source",
            "n_tokens",
            "cum_tokens",
            (F.col("cum_tokens") <= F.lit(cap_tokens)).alias("admitted"),
        )
        decided.write.mode("overwrite").parquet(
            f"{out_dir}/decisions/batch_id={batch_id}"
        )
        new_totals = (
            b.groupBy("source")
            .agg((F.first("_prior") + F.sum("n_tokens")).alias("total_tokens"))
        )
        if prev is not None:
            # sources silent this batch carry their totals forward
            new_totals = (
                prev.join(new_totals.select("source"), "source", "left_anti")
                .unionByName(new_totals)
            )
        new_totals.write.mode("overwrite").parquet(
            f"{out_dir}/totals/v={batch_id}"
        )

    return write


def stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    left_ts: str,
    right_ts: str,
    join_keys_expr: str,
    window: str = "1 hour",
    watermark_delay: str = "10 minutes",
    how: str = "inner",
) -> DataFrame:
    """Stream–stream interval join (beyond the reference, which only
    joins stream×static): right-side rows within ``window`` AFTER the
    matching left row. Both sides carry watermarks and the join
    condition bounds event time in both directions, so Spark can evict
    join state once the watermark passes — without the time bounds the
    state grows forever, the stream–stream deploy-blocker at scale.

    ``how="left_outer"`` adds the unmatched-left semantics: a left row
    with no right match is emitted NULL-padded only once the watermark
    proves no future match can arrive (watermark > left_ts + window) —
    the delayed-NULL contract outer stream–stream joins are known for.

    ``join_keys_expr`` is the equality part (e.g. ``"user_id = p_user_id"``);
    column names on the two sides must not collide.
    """
    lw = left.withWatermark(left_ts, watermark_delay)
    rw = right.withWatermark(right_ts, watermark_delay)
    cond = F.expr(
        f"{join_keys_expr} AND {right_ts} >= {left_ts} "
        f"AND {right_ts} <= {left_ts} + interval {window}"
    )
    return lw.join(rw, cond, how)


SESSION_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_start", TimestampType()),
        StructField("session_end", TimestampType()),
        StructField("n_events", IntegerType()),
        StructField("total_value", DoubleType()),
    ]
)

_STATE_SCHEMA = StructType(
    [
        StructField("start_us", LongType()),
        StructField("end_us", LongType()),
        StructField("n", IntegerType()),
        StructField("total", DoubleType()),
    ]
)


def sessionize(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark_delay: str = "10 minutes",
) -> DataFrame:
    """Custom stateful operator: event-time sessionization with a
    configurable inactivity gap, via applyInPandasWithState.

    A session closes two ways:

    - **gap**: a new event for the same user lands more than ``gap``
      past the open session's end — the old session is emitted in that
      same micro-batch and a new one opens (events are walked in
      event-time order, so this also splits sessions *within* a batch);
    - **silence**: no further event ever arrives — the event-time
      timeout fires once the watermark passes ``session_end + gap``.
      Spark evaluates timeouts against the watermark computed at batch
      *start*, so the emitting batch is the first one *after* the
      watermark-advancing batch (tests must push a sentinel trigger;
      ``processAllAvailable`` with no new data won't flush a pending
      timeout).

    State per user is O(1) — four scalars — so total state is bounded
    by |active users|, the 100 TB-safe shape.
    """
    import pandas as pd

    gap_us = _duration_to_us(gap)

    def emit(user_id, sessions):
        return pd.DataFrame(
            {
                "user_id": [user_id] * len(sessions),
                "session_start": [pd.Timestamp(s[0], unit="us") for s in sessions],
                "session_end": [pd.Timestamp(s[1], unit="us") for s in sessions],
                "n_events": [s[2] for s in sessions],
                "total_value": [s[3] for s in sessions],
            }
        )

    def update(key, pdfs, state: GroupState):
        (user_id,) = key
        if state.hasTimedOut:
            closed = tuple(state.get)
            state.remove()
            yield emit(user_id, [closed])
            return
        rows = pd.concat(list(pdfs)).sort_values("ts")
        ts_us = (rows["ts"].astype("int64") // 1000).tolist()  # ns → µs
        vals = rows["value"].astype(float).tolist()
        open_session = tuple(state.get) if state.exists else None
        closed, cur = merge_session_events(
            open_session, zip(ts_us, vals), gap_us
        )
        state.update(cur)
        state.setTimeoutTimestamp(cur[1] // 1000 + gap_us // 1000)
        if closed:
            yield emit(user_id, closed)

    return (
        events.withWatermark("ts", watermark_delay)
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=SESSION_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


EWMA_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("event_id", LongType()),
        StructField("value", DoubleType()),
        StructField("n_hist", LongType()),
        StructField("ewma", DoubleType()),
    ]
)

_EWMA_STATE_SCHEMA = StructType(
    [
        StructField("hist", ArrayType(LongType())),
    ]
)


def ewma_spike_step(
    hist: list[int], vq: int
) -> tuple[tuple[int, float] | None, list[int]]:
    """Pure per-event step of the dyadic EWMA spike detector (the
    unit-testable core shared with the batch plan's semantics,
    plans/analytics.py::event_ewma_spikes): given the last ≤EWMA_DEPTH
    micro-unit values (oldest first) and the new value, return the
    spike report (n_hist, ewma) — or None — plus the updated history.
    Integer arithmetic only, so batch and stream agree bit-for-bit."""
    from ..plans.analytics import EWMA_DEPTH, EWMA_SPIKE_MULT, EWMA_WARMUP

    out = None
    n = len(hist)
    if n >= EWMA_WARMUP:
        num = sum(x << i for i, x in enumerate(hist))
        den = (1 << n) - 1
        if vq * den > EWMA_SPIKE_MULT * num:
            out = (n, ((2 * num + den) // (2 * den)) / 1e6)
    new_hist = (list(hist) + [vq])[-EWMA_DEPTH:]
    return out, new_hist


def stream_ewma_spikes(
    events: DataFrame, watermark_delay: str = "10 minutes"
) -> DataFrame:
    """Streaming form of the per-user EWMA spike detector
    (plans/analytics.py::event_ewma_spikes): per-user state is the last
    ≤EWMA_DEPTH micro-unit values — O(DEPTH) longs per active user, the
    bounded-state shape — folded event-by-event in (ts, event_id)
    order within each micro-batch via applyInPandasWithState.

    Batch≡stream equivalence holds when micro-batches arrive in
    event-time order (the replay contract the equivalence test pins);
    an out-of-order event inside one batch is still handled by the
    in-batch sort. The watermark bounds how stale a batch may be, not
    the state size (history is already bounded)."""
    import math

    import pandas as pd

    cols = [f.name for f in EWMA_OUTPUT_SCHEMA.fields]

    def update(key, pdfs, state: GroupState):
        (user_id,) = key
        rows = pd.concat(list(pdfs)).sort_values(["ts", "event_id"])
        hist = list(state.get[0]) if state.exists else []
        out = []
        for eid, v in zip(rows["event_id"], rows["value"]):
            v = float(v)
            vq = int(math.floor(abs(v) * 1e6 + 0.5)) * (1 if v >= 0 else -1)
            res, hist = ewma_spike_step(hist, vq)
            if res is not None:
                out.append((int(user_id), int(eid), v, res[0], res[1]))
        state.update((hist,))
        if out:
            yield pd.DataFrame(out, columns=cols)

    return (
        events.withWatermark("ts", watermark_delay)
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=EWMA_OUTPUT_SCHEMA,
            stateStructType=_EWMA_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def streaming_ewma_tws(
    events: DataFrame, watermark_delay: str = "10 minutes"
) -> DataFrame:
    """``transformWithStateInPandas`` form of :func:`stream_ewma_spikes`
    (VERDICT r06 item 4): the same pure per-event fold
    (:func:`ewma_spike_step`, shared with the batch plan) over a
    per-user ValueState holding the bounded ≤EWMA_DEPTH history — the
    Spark 4 arbitrary-state API the detector deploys on, where the
    applyInPandasWithState twin is the compatibility form. The
    watermark bounds batch staleness on entry; state is already
    O(DEPTH) longs per user, so no TTL timer is needed for size (a
    production job that must forget idle users adds an EventTime timer
    — orthogonal to the fold).

    Deploy note: the transformWithState Python worker needs the
    ``protobuf`` package (its state-server protocol), which this
    sandbox lacks — the e2e batch≡stream test is protobuf-gated; the
    PLAN contract (operator, key, schema, mode, watermark) is pinned
    ungated because building the streaming plan needs no state server.
    """
    import math

    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    cols = [f.name for f in EWMA_OUTPUT_SCHEMA.fields]

    class EwmaProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._hist = handle.getValueState("hist", _EWMA_STATE_SCHEMA)

        def handleInputRows(self, key, rows, timerValues):
            (user_id,) = key
            pdf = pd.concat(list(rows)).sort_values(["ts", "event_id"])
            hist = list(self._hist.get()[0]) if self._hist.exists() else []
            out = []
            for eid, v in zip(pdf["event_id"], pdf["value"]):
                v = float(v)
                vq = int(math.floor(abs(v) * 1e6 + 0.5)) * (1 if v >= 0 else -1)
                res, hist = ewma_spike_step(hist, vq)
                if res is not None:
                    out.append((int(user_id), int(eid), v, res[0], res[1]))
            self._hist.update((hist,))
            if out:
                yield pd.DataFrame(out, columns=cols)

        def close(self) -> None:
            pass

    return (
        events.withWatermark("ts", watermark_delay)
        .groupBy("user_id")
        .transformWithStateInPandas(
            statefulProcessor=EwmaProcessor(),
            outputStructType=EWMA_OUTPUT_SCHEMA,
            outputMode="Append",
            timeMode="None",
        )
    )


TOPK_OUTPUT_SCHEMA = StructType(
    [
        StructField("event_type", StringType()),
        StructField("rank", IntegerType()),
        StructField("event_id", LongType()),
        StructField("value", DoubleType()),
    ]
)

_TOPK_STATE_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("value", DoubleType()),
    ]
)


def merge_topk(
    cur: list[tuple[int, float]], new, k: int
) -> list[tuple[int, float]]:
    """Pure top-k merge (unit-testable core of :func:`streaming_topk`):
    fold ``new`` (event_id, value) pairs into the current top-k list.
    Order: value desc, event_id asc — a total order, so the result is
    independent of how the stream was sliced into micro-batches."""
    merged = list(cur)
    merged.extend((int(e), float(v)) for e, v in new)
    merged.sort(key=lambda t: (-t[1], t[0]))
    return merged[:k]


def streaming_topk(events: DataFrame, k: int = 3) -> DataFrame:
    """Running top-k values per event_type via transformWithStateInPandas
    (the Spark 4 arbitrary-state API; ``sessionize`` above shows the
    older ``applyInPandasWithState`` form).

    Each micro-batch merges new rows into a k-row ListState per key and
    re-emits the key's current top-k (update mode) — the streaming
    equivalent of ``TakeOrderedAndProject``: state and output are both
    O(k) per key regardless of stream volume, so a 100 TB/day stream
    costs the same state as a toy one. Ties break by event_id so
    re-runs are deterministic.

    Deploy note: the transformWithState Python worker needs the
    ``protobuf`` package at runtime (its state-server protocol), which
    this sandbox lacks — the merge logic is property-tested via
    :func:`merge_topk` and the end-to-end test is gated on protobuf
    availability.
    """
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class TopKProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._topk = handle.getListState("topk", _TOPK_STATE_SCHEMA)

        def handleInputRows(self, key, rows, timerValues):
            cur = [(int(r[0]), float(r[1])) for r in self._topk.get()]
            for pdf in rows:
                cur = merge_topk(
                    cur,
                    zip(pdf["event_id"].astype("int64"), pdf["value"].astype(float)),
                    k,
                )
            self._topk.put(cur)
            yield pd.DataFrame(
                {
                    "event_type": [key[0]] * len(cur),
                    "rank": range(1, len(cur) + 1),
                    "event_id": [e for e, _ in cur],
                    "value": [v for _, v in cur],
                }
            )

        def close(self) -> None:
            pass

    return events.groupBy("event_type").transformWithStateInPandas(
        statefulProcessor=TopKProcessor(),
        outputStructType=TOPK_OUTPUT_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )


def stream_user_bitmap(
    events: DataFrame, words: int = 1024, bits_per_word: int = 60
) -> DataFrame:
    """Streaming twin of ``analytics.event_user_bitmap``: per
    (event_type, word) presence-bit OR over an unbounded user stream.
    bit_or is associative+idempotent, so the streaming state is EXACTLY
    the batch sketch at every micro-batch boundary — replays and
    at-least-once sources cannot corrupt it (re-OR-ing a bit is a
    no-op), which is the property that makes bitmap/HLL-class sketches
    the right distinct counters for streams while exact
    count_distinct state grows without bound. State is bounded at
    |types|·words rows regardless of stream length; 60 bits per word
    keep the mask positive in int64 (bit 63 would wrap).

    Complete/update output both work; the pinned test ORs a prefix
    emission into a later one to prove mergeability."""
    from ..operators.sketches import _h

    uid = F.col("user_id").cast("string")
    return (
        events.select(
            "event_type",
            (_h("bmw", uid) % (words * bits_per_word)).alias("slot"),
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


def merge_session_events(
    open_session: tuple | None, events, gap_us: int
) -> tuple[list[tuple], tuple]:
    """Pure session walk (unit-testable core of :func:`sessionize`).

    ``open_session`` is ``(start_us, end_us, n, total)`` or None;
    ``events`` yields ``(ts_us, value)`` in event-time order. Returns
    ``(closed_sessions, open_session)``: an event more than ``gap_us``
    past the open session's end closes it and opens a new one;
    anything else merges (min/max bounds, running count/sum).
    """
    closed: list[tuple] = []
    cur = list(open_session) if open_session else None
    for t, v in events:
        t = int(t)
        if cur is None:
            cur = [t, t, 1, v]
        elif t > cur[1] + gap_us:
            closed.append(tuple(cur))
            cur = [t, t, 1, v]
        else:
            cur[0] = min(cur[0], t)
            cur[1] = max(cur[1], t)
            cur[2] += 1
            cur[3] += v
    return closed, (tuple(cur) if cur is not None else None)


def _duration_to_us(text: str) -> int:
    amount, unit = text.split()
    scale = {
        "second": 1_000_000,
        "seconds": 1_000_000,
        "minute": 60_000_000,
        "minutes": 60_000_000,
        "hour": 3_600_000_000,
        "hours": 3_600_000_000,
    }[unit]
    return int(amount) * scale
