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
``dropDuplicatesWithinWatermark`` for ingest dedup, Spark's native
session window for sessionization, and ``applyInPandasWithState`` only
for the per-user EWMA spike detector.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..session import local_frame

# event-time lateness every watermarked operator here allows by default
WATERMARK_DELAY = "10 minutes"

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


def with_ingest_metrics(df: DataFrame) -> DataFrame:
    """Attach per-micro-batch data-quality metrics via ``observe()`` —
    the production observability hook: row count, decode-failure count,
    and max event-time ride the batch as observed metrics (surfaced in
    every StreamingQueryProgress / QueryProgressEvent), costing one
    accumulator pass fused into the existing plan instead of a second
    aggregation query over the stream.

    Works on any frame with the decoded RSVP ``data`` struct.
    ``n_corrupt`` counts ``reference_queries.decode_failed`` rows (the
    predicate ``rsvp_decode_failures`` pins): the live decode-failure
    meter the reference had no way to see. The metrics ride the
    progress events under the name ``ingest_metrics``."""
    from ..plans.reference_queries import decode_failed

    return df.observe(
        "ingest_metrics",
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(decode_failed().cast("bigint")).alias("n_corrupt"),
        F.max("timestamp").alias("max_event_ts"),
    )


def to_console_sink(df: DataFrame):
    """Debug sink (``srapk_structure_streaming.py:167-171``): print each
    micro-batch to stdout, append mode, long cells truncated. Dev
    affordance only — never a deploy path."""
    return (
        df.writeStream.format("console")
        .option("truncate", "true")
        .outputMode("append")
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
    available_now: bool = False,
):
    """foreachBatch sink, append mode: arbitrary per-micro-batch batch
    logic (merge, multi-sink fan-out, JDBC upsert) with the engine's
    delivery contract — Spark may REPLAY a batch_id after failure, so
    batch_fn must be idempotent per batch_id. ``available_now=True``
    drains all available input then stops (the batch-over-stream
    trigger for backfills)."""
    writer = (
        df.writeStream.foreachBatch(batch_fn)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
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
    good = idempotent_parquet_batch_writer(f"{out_dir}/good")
    dlq = idempotent_parquet_batch_writer(f"{out_dir}/dlq")

    def write(batch_df: DataFrame, batch_id: int) -> None:
        flagged = batch_df.withColumn("_reject", F.expr(reject_sql)).persist()
        try:
            good(flagged.where(~F.col("_reject")).drop("_reject"), batch_id)
            dlq(
                flagged.where(F.col("_reject"))
                .drop("_reject")
                .withColumn("reject_reason", F.expr(reason_sql)),
                batch_id,
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


def drift_monitor_batch_writer(
    ref_cells: dict[int, int], lo: float, hi: float, out_dir: str
):
    """batch_fn for ``to_foreach_batch_sink``: per micro-batch
    distribution-drift alarm — bucket the batch's ``value`` on the
    FIXED [lo, hi] equi-width grid a reference corpus defined, compute
    the exact total-variation distance against the reference histogram
    (``audit.drift_bucket`` and ``audit.tvd_micro``, the expressions of
    ``operators.audit.value_drift_tvd``), and land ONE metrics row per
    batch in ``out_dir/batch_id=N`` (overwrite — idempotent under
    batch replay, same contract as idempotent_parquet_batch_writer).
    An empty batch writes n_batch = 0, tvd_micro = 0; a ``ref_cells``
    with no positive total is a ValueError when the writer is built.

    Everything stays on executors: the reference histogram is a
    ≤ audit.DRIFT_BUCKETS-row broadcast, the batch reduces to bucket cells,
    and the alarm row is WRITTEN, not collected — the shape a 100 TB
    ingest pipeline's per-batch quality gate runs."""
    from ..operators.audit import drift_bucket, tvd_micro

    n_ref = sum(ref_cells.values())
    if n_ref <= 0:
        raise ValueError(
            "drift_monitor_batch_writer: ref_cells must hold a reference "
            f"histogram with a positive total, got {ref_cells!r}"
        )

    alarms = idempotent_parquet_batch_writer(out_dir)

    def write(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        ref = local_frame(
            spark, sorted(ref_cells.items()), "bucket INT, o_ref BIGINT"
        )
        bucket = drift_bucket(F.col("value"), F.lit(lo), F.lit(hi))
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
                tvd_micro("n_batch", str(n_ref)).alias("tvd_micro"),
            )
        )
        alarms(out, batch_id)

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

    The match is the batch operator's own code: the writer signs the
    batch with ``dedup._minhash_of`` and calls
    ``dedup._best_prior_match`` (band equi-join, estimate, best-match
    window) and ``dedup._dedup_verdicts``; it keeps only the parquet
    state above. The corpus signature table is never reshuffled or
    rewritten (append-only partitions). The keyed-
    state (transformWithState) formulation of the same operator needs
    the protobuf runtime this sandbox lacks; foreachBatch + partitioned
    parquet state is the deployable equivalent and is trigger-shape
    invariant (pinned by the slicing test)."""
    verdicts_out = idempotent_parquet_batch_writer(f"{out_dir}/verdicts")

    def write(batch_df: DataFrame, batch_id: int) -> None:
        from ..operators.dedup import (
            _best_prior_match,
            _dedup_verdicts,
            _doc_tokens,
            _minhash_of,
        )

        spark = batch_df.sparkSession
        mh_new = _minhash_of(_doc_tokens(batch_df)).persist()
        try:
            if batch_id > 0:
                corpus = spark.read.parquet(f"{out_dir}/sigs").where(
                    F.col("ingest_batch") < batch_id
                )
            else:  # no corpus yet: an empty one, so every doc is novel
                corpus = mh_new.where(F.lit(False))
            verdicts = _dedup_verdicts(
                batch_df.select(F.col("doc_id").alias("new_id")),
                _best_prior_match(corpus, mh_new),
            )
            verdicts_out(verdicts, batch_id)
            mh_new.write.mode("overwrite").parquet(
                f"{out_dir}/sigs/ingest_batch={batch_id}"
            )
        finally:
            mh_new.unpersist()

    return write


def stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    left_ts: str,
    right_ts: str,
    join_keys_expr: str,
    window: str = "1 hour",
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
    lw = left.withWatermark(left_ts, WATERMARK_DELAY)
    rw = right.withWatermark(right_ts, WATERMARK_DELAY)
    cond = F.expr(
        f"{join_keys_expr} AND {right_ts} >= {left_ts} "
        f"AND {right_ts} <= {left_ts} + interval {window}"
    )
    return lw.join(rw, cond, how)


def sessionize(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark_delay: str = WATERMARK_DELAY,
) -> DataFrame:
    """Event-time sessionization with an inactivity ``gap``, on Spark's
    native session window: one row per (user, session) with columns
    user_id, session_start, session_end, n_events, total_value.
    ``session_end`` is the session's last event, not the window end
    (last event + ``gap``).

    The engine keeps the session state and merges out-of-order events
    that the watermark admits, so an event that arrives late and
    bridges two bursts joins them into one session. In append mode a
    session is emitted once the watermark passes its last event plus
    ``gap``; Spark runs a no-data micro-batch for that after the batch
    that advanced the watermark. ``withWatermark`` does nothing on a
    batch frame, so the same lineage sessionizes a static frame and a
    stream alike. Spark's state store holds each user's open sessions
    until they are emitted.

    ``gap`` is parsed here: ``F.session_window`` drops every row, with
    no error, when the gap does not parse or is not positive.
    """
    _duration_to_us(gap)
    return (
        events.withWatermark("ts", watermark_delay)
        .groupBy(F.session_window("ts", gap), "user_id")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).cast("int").alias("n_events"),
            F.sum("value").alias("total_value"),
        )
        .select(
            "user_id", "session_start", "session_end", "n_events", "total_value"
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


def ewma_fold(
    user_id, rows, hist: list[int]
) -> tuple[list[tuple], list[int]]:
    """One user's micro-batch through the EWMA spike detector: ``rows``
    (a pandas frame with event_id, ts, value) in (ts, event_id) order,
    each value quantized to signed half-up micro-units and folded
    through :func:`ewma_spike_step` from the history ``hist``. Returns
    the spike rows, in ``EWMA_OUTPUT_SCHEMA`` column order, and the
    updated history. :func:`stream_ewma_spikes` calls it per user and
    micro-batch; it needs no JVM."""
    import math

    out = []
    rows = rows.sort_values(["ts", "event_id"])
    for eid, v in zip(rows["event_id"], rows["value"]):
        v = float(v)
        vq = int(math.floor(abs(v) * 1e6 + 0.5)) * (1 if v >= 0 else -1)
        res, hist = ewma_spike_step(hist, vq)
        if res is not None:
            out.append((int(user_id), int(eid), v, res[0], res[1]))
    return out, hist


def stream_ewma_spikes(events: DataFrame) -> DataFrame:
    """Streaming form of the per-user EWMA spike detector
    (plans/analytics.py::event_ewma_spikes): per-user state is the last
    ≤EWMA_DEPTH micro-unit values — O(DEPTH) longs per active user, the
    bounded-state shape — folded event-by-event in (ts, event_id)
    order within each micro-batch (:func:`ewma_fold`) via
    applyInPandasWithState.

    Batch≡stream equivalence holds when micro-batches arrive in
    event-time order (the replay contract the equivalence test pins);
    an out-of-order event inside one batch is still handled by the
    in-batch sort. The watermark bounds how stale a batch may be, not
    the state size (history is already bounded)."""
    import pandas as pd

    def update(key, pdfs, state: GroupState):
        (user_id,) = key
        hist = list(state.get[0]) if state.exists else []
        out, hist = ewma_fold(user_id, pd.concat(list(pdfs)), hist)
        state.update((hist,))
        if out:
            yield pd.DataFrame(out, columns=EWMA_OUTPUT_SCHEMA.fieldNames())

    return (
        events.withWatermark("ts", WATERMARK_DELAY)
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=EWMA_OUTPUT_SCHEMA,
            stateStructType=_EWMA_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def _duration_to_us(text: str) -> int:
    amount, unit = text.split()
    scale = {
        "second": 1_000_000,
        "seconds": 1_000_000,
        "minute": 60_000_000,
        "minutes": 60_000_000,
        "hour": 3_600_000_000,
        "hours": 3_600_000_000,
    }
    if unit not in scale:
        raise ValueError(f"duration {text!r}: unit must be one of {sorted(scale)}")
    us = int(amount) * scale[unit]
    if us <= 0:
        raise ValueError(f"duration {text!r}: must be positive")
    return us
