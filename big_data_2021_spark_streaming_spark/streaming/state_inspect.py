"""Checkpoint & state-store introspection: the streaming ops surface.

A Structured Streaming checkpoint is the system of record for a
production stream — the reference ships one from its real 2021 Kafka
cluster run (``checkpoint/`` beside ``srapk_structure_streaming.py``,
written by ``checkpointLocation "checkpoint"`` at
``srapk_structure_streaming.py:173-179``), and every number in
BASELINE.md was derived from those artifacts BY HAND. This module
turns that analysis into engine queries:

- ``checkpoint_offsets`` / ``checkpoint_commits``: the offsets and
  commits write-ahead logs as DataFrames — one row per micro-batch
  with its event-time watermark, wall-clock timestamp, and pinned
  runtime conf.
- ``checkpoint_progress_report``: batches joined with their commit
  status plus inter-batch cadence — the "is my stream healthy /
  which batch is replaying" triage view.
- ``replay_batch_plan``: the one Kafka range ledger — per (batch,
  topic, partition) the (start, end] offsets, the records between them
  and the commit flag (BASELINE.md's 135-records/97 s numbers are one
  aggregation over it). ``kafka_source_start`` is batch 0's left edge;
  ``replay_batch`` re-executes one batch's ranges against records.
- ``state_skew_report``: per-partition state rows of operator 0 via
  Spark's ``statestore`` source, the hot-key profile that diagnoses a
  skewed grouping before it OOMs an executor. Read the keyed state and
  the operator inventory from Spark's ``statestore`` and
  ``state-metadata`` sources directly.

Scale posture: log files are read by Spark (``spark.read.text``), so a
checkpoint on S3/HDFS never flows through the driver; the offsets log
itself is one tiny file per micro-batch. The cadence window in
``checkpoint_progress_report`` is a single global window over
one-row-per-batch metadata — thousands of rows for weeks of uptime,
never data-sized. State reads are partition-parallel (one task per
state-store partition).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..functions.exact import half_up

# line 2 of every offsets-log entry (line 1 is the "v1" version tag)
_OFFSET_META_SCHEMA = (
    "batchWatermarkMs LONG, batchTimestampMs LONG, conf MAP<STRING, STRING>"
)
_COMMIT_META_SCHEMA = "nextBatchWatermarkMs LONG"


def _log_files(spark: SparkSession, log_dir: str) -> DataFrame:
    """(batch_id, content) per write-ahead-log entry file. Compaction
    artifacts (``.compact``), temp files and checksums are excluded by
    the numeric-name filter."""
    return (
        spark.read.text(log_dir, wholetext=True)
        .select(
            F.element_at(F.split(F.input_file_name(), "/"), -1).alias("_f"),
            F.col("value").alias("_content"),
        )
        .where(F.col("_f").rlike("^[0-9]+$"))
        .select(
            F.col("_f").cast("long").alias("batch_id"),
            F.col("_content"),
        )
    )


def checkpoint_offsets(spark: SparkSession, checkpoint_dir: str) -> DataFrame:
    """The offsets write-ahead log: one row per planned micro-batch —
    (batch_id, batch_timestamp_ms, batch_watermark_ms, conf, sources)
    where ``sources`` holds each source's end-offset JSON (one array
    element per source, in source order)."""
    lines = F.split(F.col("_content"), "\n")
    meta = F.from_json(F.element_at(lines, 2), _OFFSET_META_SCHEMA)
    return _log_files(spark, f"{checkpoint_dir.rstrip('/')}/offsets").select(
        "batch_id",
        meta.getField("batchTimestampMs").alias("batch_timestamp_ms"),
        meta.getField("batchWatermarkMs").alias("batch_watermark_ms"),
        meta.getField("conf").alias("conf"),
        F.filter(
            F.slice(lines, 3, 2_147_483_645), lambda s: F.trim(s) != ""
        ).alias("sources"),
    )


def checkpoint_commits(spark: SparkSession, checkpoint_dir: str) -> DataFrame:
    """The commits log: one row per COMPLETED micro-batch —
    (batch_id, next_batch_watermark_ms). A batch present in offsets/
    but absent here is the one that will replay on restart."""
    meta = F.from_json(
        F.element_at(F.split(F.col("_content"), "\n"), 2), _COMMIT_META_SCHEMA
    )
    return _log_files(spark, f"{checkpoint_dir.rstrip('/')}/commits").select(
        "batch_id",
        meta.getField("nextBatchWatermarkMs").alias("next_batch_watermark_ms"),
    )


def _with_commit_flag(
    spark: SparkSession, checkpoint_dir: str, batches: DataFrame
) -> DataFrame:
    """``batches`` (keyed by batch_id) plus ``committed``: false for a
    batch the offsets log planned and the commits log never closed."""
    commits = checkpoint_commits(spark, checkpoint_dir).select(
        "batch_id", F.lit(True).alias("committed")
    )
    return batches.join(commits, "batch_id", "left").fillna(False, ["committed"])


def checkpoint_progress_report(
    spark: SparkSession, checkpoint_dir: str
) -> DataFrame:
    """Offsets ⋈ commits plus inter-batch cadence: (batch_id,
    batch_timestamp_ms, batch_watermark_ms, committed,
    batch_gap_ms — wall-clock delta to the previous planned batch,
    NULL for batch 0). The triage view: gaps spiking → backpressure;
    committed=false on the max batch → that batch replays on restart;
    watermark stuck at 0 → no event-time column reached the sink."""
    offsets = checkpoint_offsets(spark, checkpoint_dir).select(
        "batch_id", "batch_timestamp_ms", "batch_watermark_ms"
    )
    w = Window.orderBy("batch_id")  # one-row-per-batch metadata frame
    ts = F.col("batch_timestamp_ms")
    return _with_commit_flag(spark, checkpoint_dir, offsets).withColumn(
        "batch_gap_ms", ts - F.lag(ts).over(w)
    )


def _kafka_offsets(
    frame: DataFrame, offsets_json, offset_name: str, *keys: str
) -> DataFrame:
    """Decode a Kafka offset JSON column ``{"topic": {"partition":
    offset, ...}, ...}`` into one row per (topic, partition): (*keys,
    topic, partition INT, ``offset_name``)."""
    topics = frame.select(
        *keys,
        F.explode(F.from_json(offsets_json, "MAP<STRING, MAP<STRING, LONG>>"))
        .alias("topic", "parts"),
    )
    return topics.select(
        *keys, "topic", F.explode("parts").alias("partition", offset_name)
    ).withColumn("partition", F.col("partition").cast("int"))


def kafka_source_start(spark: SparkSession, checkpoint_dir: str) -> DataFrame:
    """The stream's pre-batch-0 start offsets from ``sources/0/0``:
    (topic, partition, start_offset). The offsets WAL only records each
    batch's END offsets, so this file is the missing left edge of
    batch 0's range."""
    path = f"{checkpoint_dir.rstrip('/')}/sources/0"
    return _kafka_offsets(
        spark.read.text(path, wholetext=True),
        F.element_at(F.split(F.trim("value"), "\n"), 2),
        "start_offset",
    )


def replay_batch_plan(spark: SparkSession, checkpoint_dir: str) -> DataFrame:
    """The Kafka range ledger of every planned micro-batch: (batch_id,
    topic, partition, start_offset, end_offset, records, committed).
    Each batch covers (start, end] with start = the PREVIOUS batch's
    WAL end offset (the ``sources/0/0`` offset for batch 0) — exactly
    the arithmetic a restarted MicroBatchExecution performs to rebuild
    an uncommitted batch. Sum(records) over a time span is the stream's
    throughput; a partition whose records dwarf its siblings is
    Kafka-side skew. The resume point after a crash is the row set
    where ``committed`` is false (reference: batch 12, cf.
    ``srapk_structure_streaming.py:173-179``'s checkpoint, offsets/12
    present with no commits/12).

    Scale: one row per (batch, topic, partition) of WAL metadata —
    never data-sized; the lag window partitions by (topic, partition)."""
    ends = _kafka_offsets(
        checkpoint_offsets(spark, checkpoint_dir),
        F.element_at("sources", 1),
        "end_offset",
        "batch_id",
    )
    start0 = kafka_source_start(spark, checkpoint_dir)
    w = Window.partitionBy("topic", "partition").orderBy("batch_id")
    start = F.coalesce(F.lag("end_offset").over(w), "start_offset")
    ranges = ends.join(F.broadcast(start0), ["topic", "partition"], "left").select(
        "batch_id",
        "topic",
        "partition",
        start.alias("start_offset"),
        "end_offset",
        (F.col("end_offset") - start).alias("records"),
    )
    return _with_commit_flag(spark, checkpoint_dir, ranges)


def replay_batch(
    spark: SparkSession,
    checkpoint_dir: str,
    records: DataFrame,
    batch_id: int,
) -> DataFrame:
    """EXECUTE a WAL batch against data: filter a records frame
    carrying (topic, partition, offset) to exactly the offset ranges
    the checkpoint planned for ``batch_id`` — the record set a
    restarted query re-processes for its uncommitted batch. The range
    frame is one row per (topic, partition), broadcast onto the records
    scan, so the filter is a map-side semi-join: no shuffle of the
    records themselves."""
    ranges = (
        replay_batch_plan(spark, checkpoint_dir)
        .where(F.col("batch_id") == batch_id)
        .select("topic", "partition", "start_offset", "end_offset")
    )
    j = records.join(F.broadcast(ranges), ["topic", "partition"])
    return j.where(
        (F.col("offset") >= F.col("start_offset"))
        & (F.col("offset") < F.col("end_offset"))
    ).drop("start_offset", "end_offset")


def state_skew_report(spark: SparkSession, checkpoint_dir: str) -> DataFrame:
    """Per-partition state-row counts for operator 0, with each
    partition's permille share of total state rows — the hot-key /
    skewed-grouping diagnosis. A healthy aggregation spreads state
    uniformly (share ≈ 1000/numPartitions); one partition holding a
    large multiple of its siblings means a skewed key is about to
    become a straggler (or an OOM) at scale. One distributed
    aggregation over the state read; the result is numPartitions
    rows."""
    state = (
        spark.read.format("statestore")
        .option("operatorId", 0)
        .load(checkpoint_dir)
    )
    per_part = state.groupBy("partition_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("state_rows")
    )
    total = per_part.agg(
        F.sum("state_rows").cast("bigint").alias("total_rows")
    )
    return per_part.crossJoin(F.broadcast(total)).select(
        "partition_id",
        "state_rows",
        F.expr(half_up("1000 * state_rows", "total_rows")).alias("share_permille"),
    )
