"""Checkpoint/state introspection tests.

Half of these read a Kafka-source checkpoint and pin the exact numbers
BASELINE.md derived by hand from the REFERENCE's own committed
checkpoint (``REF_CKPT``, the real 2021 Kafka-cluster run): the module
must reproduce the hand analysis. Each runs twice: on a synthetic
checkpoint written here with those numbers (offsets/, commits/ and
sources/ only), and on the reference checkpoint when it is present.
The other half build fresh checkpoints — one stateful aggregation,
and the benchmark's own five streaming queries — and read them back
through the generic readers and Spark's statestore source.
"""

from __future__ import annotations

import json
from pathlib import Path

import pytest

import pyspark.sql.functions as F
from pyspark.errors import SparkRuntimeException

from big_data_2021_spark_streaming_spark.streaming.state_inspect import (
    checkpoint_commits,
    checkpoint_offsets,
    checkpoint_progress_report,
    kafka_source_start,
    replay_batch,
    replay_batch_plan,
    state_skew_report,
)

REF_CKPT = "/root/reference/checkpoint"

# BASELINE.md's numbers for the reference run: topic all_events,
# partition 0 starts at 21726; 13 planned batches whose end offsets
# climb to 21861 (batch 0 ends at 21727, batch 12 covers 21849-21861);
# batches 0-11 committed; 97,032 ms first to last with 6.9-10.4 s gaps
_START = 21726
_ENDS = [21727, 21739, *range(21750, 21850, 11), 21861]
_GAPS_MS = [6_900, 10_400, *[7_973] * 8, 7_974, 7_974]
_T0_MS = 1_623_196_023_000
_CONF = {
    "spark.sql.shuffle.partitions": "200",
    "spark.sql.streaming.stateStore.providerClass": (
        "org.apache.spark.sql.execution.streaming.state."
        "HDFSBackedStateStoreProvider"
    ),
}


def _write_checkpoint(root: Path) -> None:
    """The offsets/commits write-ahead logs and the Kafka source's
    initial-offset file in Spark's on-disk format: a version line, then
    JSON (the source file starts with the 0 byte Kafka's log writes)."""
    for d in ("offsets", "commits", "sources/0"):
        (root / d).mkdir(parents=True)
    ts = _T0_MS
    for batch, end in enumerate(_ENDS):
        if batch:
            ts += _GAPS_MS[batch - 1]
        meta = {"batchWatermarkMs": 0, "batchTimestampMs": ts, "conf": _CONF}
        (root / "offsets" / str(batch)).write_text(
            "v1\n" + json.dumps(meta) + "\n"
            + json.dumps({"all_events": {"0": end}})
        )
        if batch < len(_ENDS) - 1:
            (root / "commits" / str(batch)).write_text(
                'v1\n{"nextBatchWatermarkMs":0}'
            )
    (root / "sources" / "0" / "0").write_text(
        "\x00v1\n" + json.dumps({"all_events": {"0": _START}})
    )


@pytest.fixture(scope="module", params=["synthetic", "reference"])
def kafka_ckpt(request, tmp_path_factory) -> str:
    if request.param == "reference":
        if not Path(REF_CKPT).is_dir():
            pytest.skip("reference checkpoint not present")
        return REF_CKPT
    root = tmp_path_factory.mktemp("kafka_ckpt")
    _write_checkpoint(root)
    return str(root)


def test_offsets_log(spark, kafka_ckpt):
    """BASELINE.md rows 'micro-batches recorded' and 'watermark
    advance': 13 planned batches (0–12), batchWatermarkMs pinned 0 on
    every one (the stateless Q2 run), Spark 3.1.2 conf captured."""
    rows = {r.batch_id: r for r in checkpoint_offsets(spark, kafka_ckpt).collect()}
    assert sorted(rows) == list(range(13))
    assert all(r.batch_watermark_ms == 0 for r in rows.values())
    assert rows[0].conf["spark.sql.shuffle.partitions"] == "200"
    assert rows[0].conf[
        "spark.sql.streaming.stateStore.providerClass"
    ].endswith("HDFSBackedStateStoreProvider")
    # each batch logged exactly one source (the single Kafka topic)
    assert all(len(r.sources) == 1 for r in rows.values())


def test_progress_report(spark, kafka_ckpt):
    """BASELINE.md rows 'wall-clock span' and 'mean batch cadence':
    97.032 s first→last planned batch, gaps 6.9–10.4 s; batches 0–11
    committed, batch 12 planned but never committed (the run was
    stopped mid-batch — the batch that would replay on restart)."""
    rows = sorted(
        checkpoint_progress_report(spark, kafka_ckpt).collect(),
        key=lambda r: r.batch_id,
    )
    assert rows[-1].batch_timestamp_ms - rows[0].batch_timestamp_ms == 97_032
    gaps = [r.batch_gap_ms for r in rows[1:]]
    assert rows[0].batch_gap_ms is None
    assert min(gaps) >= 6_900 and max(gaps) <= 10_400
    committed = {r.batch_id: r.committed for r in rows}
    assert all(committed[i] for i in range(12))
    assert committed[12] is False


def test_kafka_ingest_ledger(spark, kafka_ckpt):
    """BASELINE.md row 'records processed': single-partition topic
    ``all_events`` ends at offset 21861; batches 1–12 ingested 134
    records between them, and batch 0 its 1-record delta from the
    sources/0/0 start offset."""
    rows = sorted(
        replay_batch_plan(spark, kafka_ckpt).collect(),
        key=lambda r: r.batch_id,
    )
    assert {r.topic for r in rows} == {"all_events"}
    assert {r.partition for r in rows} == {0}
    assert rows[0].records == 1
    assert rows[-1].end_offset == 21_861
    assert sum(r.records for r in rows[1:]) == 21_861 - 21_727


def test_state_read_matches_query_output(spark, tmp_path):
    """Build a checkpointed streaming aggregation, then read its keyed
    state back through the statestore source: the state must hold
    exactly the counts the sink saw, metadata must inventory the
    operator, and the skew report must cover all state rows with
    permille shares summing to ~1000."""
    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    (src / "a.json").write_text(
        "\n".join(
            f'{{"id": {i}, "k": "{k}"}}'
            for i, k in enumerate(["x", "y", "x", "z", "x", "y"])
        )
    )
    q = (
        spark.readStream.schema("id INT, k STRING")
        .json(str(src))
        .groupBy("k")
        .count()
        .writeStream.format("memory")
        .queryName("state_inspect_sink")
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    sink = {r.k: r["count"] for r in spark.table("state_inspect_sink").collect()}
    assert sink == {"x": 3, "y": 2, "z": 1}

    meta = spark.read.format("state-metadata").load(ckpt).collect()
    assert len(meta) == 1 and meta[0].operatorName == "stateStoreSave"

    state = spark.read.format("statestore").load(ckpt).collect()
    assert {r.key[0]: r.value[0] for r in state} == sink

    skew = state_skew_report(spark, ckpt).collect()
    assert sum(r.state_rows for r in skew) == len(sink)
    assert all(r.state_rows > 0 for r in skew)  # empty partitions absent
    assert abs(sum(r.share_permille for r in skew) - 1000) <= len(skew)


def test_generic_readers_on_the_bench_checkpoints(spark, tmp_path):
    """The readers that assume no Kafka source run on the rsvp_stream
    workload's own checkpoints: its five queries (perfbench/stream.py)
    drain a small generated backlog, one file per micro-batch, with
    availableNow, and each checkpoint is read back. The assertions hold
    by construction: every batch commits, the file source logs offsets
    0 and 1 for the two files, dedup keeps one state row per distinct
    rsvp_id, and the EWMA detector one per user (group) the generator
    emitted. A stateless query's checkpoint has no state to read."""
    from datetime import datetime, timezone

    from perfbench.gen import RsvpGenerator
    from perfbench.harness import Recorder
    from perfbench.metrics import STREAM_QUERIES
    from perfbench.stream import _start_queries

    from big_data_2021_spark_streaming_spark.streaming.replay import (
        FileEnvelopeProducer,
    )

    paths = {k: tmp_path / k for k in ("src", "ckpt", "out")}
    gen = RsvpGenerator(seed=1)
    producer = FileEnvelopeProducer(paths["src"])
    created = datetime(2024, 1, 1, tzinfo=timezone.utc)  # one Q3 window
    for _ in range(2):
        producer.send_batch(gen.make(100, created))
    queries = _start_queries(spark, STREAM_QUERIES, paths, 1, True, Recorder(False))
    for q in queries.values():
        q.awaitTermination(300)
        assert q.exception() is None

    operators = {
        "q3": "stateStoreSave",
        "dedup": "dedupeWithinWatermark",
        "ewma": "applyInPandasWithState",
    }
    state_rows = {
        "q3": 1,
        "dedup": gen.distinct_ids(),
        "ewma": len({group for *_, group in gen.records}),
    }
    for name in STREAM_QUERIES:
        ckpt = str(paths["ckpt"] / name)
        report = checkpoint_progress_report(spark, ckpt).collect()
        assert sorted(r.batch_id for r in report) == list(range(len(report)))
        assert len(report) >= 2 and all(r.committed for r in report), name
        offsets = checkpoint_offsets(spark, ckpt).collect()
        assert {json.loads(r.sources[0])["logOffset"] for r in offsets} == {0, 1}
        if name not in operators:
            with pytest.raises(SparkRuntimeException) as err:
                state_skew_report(spark, ckpt).collect()
            assert err.value.getCondition() == "STDS_FAILED_TO_READ_STATE_SCHEMA"
            continue
        meta = spark.read.format("state-metadata").load(ckpt).collect()
        assert [r.operatorName for r in meta] == [operators[name]]
        skew = state_skew_report(spark, ckpt).collect()
        assert sum(r.state_rows for r in skew) == state_rows[name], name
        assert abs(sum(r.share_permille for r in skew) - 1000) <= len(skew)


# --- WAL restore → resume point → batch replay (reference fidelity) ---


def test_source_start(spark, kafka_ckpt):
    """sources/0/0 is the stream's pre-batch-0 left edge: the real run
    started the all_events topic at offset 21726."""
    rows = kafka_source_start(spark, kafka_ckpt).collect()
    assert [(r.topic, r.partition, r.start_offset) for r in rows] == [
        ("all_events", 0, 21726)
    ]


def test_replay_plan_rebuilds_every_batch_range(spark, kafka_ckpt):
    """The WAL arithmetic a restarted MicroBatchExecution performs:
    every batch's (start, end] range from consecutive end-offsets,
    batch 0 anchored at sources/0/0. Pins the resume point — batch 12
    is planned (offsets/12) but never committed (no commits/12), so it
    is the batch a restart replays — and BASELINE.md's 135-record run
    total."""
    plan = {
        r.batch_id: r for r in replay_batch_plan(spark, kafka_ckpt).collect()
    }
    assert sorted(plan) == list(range(13))
    b0 = plan[0]
    assert (b0.start_offset, b0.end_offset, b0.records) == (21726, 21727, 1)
    uncommitted = sorted(b for b, r in plan.items() if not r.committed)
    assert uncommitted == [12]
    b12 = plan[12]
    assert (b12.start_offset, b12.end_offset, b12.records) == (
        21849,
        21861,
        12,
    )
    assert sum(r.records for r in plan.values()) == 135


def test_replay_batch_executes_the_resume_point(spark, kafka_ckpt):
    """EXECUTES against the checkpoint's WAL: a surrogate record
    log spans the topic's full offset range (Kafka retention outlived
    the records, so payloads are deterministic stand-ins keyed by
    offset), and replaying the uncommitted batch must select EXACTLY
    the 12 records its WAL entry planned — then flow into downstream
    batch logic like any micro-batch."""
    records = spark.range(21726, 21861).select(
        F.lit("all_events").alias("topic"),
        F.lit(0).cast("int").alias("partition"),
        F.col("id").alias("offset"),
        F.concat(F.lit("evt-"), F.col("id")).alias("value"),
    )
    replayed = replay_batch(spark, kafka_ckpt, records, batch_id=12)
    got = sorted(r.offset for r in replayed.collect())
    assert got == list(range(21849, 21861))
    agg = replayed.groupBy("topic").count().collect()
    assert (agg[0]["topic"], agg[0]["count"]) == ("all_events", 12)
    # the WAL arithmetic is idempotent: an already-committed batch
    # rebuilds its exact range too (exactly-once replay semantics)
    b0 = replay_batch(spark, kafka_ckpt, records, batch_id=0).collect()
    assert [r.offset for r in b0] == [21726]


def test_replay_feeds_the_reference_pipeline(spark, kafka_ckpt):
    """The full restore story: rebuild the uncommitted batch from the
    WAL, then run the reference's own Q1/Q2 lineage over exactly that
    record set — RSVP-shaped payloads keyed by offset, US rows on even
    offsets. Batch 12 spans (21849, 21861], so Q1 must keep the 6 even
    offsets and Q2 must enrich them with the full state name."""
    import json as _json

    from big_data_2021_spark_streaming_spark.plans.reference_queries import (
        q1_us_meetups,
        q2_us_meetups_enriched,
    )
    from big_data_2021_spark_streaming_spark.schemas import states_dimension

    def rsvp(offset: int) -> str:
        return _json.dumps(
            {
                "response": "yes",
                "guests": 0,
                "rsvp_id": offset,
                "event": {
                    "event_name": f"e{offset}",
                    "event_id": f"id{offset}",
                    "event_url": "u",
                },
                "group": {
                    "group_city": "sf",
                    "group_country": "us" if offset % 2 == 0 else "de",
                    "group_id": offset,
                    "group_name": "g",
                    "group_state": "CA",
                },
            }
        )

    records = spark.createDataFrame(
        [
            ("all_events", 0, o, rsvp(o), "2021-06-08 23:47:03")
            for o in range(21726, 21861)
        ],
        "topic STRING, partition INT, offset LONG, value STRING, timestamp STRING",
    )
    replayed = replay_batch(spark, kafka_ckpt, records, batch_id=12)
    q1 = q1_us_meetups(replayed, mode="normalized").collect()
    assert sorted(r.rsvp_id for r in q1) == [
        o for o in range(21849, 21861) if o % 2 == 0
    ]
    q2 = q2_us_meetups_enriched(
        replayed, states_dimension(spark), mode="normalized"
    ).collect()
    payloads = [_json.loads(r.value) for r in q2]
    assert len(payloads) == 6
    assert {p["group_state"] for p in payloads} == {"CALIFORNIA"}
    assert all("group_name" not in p for p in payloads)
