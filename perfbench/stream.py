"""The ``rsvp_stream`` workload: five streaming queries on one
``rsvp_file_stream``, each with its own checkpoint.

- ``q1``: Q1 (decode, US filter) with ``with_ingest_metrics``, to parquet;
- ``q2``: Q2 into ``to_foreach_batch_sink`` with
  ``idempotent_parquet_batch_writer`` (the write path);
- ``q3``: Q3, windowed state, to the noop sink;
- ``dedup``: ``stream_dedup`` on ``rsvp_id`` (state store), to parquet;
- ``ewma``: ``stream_ewma_spikes`` (Python state) over user =
  ``group_id``, value = ``guests``, id = ``rsvp_id``, to parquet.

Phases: a seeded backlog is drained with ``availableNow`` and a fixed
``maxFilesPerTrigger`` (throughput). Then the queries restart from
their checkpoints while a generator thread, on a fixed schedule that
does not wait for the engine, adds one file per tick at a fixed row
rate (an open loop; latency). Files are written through
``FileEnvelopeProducer`` into a staging directory and renamed into the
source directory, so the source never lists a half-written file.

After the queries stop, the outputs are checked against the ground
truth the generator kept: Q1 and Q2 row totals (Q2 read back from its
parquet output after the restart), distinct ``rsvp_id``s for
``stream_dedup``, and ``ewma_spike_step`` folded over the generated
sequence for ``stream_ewma_spikes``.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time
from datetime import datetime, timezone
from pathlib import Path

from . import harness
from .gen import RsvpGenerator
from .harness import Recorder, median, quantile
from .metrics import STREAM_QUERIES

BACKLOG_FILES = 6
ROWS_PER_FILE = 300
DRAIN_MAX_FILES = 3
# one file per tick (75 rows/s offered); a tick is longer than one
# micro-batch of all five queries, so each file is one batch per query
# and no queue builds up (a queue makes latency swing with host speed)
LIVE_TICK_S = 4.0
LIVE_SHARE = 0.8  # live-phase length as a share of --seconds
SESSION_SETUPS = 5
_PHASE_KEYS = (
    "addBatch", "latestOffset", "getBatch", "queryPlanning", "walCommit",
    "commitOffsets",
)


def _progress_dict(p) -> dict:
    """Plain-JSON form of a StreamingQueryProgress (PySpark 4 hands
    over a dict subclass holding UUIDs and Python-literal offsets)."""
    return json.loads(p.json) if hasattr(p, "json") else p


def _start_queries(spark, names, paths: dict, max_files: int,
                   available_now: bool, rec: Recorder) -> dict:
    from pyspark.sql import functions as F

    from big_data_2021_spark_streaming_spark.plans.reference_queries import (
        decode_rsvps,
        q2_us_meetups_enriched,
        q3_cities_per_minute,
    )
    from big_data_2021_spark_streaming_spark.schemas import states_dimension
    from big_data_2021_spark_streaming_spark.streaming.pipeline import (
        idempotent_parquet_batch_writer,
        rsvp_file_stream,
        stream_dedup,
        stream_ewma_spikes,
        to_foreach_batch_sink,
        with_ingest_metrics,
    )

    raw = rsvp_file_stream(spark, str(paths["src"]), max_files)
    decoded = decode_rsvps(raw)
    ts = F.to_timestamp("timestamp").alias("ts")
    frames = {
        "q1": with_ingest_metrics(decoded)
        .select("data.*")
        .where(F.col("group.group_country") == "us")
        .select("rsvp_id", "group.group_city", "group.group_state"),
        "q3": q3_cities_per_minute(raw),
        "dedup": stream_dedup(
            decoded.select("data.rsvp_id", ts), ["rsvp_id"], "ts", "10 minutes"
        ),
        "ewma": stream_ewma_spikes(
            decoded.select(
                F.col("data.group.group_id").cast("long").alias("user_id"),
                F.col("data.rsvp_id").cast("long").alias("event_id"),
                ts,
                F.col("data.guests").cast("double").alias("value"),
            )
        ),
    }
    writer = idempotent_parquet_batch_writer(str(paths["out"] / "q2"))
    if rec.enabled:
        inner = writer

        def writer(batch_df, batch_id):
            with rec.span("streaming", "sink_write", batch_id=batch_id):
                inner(batch_df, batch_id)

    queries = {}
    for name in names:
        ckpt = str(paths["ckpt"] / name)
        if name == "q2":
            q2 = q2_us_meetups_enriched(raw, states_dimension(spark))
            queries[name] = to_foreach_batch_sink(
                q2, writer, ckpt, available_now=available_now
            )
            continue
        w = frames[name].writeStream.option("checkpointLocation", ckpt)
        if name == "q3":
            w = w.format("noop")
        else:
            w = w.format("parquet").option("path", str(paths["out"] / name))
        if available_now:
            w = w.trigger(availableNow=True)
        queries[name] = w.start()
    return queries


def _source_files(ckpt: Path) -> dict[int, list[str]]:
    """File-source log of one query: source batch id -> file names."""
    out: dict[int, list[str]] = {}
    log = ckpt / "sources" / "0"
    for f in log.iterdir() if log.is_dir() else []:
        if f.name.startswith("."):
            continue
        for line in f.read_text().splitlines()[1:]:
            entry = json.loads(line)
            out.setdefault(int(entry["batchId"]), []).append(
                os.path.basename(entry["path"])
            )
    return out


def _log_offset(offset, default: int) -> int:
    return int(offset["logOffset"]) if offset else default


def _emit_latencies(progress: list[dict], ckpt: Path, newest: dict[str, float]):
    """Per micro-batch with input: emit time minus the creation time of
    the newest event in the batch, in seconds."""
    files = _source_files(ckpt)
    out = []
    for p in progress:
        if not p.get("numInputRows"):
            continue
        src = p["sources"][0]
        start = _log_offset(src.get("startOffset"), -1)
        end = _log_offset(src["endOffset"], -1)
        names = [n for b in range(start + 1, end + 1) for n in files.get(b, [])]
        if not names:
            continue
        started = datetime.strptime(
            p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ"
        ).replace(tzinfo=timezone.utc).timestamp()
        emitted = started + p["durationMs"]["triggerExecution"] / 1000.0
        out.append(emitted - max(newest[n] for n in names))
    return out


class _Generator(threading.Thread):
    """Open-loop producer: calls ``produce`` every ``tick`` seconds on a
    schedule fixed at start; it never waits for the engine. Lateness is
    how far a call fell behind its slot."""

    def __init__(self, produce, tick: float, ticks: int):
        super().__init__(daemon=True)
        self.produce, self.tick, self.ticks = produce, tick, ticks
        self.late_max = 0.0

    def run(self) -> None:
        t0 = time.time()
        for k in range(self.ticks):
            slot = t0 + k * self.tick
            wait = slot - time.time()
            if wait > 0:
                time.sleep(wait)
            self.late_max = max(self.late_max, time.time() - slot)
            self.produce()


def _produce(gen, producer, src: Path, newest: dict, rows: int) -> None:
    """One file of ``rows`` new records, written through the producer
    and renamed into the source directory; ``newest`` keeps the file's
    newest creation time."""
    path = producer.send_batch(gen.make(rows, datetime.now(timezone.utc)))
    newest[path.name] = gen.records[-1][0] / 1e6
    os.rename(path, src / path.name)


def run(workload: str, seed: int, seconds: float, trace: bool, work: Path,
        corrupt: bool = False, toy: bool = False) -> dict:
    from big_data_2021_spark_streaming_spark.streaming.replay import (
        FileEnvelopeProducer,
    )

    rec = Recorder(trace)
    rss = harness.RssSampler()
    sentinels = [harness.sentinel()]
    paths = {k: work / k for k in ("stage", "src", "ckpt", "out")}
    for p in paths.values():
        p.mkdir(parents=True)

    # set-up: the session that starts the JVM (not a sample), then
    # SESSION_SETUPS fresh sessions (the last one is kept), then the
    # backlog
    setups = []
    spark, _ = harness.open_session(f"perfbench-{workload}", work, rec)
    for _ in range(1 if toy else SESSION_SETUPS):
        spark.stop()
        spark, dt = harness.open_session(f"perfbench-{workload}", work, rec)
        setups.append(dt)
    rss.watch(harness.jvm_pid(spark))
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "1000")

    t0 = time.perf_counter()
    gen = RsvpGenerator(seed)
    producer = FileEnvelopeProducer(paths["stage"])
    newest: dict[str, float] = {}
    produce = functools.partial(
        _produce, gen, producer, paths["src"], newest, ROWS_PER_FILE
    )
    backlog_files, drain_max_files = (2, 1) if toy else (BACKLOG_FILES, DRAIN_MAX_FILES)
    for _ in range(backlog_files):
        produce()
    backlog_rows = gen.n_rows
    backlog_s = time.perf_counter() - t0

    attempted = failed = 0
    progress: dict[str, list[dict]] = {}

    def finish(queries: dict, phase: str) -> None:
        nonlocal attempted, failed
        for name, q in queries.items():
            if q.isActive:
                q.stop()
            prog = [_progress_dict(p) for p in q.recentProgress]
            with_input = [p for p in prog if p.get("numInputRows")]
            attempted += len(with_input)
            if q.exception() is not None:
                failed += 1
                attempted += 1
                print(f"{phase} {name}: {q.exception()}")
            progress[f"{phase}.{name}"] = prog

    # drain: throughput-bound catch-up of the backlog
    t0 = time.perf_counter()
    queries = _start_queries(
        spark, STREAM_QUERIES, paths, drain_max_files, True, rec
    )
    for q in queries.values():
        q.awaitTermination()
    drain_s = time.perf_counter() - t0
    finish(queries, "drain")

    # live: restart from the checkpoints; open-loop offered load
    live_s = seconds * LIVE_SHARE
    queries = _start_queries(spark, STREAM_QUERIES, paths, 10_000, False, rec)
    producer_thread = _Generator(produce, LIVE_TICK_S, int(live_s / LIVE_TICK_S))
    t_live = time.perf_counter()
    producer_thread.start()
    producer_thread.join()
    for q in queries.values():
        q.processAllAvailable()
    live_wall = time.perf_counter() - t_live
    finish(queries, "live")

    latencies = {
        name: _emit_latencies(progress[f"live.{name}"], paths["ckpt"] / name, newest)
        for name in STREAM_QUERIES
    }

    pooled = [t for v in latencies.values() for t in v]

    bad = _check(spark, paths, gen, corrupt)
    failed += len(bad)
    attempted += 4
    spark.stop()
    rss.stop()
    sentinels.append(harness.sentinel())

    e2e = {
        "setup_s": median(setups) + backlog_s,
        "wall_s": drain_s,
    }
    info = {
        "peak_rss_mb": round(rss.jvm_hwm_mb(), 1),
        "rss_with_workers_mb": round(rss.peak_mb, 1),
        "drain_rows_per_s": backlog_rows / drain_s,
        "emit_latency_p50_s": median(pooled),
        "emit_latency_p90_s": quantile(pooled, 0.9),
        "emit_latency_samples": len(pooled),
        "emit_latency_median_by_query_s": {
            n: round(median(v), 3) for n, v in latencies.items()
        },
        "backlog_rows": backlog_rows,
        "live_rows": gen.n_rows - backlog_rows,
        "generator_late_max_s": round(producer_thread.late_max, 4),
        "sentinel_s": [round(x, 4) for x in sentinels],
        "mismatched": bad,
    }
    layer = {}
    if trace:
        layer = _layer_values(progress, rec, live_wall)
    layer["session.get_session_s"] = median(rec.samples.get("session.get_session_s", []))
    layer["generator.late_max_s"] = producer_thread.late_max
    layer["host.sentinel_s"] = median(sentinels)
    layer["process.peak_rss_mb"] = info["peak_rss_mb"]
    layer["process.rss_with_workers_mb"] = info["rss_with_workers_mb"]
    layer["trace.wall_s"] = drain_s
    rec.write(work / "spans.jsonl")
    if trace:
        with open(work / "spans.jsonl", "a") as f:
            for key, prog in progress.items():
                for p in prog:
                    f.write(json.dumps({"layer": "streaming", "name": key,
                                        "progress": p}) + "\n")
    return {
        "attempted": attempted,
        "failed": failed,
        "end_to_end": e2e,
        "per_layer": layer,
        "info": info,
    }


def _layer_values(progress: dict[str, list[dict]], rec: Recorder,
                  live_wall: float) -> dict:
    """Per-query p50 phase durations and state sizes over the batches
    with input of both phases, from each query's StreamingQueryProgress."""
    out: dict[str, float] = {}
    busy_ms = 0.0
    for name in STREAM_QUERIES:
        prog = [
            p
            for phase in ("drain", "live")
            for p in progress[f"{phase}.{name}"]
            if p.get("numInputRows")
        ]
        dur = [p["durationMs"] for p in prog]
        out[f"streaming.{name}.trigger_ms"] = median(
            [d.get("triggerExecution", 0) for d in dur])
        for k in _PHASE_KEYS:
            out[f"streaming.{name}.{k}_ms"] = median([d.get(k, 0) for d in dur])
        out[f"streaming.{name}.batches"] = len(prog)
        out[f"streaming.{name}.input_rows"] = sum(p["numInputRows"] for p in prog)
        ops = prog[-1].get("stateOperators", []) if prog else []
        out[f"streaming.{name}.state_rows"] = sum(o.get("numRowsTotal", 0) for o in ops)
        out[f"streaming.{name}.state_memory_bytes"] = sum(
            o.get("memoryUsedBytes", 0) for o in ops)
        out[f"streaming.{name}.state_commit_ms"] = median(
            [sum(o.get("commitTimeMs", 0) for o in p.get("stateOperators", []))
             for p in prog])
        busy_ms += sum(
            p["durationMs"].get("triggerExecution", 0)
            for p in progress[f"live.{name}"]
        )
    writes = rec.samples.get("streaming.sink_write_s", [])
    out["streaming.q2.sink_write_ms"] = median(writes) * 1000.0
    out["streaming.busy_ratio"] = busy_ms / (live_wall * 1000.0)
    return out


def _check(spark, paths: dict, gen: RsvpGenerator, corrupt: bool) -> list[str]:
    """Names of the outputs that differ from the generator's truth."""
    want = {
        "q1": gen.n_us,
        "q2": gen.n_q2,
        "dedup": gen.distinct_ids(),
    }
    if corrupt:  # self-test hook: a deliberately wrong expectation
        want["q1"] += 1
    got = {
        name: spark.read.parquet(str(paths["out"] / name)).count()
        for name in want
    }
    dedup_ids = (
        spark.read.parquet(str(paths["out"] / "dedup"))
        .select("rsvp_id").distinct().count()
    )
    bad = [n for n in want if got[n] != want[n]]
    if dedup_ids != got["dedup"] and "dedup" not in bad:
        bad.append("dedup")
    # sorted lists, not sets: a spike emitted twice (a replayed batch)
    # must fail the check
    ewma = sorted(
        tuple(r) for r in spark.read.parquet(str(paths["out"] / "ewma")).collect()
    )
    if ewma != gen.ewma_spikes():
        bad.append("ewma")
    for n in bad:
        print(f"check {n}: MISMATCH (got {got.get(n)}, want {want.get(n)})")
    return bad
