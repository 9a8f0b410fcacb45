"""Metric names, units and what each per-layer metric should move.

``BENCHMARK.json`` lists the same names; the self-test checks that the
two agree and that every run emits every metric with its unit.
"""

from __future__ import annotations

# name -> (unit, definition). Every workload emits every end-to-end
# metric; the definitions say what each means per workload.
END_TO_END: dict[str, tuple[str, str]] = {
    "setup_s": (
        "s",
        "median set-up of the run's fresh sessions after the one that "
        "starts the JVM: get_session at local[4] plus the warm-up read "
        "(batch: five, then one per timed pass; rsvp_stream: five, plus "
        "the backlog generation)",
    ),
    "wall_s": (
        "s",
        "batch: median pass wall, first build to last result in a fresh "
        "session, builder eager jobs and first touch included; "
        "rsvp_stream: drain-phase wall",
    ),
}

_PHASES = (
    "trigger_ms", "addBatch_ms", "latestOffset_ms", "getBatch_ms",
    "queryPlanning_ms", "walCommit_ms", "commitOffsets_ms",
)
_STREAM_COUNTS = (
    "batches", "input_rows", "state_rows", "state_memory_bytes",
    "state_commit_ms",
)
STREAM_QUERIES = ("q1", "q2", "q3", "dedup", "ewma")

# per-layer counters of the batch layers (plans, operators.*)
QUERY_COUNTERS: dict[str, str] = {
    "build_s": "s",
    "build_jobs": "count",
    "plan_ms": "ms",
    "exec_s": "s",
    "jobs": "count",
    "stages": "count",
    "tasks": "count",
    "task_s": "s",
    "shuffle_bytes": "bytes",
    "tasks_per_stage": "count",
    "core_busy_ratio": "ratio",
    "failed_tasks": "count",
}


def _unit(name: str) -> str:
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_bytes"):
        return "bytes"
    return "count"


def _layer_metrics() -> dict[str, tuple[str, str]]:
    m: dict[str, tuple[str, str]] = {
        "session.get_session_s": ("s", "setup_s on every workload"),
        "sources.load_table_calls": ("count", "wall_s on batch"),
        "sources.load_table_s": ("s", "wall_s on batch"),
        "sources.input_bytes": ("bytes", "wall_s on batch"),
    }
    for name, unit in QUERY_COUNTERS.items():
        m[f"plans.{name}"] = (
            unit, "wall_s on batch (relational queries); "
            "not rsvp_stream")
    for prefix in ("operators", "operators.dedup", "operators.similarity"):
        for name, unit in {**QUERY_COUNTERS, "build_stages": "count"}.items():
            m[f"{prefix}.{name}"] = (
                unit,
                "wall_s and the printed query_tail_s on batch (corpus queries: "
                "build_s, build_jobs, build_stages; memo size moves "
                "peak_rss_mb); not rsvp_stream",
            )
    for q in STREAM_QUERIES:
        for name in _PHASES:
            m[f"streaming.{q}.{name}"] = (
                "ms", "p50 per batch; the printed emit latency (live) and wall_s (drain) "
                "on rsvp_stream only")
        for name in _STREAM_COUNTS:
            m[f"streaming.{q}.{name}"] = (
                _unit(name), "the printed emit latency (live) and wall_s (drain) on "
                "rsvp_stream only")
    m["streaming.q2.sink_write_ms"] = (
        "ms", "the printed emit_latency_p90_s on rsvp_stream (p50 of the "
        "foreachBatch writer)")
    m["streaming.busy_ratio"] = (
        "ratio", "headroom: summed trigger time / live-phase wall")
    m["generator.late_max_s"] = (
        "s", "checks the open-loop generator kept its schedule; not engine cost")
    m["process.peak_rss_mb"] = (
        "MB", "peak RSS of the Spark JVM (VmHWM); memo size moves it on batch")
    m["process.rss_with_workers_mb"] = (
        "MB", "sampled peak RSS of the Spark JVM plus its Python workers")
    m["host.sentinel_s"] = (
        "s", "fixed CPU probe at start and end of the run; tells a slow "
        "host from a regression")
    m["trace.wall_s"] = (
        "s", "wall_s of the traced run; minus the untraced wall_s it is the "
        "tracing overhead")
    return m


PER_LAYER: dict[str, tuple[str, str]] = _layer_metrics()


def emit(values: dict[str, float], table: dict[str, tuple[str, str]]) -> dict:
    """The result's ``metrics`` object: every metric of ``table``, in
    order, with its unit (absent values are reported as 0)."""
    return {
        name: {"value": float(values.get(name, 0.0)), "unit": unit}
        for name, (unit, _) in table.items()
    }
