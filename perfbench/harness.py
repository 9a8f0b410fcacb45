"""Shared pieces of the benchmark: the work directory, Spark session
set-up, the host sentinel, the RSS sampler, the span recorder and the
Spark counters read around each traced call.

Spans and counters come from outside the engine: a span wraps a call
into an engine module, and the counters are read from Spark's status
tracker and status store (both work with ``spark.ui.enabled=false``)
and from ``queryExecution().tracker()``.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import statistics
import sys
import threading
import time
from collections import defaultdict
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
REPO = BENCH_DIR.parent
ENGINE = REPO / "big_data_2021_spark_streaming_spark"
CPUS = 4
# JVM heap (get_session's memory env knob; its default is 8g): local
# mode runs the whole engine in this one JVM, and a small fixed cap
# keeps a run's memory footprint modest on a shared host
JVM_HEAP = "2g"


class SetupError(RuntimeError):
    """The checkout cannot run the benchmark (e.g. no engine package)."""


def prepare(workload: str, seed: int) -> Path:
    """Make the engine importable and give the run a fresh work
    directory inside the checkout. Spark's scratch space and Python's
    temp files go there too, so a run writes nothing outside."""
    if not (ENGINE / "session.py").is_file():
        raise SetupError(f"engine package not found at {ENGINE}")
    if str(REPO) not in sys.path:
        sys.path.insert(0, str(REPO))
    work = BENCH_DIR / ".work" / f"{workload}-{seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    for var in ("TMPDIR", "SPARK_LOCAL_DIRS"):
        os.environ[var] = str(work / "tmp")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = JVM_HEAP
    import tempfile

    tempfile.tempdir = None
    return work


def cleanup(work: Path) -> None:
    """Delete the run's generated inputs and Spark scratch; the span
    file of a traced run stays."""
    for p in work.iterdir():
        if p.name != "spans.jsonl":
            if p.is_dir():
                shutil.rmtree(p, ignore_errors=True)
            else:
                p.unlink()


def quantile(values, q: float) -> float:
    """Linear-interpolated quantile, ``q`` in [0, 1]."""
    vals = sorted(values)
    if not vals:
        return 0.0
    pos = q * (len(vals) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(vals) - 1)
    return vals[lo] + (vals[hi] - vals[lo]) * (pos - lo)


def median(values) -> float:
    return statistics.median(values) if values else 0.0


def sentinel() -> float:
    """A fixed CPU probe: seconds for 100,000 chained SHA-256 rounds.
    Engine changes cannot move it, so a slower figure means a slower
    host."""
    t0 = time.perf_counter()
    h = b"perfbench"
    for _ in range(100_000):
        h = hashlib.sha256(h * 8).digest()
    return time.perf_counter() - t0


class RssSampler:
    """Samples the summed RSS of the Spark JVM and its Python
    worker processes every ``interval`` seconds; ``peak_mb`` is the
    largest sum seen."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak_kb = 0
        self._pid: int | None = None
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def watch(self, jvm_pid: int) -> None:
        self._pid = jvm_pid
        if not self._thread.is_alive():
            self._thread.start()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0

    def jvm_hwm_mb(self) -> float:
        """The JVM's own peak RSS as the kernel tracked it (VmHWM)."""
        with open(f"/proc/{self._pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        return 0.0

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            if self._pid is not None:
                self.peak_kb = max(self.peak_kb, _tree_rss_kb(self._pid))

    def stop(self) -> None:
        self._stop.set()
        if self._thread.is_alive():
            self._thread.join()


def _tree_rss_kb(root: int) -> int:
    parent: dict[int, int] = {}
    rss: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/status") as f:
                fields = dict(
                    line.split(":", 1) for line in f.read().splitlines() if ":" in line
                )
        except OSError:
            continue
        pid = int(entry)
        parent[pid] = int(fields.get("PPid", "0"))
        rss[pid] = int(fields.get("VmRSS", "0 kB").split()[0])
    total = 0
    for pid in rss:
        p = pid
        while p and p != root:
            p = parent.get(p, 0)
        if p == root:
            total += rss[pid]
    return total


def stop_jvm() -> None:
    """Shut the py4j gateway down and wait for the Spark JVM (and with
    it the Python workers it forked) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.terminate()
        proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def open_session(app: str, work: Path, rec: "Recorder", warm: str | None = None):
    """``get_session`` at ``local[4]`` plus one warm-up read (of the
    parquet file ``warm``, else of a generated range); returns (spark,
    seconds). Scratch space is pointed into the work dir."""
    from big_data_2021_spark_streaming_spark.session import get_session

    t0 = time.perf_counter()
    with rec.span("session", "get_session"):
        spark = get_session(
            app,
            cpus=CPUS,
            extra_conf={
                "spark.local.dir": str(work / "tmp"),
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'}",
                "spark.sql.warehouse.dir": str(work / "warehouse"),
            },
        )
    spark.sparkContext.setLogLevel("ERROR")
    if warm:
        spark.read.parquet(warm).count()
    else:
        spark.range(1000).selectExpr("sum(id)").collect()
    return spark, time.perf_counter() - t0


class Recorder:
    """In-memory spans and per-layer sums. With ``enabled=False`` every
    call is a no-op, so the untraced run pays nothing for it."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.sums: dict[str, float] = defaultdict(float)
        self.samples: dict[str, list[float]] = defaultdict(list)

    def span(self, layer: str, name: str, **attrs):
        return _Span(self, layer, name, attrs)

    def add(self, key: str, value: float) -> None:
        if self.enabled:
            self.sums[key] += value

    def write(self, path: Path) -> None:
        if self.enabled:
            with open(path, "w") as f:
                for s in self.spans:
                    f.write(json.dumps(s) + "\n")


class _Span:
    def __init__(self, rec: Recorder, layer: str, name: str, attrs: dict):
        self.rec, self.layer, self.name, self.attrs = rec, layer, name, attrs
        self.seconds = 0.0

    def __enter__(self):
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.seconds = time.perf_counter() - self.t0
        if self.rec.enabled:
            self.rec.spans.append(
                {
                    "layer": self.layer,
                    "name": self.name,
                    "start": self.t0,
                    "seconds": self.seconds,
                    "error": exc[0].__name__ if exc[0] else None,
                    **self.attrs,
                }
            )
            self.rec.samples[f"{self.layer}.{self.name}_s"].append(self.seconds)
        return False


def job_counters(spark, group: str, timeout: float = 5.0) -> dict[str, float]:
    """Jobs, stages, tasks, task-seconds and bytes of every job run
    under ``group``. Waits until the status store has seen each job
    end, so late listener events are not lost."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    jobs = sorted(tracker.getJobIdsForGroup(group))
    deadline = time.perf_counter() + timeout
    stage_ids: set[int] = set()
    for jid in jobs:
        info = tracker.getJobInfo(jid)
        while info is not None and info.status not in ("SUCCEEDED", "FAILED"):
            if time.perf_counter() > deadline:
                break
            time.sleep(0.002)
            info = tracker.getJobInfo(jid)
        if info is not None:
            stage_ids.update(int(s) for s in info.stageIds)
    out = dict.fromkeys(
        ("jobs", "stages", "tasks", "task_s", "failed_tasks", "input_bytes",
         "shuffle_bytes"),
        0.0,
    )
    out["jobs"] = float(len(jobs))
    for sid in stage_ids:
        try:
            sd = store.lastStageAttempt(sid)
        except Exception:
            continue
        if sd.status().toString() == "SKIPPED":
            continue
        out["stages"] += 1
        out["tasks"] += sd.numTasks()
        out["failed_tasks"] += sd.numFailedTasks()
        out["task_s"] += sd.executorRunTime() / 1000.0
        out["input_bytes"] += sd.inputBytes()
        out["shuffle_bytes"] += sd.shuffleWriteBytes()
    return out


def plan_ms(df) -> float:
    """Catalyst analysis + optimization + planning of ``df``'s own
    QueryExecution (planning is forced here, so this costs one extra
    planning pass — part of the tracing overhead)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    return float(
        sum(
            phases.apply(p).durationMs()
            for p in ("analysis", "optimization", "planning")
            if phases.contains(p)
        )
    )
