"""SparkSession factory with scale-aware defaults.

The reference bootstraps a bare session with only a Kafka package pin
(``srapk_structure_streaming.py:9-11``) and inherits Spark 3.1 defaults
(200 shuffle partitions for a 1-partition topic — see SURVEY.md §6).
We instead pin the configs that matter at 100 TB:

- AQE on (runtime coalescing / skew-join splitting for batch plans).
- ``spark.sql.shuffle.partitions`` sized from the local core budget;
  on a real cluster AQE coalesces the excess, so oversizing is safe.
- UTC session timezone so event-time semantics are deployment-invariant
  (and match the DuckDB oracle, which reads parquet timestamps naively).
- ``spark.sql.legacy.parquet.nanosAsLong=true``: the test tables carry
  parquet TIMESTAMP(NANOS) which Spark refuses natively; we read the
  raw int64 and floor-divide to micros in the catalog layer
  (sources/batch.py) — identical truncation to DuckDB's ns→µs read.
- Arrow enabled for the pandas-UDF paths (similarity / multimodal).

It also holds the engine's one store that lives as long as a session,
``session_cached``, and its one way to build a frame from Python rows,
``local_frame`` (see each).
"""

from __future__ import annotations

import functools
import os
import sys
from collections import OrderedDict
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# the defaults a live session accepts: ``get_session`` builds with them
# and ``configure_existing`` sets them on a session it did not build
RUNTIME_CONF = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}


def get_session(
    app_name: str = "big-data-2021-spark-streaming-spark",
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults."""
    cpus = cpus or DEFAULT_CPUS
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(cpus))
        # local mode runs driver+executors in ONE JVM, so Spark's 1g
        # driver default is the whole memory budget — the sf0.4 dedup
        # gram frames OOM'd it. Size the heap to the workload tier
        # (env-overridable); harmless on a real cluster where the
        # driver is only the coordinator.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        )
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", "false")
        .config(
            "spark.sql.streaming.stateStore.providerClass",
            # RocksDB state store: bounded memory for large streaming state
            # (the reference used HDFSBackedStateStoreProvider, which keeps
            # all state on-heap — fine for 135 records, fatal at 100 TB).
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        )
    )
    for k, v in {**RUNTIME_CONF, **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    _ship_or_warn(spark)
    return spark


def _ship_or_warn(spark: SparkSession) -> None:
    """``_ship_package``, best-effort: repo-root cwd still works without
    it — but say so, or a broken zip surfaces later as an opaque
    worker-side ModuleNotFoundError with no clue it was a shipping
    failure."""
    try:
        _ship_package(spark)
    except Exception as e:
        print(
            f"warning: could not ship package to workers: {e}",
            file=sys.stderr,
        )


def _ship_package(spark: SparkSession) -> None:
    """Make this package importable on Spark PYTHON WORKERS regardless
    of the driver process's cwd.

    The Arrow ``mapInPandas`` operators (multimodal, similarity)
    cloudpickle their functions BY REFERENCE, so executors must import
    ``big_data_2021_spark_streaming_spark`` themselves. A driver-side
    ``sys.path.insert`` (``__spark_entry__``) does not propagate to
    workers — they only see PYTHONPATH, pyFiles, and their cwd. Running
    from the repo root masks this (worker cwd is on its path); any
    other cwd fails with ModuleNotFoundError inside the worker. Zip the
    package (``_package_zip``) and ``addPyFile`` it once per session —
    the live-session mechanism Spark provides for exactly this.

    Caveat: the zip is shipped once per session, so package code EDITED
    while a session is live keeps running the stale zip on workers
    until the session restarts — restart the session after editing
    operator code."""
    import tempfile

    marker = "spark.big_data_2021_spark_streaming_spark.shipped"
    try:
        if spark.conf.get(marker, None) == "true":
            return
    except Exception:
        pass
    zpath = _package_zip(
        Path(__file__).resolve().parent, Path(tempfile.gettempdir())
    )
    spark.sparkContext.addPyFile(str(zpath))
    try:
        spark.conf.set(marker, "true")
    except Exception:
        pass


def _package_zip(pkg_root: Path, out_dir: Path) -> Path:
    """Zip ``pkg_root`` (minus ``__pycache__``) into ``out_dir``, named
    by a hash of the package's files, and return the path. Sessions
    running the same code share one zip instead of leaving one per
    application in the temp dir; an edit names a new one. The zip is
    written under a per-process name and renamed into place, so a
    concurrent session never ships a half-written file."""
    import hashlib
    import zipfile

    files = [
        f
        for f in sorted(pkg_root.rglob("*"))
        if f.is_file() and "__pycache__" not in f.parts
    ]
    digest = hashlib.sha256()
    for f in files:
        digest.update(f.relative_to(pkg_root).as_posix().encode() + b"\0")
        digest.update(f.read_bytes() + b"\0")
    zpath = out_dir / f"{pkg_root.name}_pkg_{digest.hexdigest()[:16]}.zip"
    if not zpath.exists():
        tmp = zpath.with_name(f"{zpath.name}.{os.getpid()}.tmp")
        with zipfile.ZipFile(tmp, "w") as z:
            for f in files:
                z.write(f, f"{pkg_root.name}/{f.relative_to(pkg_root)}")
        os.replace(tmp, zpath)
    return zpath


def local_frame(spark: SparkSession, rows, ddl: str) -> DataFrame:
    """A literal frame (``rows`` of tuples, schema ``ddl``) the JVM holds
    as a local relation: it plans as ``LocalTableScan`` and collects
    with no job. ``spark.createDataFrame(list, ddl)`` would instead
    pickle the rows into a Python RDD (``Scan ExistingRDD``) and run a
    Python-worker job on every execution — once per micro-batch for a
    stream's broadcast side. Same schema and rows either way, with or
    without ``spark.sql.execution.arrow.pyspark.enabled``."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _parse_datatype_string

    schema = to_arrow_schema(_parse_datatype_string(ddl))
    table = pa.Table.from_pylist(
        [dict(zip(schema.names, row, strict=True)) for row in rows],
        schema=schema,
    )
    return spark.createDataFrame(table)


def configure_existing(spark: SparkSession) -> SparkSession:
    """Apply the engine's runtime-settable defaults to a session we did
    not create (the driver hands us one in ``__spark_entry__``)."""
    for k, v in RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # static conf on a live session — keep going
    _ship_or_warn(spark)
    return spark


# (applicationId, sf_dir) -> {(function, *other args): DataFrame}, least
# recently used sf_dir first. Named *_CACHE so tools/plan_fingerprint.py
# treats it as runtime state, not a plan constant.
_SESSION_CACHE: OrderedDict[tuple[str, str], dict[tuple, DataFrame]] = (
    OrderedDict()
)
# sf_dirs kept per application: one test compares two corpora (an
# offset-id copy against its base) and must keep both; every benchmark
# pass and every other test reads one
SESSION_CACHE_DIRS = 2


def session_cached(fn):
    """Memoize ``fn(spark, sf_dir, *args) -> DataFrame`` for the life of
    ``spark``'s application, so every consumer in a session gets the
    same DataFrame object (one plan, one materialization of whatever
    ``fn`` persists or checkpoints) instead of rebuilding it.

    The cache only stores, looks up and evicts; it must never change a
    plan. Every ``persist()``/``localCheckpoint()`` stays in ``fn``'s
    body, which the plan fingerprint hashes. Apply it by rebinding
    (``f = session_cached(f)``), not with ``@``: the fingerprint reads
    ``fn``'s source through ``__wrapped__``, and a decorator line would
    fold this function's source into every builder that uses ``f``.

    Lifetime: a frame from a stopped session is unusable, so entries of
    other applications are dropped on the next miss. Within one
    application at most ``SESSION_CACHE_DIRS`` sf_dirs are kept; the
    least recently used one is evicted (see ``evict_session_cache``).
    Rewriting a corpus dir in place mid-session would serve the stale
    frames: write new corpora under fresh paths."""

    @functools.wraps(fn)
    def cached(spark: SparkSession, sf_dir: str, *args) -> DataFrame:
        frames = _session_frames(spark, sf_dir)
        key = (fn, *args)
        if key not in frames:
            frames[key] = fn(spark, sf_dir, *args)
        return frames[key]

    return cached


def _session_frames(spark: SparkSession, sf_dir: str) -> dict:
    app = spark.sparkContext.applicationId
    slot = (app, sf_dir)
    if slot in _SESSION_CACHE:
        _SESSION_CACHE.move_to_end(slot)
        return _SESSION_CACHE[slot]
    for stale in [s for s in _SESSION_CACHE if s[0] != app]:
        del _SESSION_CACHE[stale]
    while len(_SESSION_CACHE) >= SESSION_CACHE_DIRS:
        _unpersist(_SESSION_CACHE.popitem(last=False)[1])
    return _SESSION_CACHE.setdefault(slot, {})


def evict_session_cache(spark: SparkSession, sf_dir: str) -> None:
    """Drop this application's cached frames for ``sf_dir``.

    Their cached blocks are unpersisted, which only drops a cache over
    lineage Spark can recompute, so a frame a caller still holds stays
    usable. ``localCheckpoint`` blocks are not released."""
    _unpersist(_SESSION_CACHE.pop((spark.sparkContext.applicationId, sf_dir), {}))


def _unpersist(frames: dict) -> None:
    for df in frames.values():
        df.unpersist()
