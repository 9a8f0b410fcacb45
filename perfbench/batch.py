"""The ``batch`` workload: relational and corpus queries in passes.

A run generates its tables from the seed and opens one session, which
pays the JVM start and is not a ``setup_s`` sample. In that session,
outside the timed window, every query is built, collected and compared
with its registry DuckDB oracle; this check pass also carries the
JVM's JIT warm-up. The run then takes ``EXTRA_SETUPS`` session set-ups
(``get_session`` + warm-up read, one ``setup_s`` sample each) and
repeats timed *passes* until ``--seconds`` have gone by (at least
``MIN_PASSES``). A pass opens a fresh session (one more ``setup_s``
sample; a new application id also empties every engine session memo,
so every pass pays first touch) and runs the workload's queries one at
a time, in list order: ``build``, then execute to the noop sink.
"""

from __future__ import annotations

import time
from pathlib import Path

from . import gen, harness
from .harness import Recorder, median, quantile

# scale of the generated tables (lineitem ≈ 30,000 rows; documents and
# embeddings are 500 rows at every scale, as in the engine's corpora)
SF = 0.005
TOY_SF = 0.001
MIN_PASSES = 2
MAX_PASSES = 9
# session set-ups taken after the check pass, on top of the one per
# timed pass; the session that starts the JVM is not a sample
EXTRA_SETUPS = 5

# A fixed subset of each family. The full 113-query relational and
# 54-query corpus sweeps at sf0.1 take about two minutes each, longer
# than one run may last. One pass runs both families: the relational
# queries (plans.analytics, plans.rsvp_fixture), which never touch an
# operator memo, then the corpus queries (operators.dedup,
# operators.similarity), whose builders fire eager jobs and build the
# memoized shared frames on first touch.
#
# RELATIONAL is the stratified pick of perfbench/sweep.py over all 113
# relational builders (recorded in perfbench/baseline/sweep.json): one
# query per stratum of the population sorted by stages and jobs, so
# its per-query stage, job and task mix matches the population's.
RELATIONAL = [
    "asof_attribution",
    "parts_never_in_bulk_orders",
    "click_and_error_users",
    "orders_monthly_growth",
    "event_dow_profile",
    "event_cusum_changepoint",
    "event_value_benford",
    "linkage_fs_weights",
]
# The corpus queries are the ROADMAP targets, not a sample: the
# dedup_clusters label-propagation chain (its memo is reused by
# dedup_cluster_histogram) and the similarity top-k frame.
CORPUS = [
    "dedup_clusters",
    "dedup_cluster_histogram",
    "similarity_topk",
]
QUERIES = RELATIONAL + CORPUS


def _layer(spec) -> str:
    mod = spec.build.__module__.rsplit(".", 2)
    if mod[-2] == "operators":
        return f"operators.{mod[-1]}"
    return "plans"


def _trace_load_table(rec: Recorder) -> None:
    """Wrap ``sources.batch.load_table`` in every engine module that
    imported it, so each call is a ``sources`` span."""
    import sys

    from big_data_2021_spark_streaming_spark.sources import batch as src

    original = src.load_table

    def load_table(spark, sf_dir, name):
        with rec.span("sources", "load_table", table=name):
            return original(spark, sf_dir, name)

    for mod in list(sys.modules.values()):
        if getattr(mod, "__name__", "").startswith(
            "big_data_2021_spark_streaming_spark"
        ) and getattr(mod, "load_table", None) is original:
            mod.load_table = load_table


def _run_query(spark, spec, data: str, rec: Recorder, layer: str) -> None:
    sc = spark.sparkContext
    if not rec.enabled:
        spec.build(spark, data).write.format("noop").mode("overwrite").save()
        return
    group = f"{spec.name}-{time.perf_counter_ns()}"
    sc.setJobGroup(f"{group}:build", spec.name)
    with rec.span(layer, "build", query=spec.name) as b:
        df = spec.build(spark, data)
    built = harness.job_counters(spark, f"{group}:build")
    sc.setJobGroup(f"{group}:exec", spec.name)
    pm = harness.plan_ms(df)
    with rec.span(layer, "execute", query=spec.name) as e:
        df.write.format("noop").mode("overwrite").save()
    ran = harness.job_counters(spark, f"{group}:exec")
    sc.setLocalProperty("spark.jobGroup.id", None)
    rec.add(f"{layer}.build_s", b.seconds)
    rec.add(f"{layer}.build_jobs", built["jobs"])
    rec.add(f"{layer}.build_stages", built["stages"])
    rec.add(f"{layer}.plan_ms", pm)
    rec.add(f"{layer}.exec_s", e.seconds)
    for k in ("jobs", "stages", "tasks", "task_s", "shuffle_bytes", "failed_tasks"):
        rec.add(f"{layer}.{k}", built[k] + ran[k])
    rec.add("sources.input_bytes", built["input_bytes"] + ran["input_bytes"])


def _check(spark, specs, names, data: str, corrupt: bool) -> list[str]:
    """Names whose Spark result differs from the DuckDB oracle on row
    count, columns or canonical value multiset."""
    import duckdb

    from tools.check_oracle import TABLES, frame_to_multiset

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')"
        )
    bad = []
    for name in names:
        spec = specs[name]
        try:
            got = spec.build(spark, data).toPandas()
            want = con.execute(spec.oracle).df()
            if corrupt:  # self-test hook: a deliberately wrong expectation
                want = want.iloc[1:] if len(want) else want
            ok = (
                len(got) == len(want)
                and sorted(got.columns) == sorted(want.columns)
                and frame_to_multiset(got) == frame_to_multiset(want)
            )
        except Exception as e:  # noqa: BLE001 - any failure is a mismatch
            print(f"check {name}: {type(e).__name__}: {e}")
            ok = False
        if not ok:
            print(f"check {name}: MISMATCH")
            bad.append(name)
    con.close()
    return bad


def run(workload: str, seed: int, seconds: float, trace: bool, work: Path,
        corrupt: bool = False, toy: bool = False) -> dict:
    from big_data_2021_spark_streaming_spark.plans.registry import all_queries

    rec = Recorder(trace)
    rss = harness.RssSampler()
    sentinels = [harness.sentinel()]
    data = str(work / "data")
    gen.write_tables(seed, TOY_SF if toy else SF, data)
    min_passes = 1 if toy else MIN_PASSES
    specs = all_queries()
    names = list(QUERIES)
    layers = {n: _layer(specs[n]) for n in names}

    setups: list[float] = []

    def fresh_session(old):
        if old is not None:
            old.stop()
        spark, dt = harness.open_session(
            f"perfbench-{workload}", work, rec, warm=f"{data}/region.parquet"
        )
        if old is not None:
            setups.append(dt)
        return spark

    spark = fresh_session(None)
    rss.watch(harness.jvm_pid(spark))
    t_check = time.perf_counter()
    bad = _check(spark, specs, names, data, corrupt)
    check_s = time.perf_counter() - t_check
    for _ in range(0 if toy else EXTRA_SETUPS):
        spark = fresh_session(spark)
    if trace:
        _trace_load_table(rec)

    walls: list[float] = []
    per_query: dict[str, list[float]] = {n: [] for n in names}
    attempted = failed = 0
    t_start = time.perf_counter()
    while len(walls) < MAX_PASSES:
        spark = fresh_session(spark)
        t_pass = time.perf_counter()
        for name in names:
            t0 = time.perf_counter()
            attempted += 1
            try:
                _run_query(spark, specs[name], data, rec, layers[name])
            except Exception as e:  # noqa: BLE001 - counted, not fatal
                failed += 1
                print(f"query {name}: {type(e).__name__}: {e}")
            per_query[name].append(time.perf_counter() - t0)
        walls.append(time.perf_counter() - t_pass)
        elapsed = time.perf_counter() - t_start
        if len(walls) >= min_passes and elapsed + median(walls) > seconds:
            break
    timed_s = time.perf_counter() - t_start
    failed += len(bad)
    spark.stop()
    rss.stop()
    sentinels.append(harness.sentinel())

    typical = [median(ts) for ts in per_query.values()]
    e2e = {
        "setup_s": median(setups),
        "wall_s": median(walls),
    }
    info = {
        "peak_rss_mb": round(rss.jvm_hwm_mb(), 1),
        "rss_with_workers_mb": round(rss.peak_mb, 1),
        "passes": len(walls),
        "setups": len(setups),
        "queries": names,
        "query_p50_s": median(typical),
        "query_tail_s": quantile(typical, 0.9),
        "mismatched": bad,
        "check_s": round(check_s, 3),
        "timed_s": round(timed_s, 3),
        "sentinel_s": [round(x, 4) for x in sentinels],
        "per_query_median_s": {
            n: round(t, 3) for n, t in zip(per_query, typical)
        },
    }
    layer = _layer_values(rec, len(walls))
    layer["host.sentinel_s"] = median(sentinels)
    layer["process.peak_rss_mb"] = info["peak_rss_mb"]
    layer["process.rss_with_workers_mb"] = info["rss_with_workers_mb"]
    layer["trace.wall_s"] = e2e["wall_s"]
    rec.write(work / "spans.jsonl")
    return {
        "attempted": attempted,
        "failed": failed,
        "end_to_end": e2e,
        "per_layer": layer,
        "info": info,
    }


def _layer_values(rec: Recorder, passes: int) -> dict[str, float]:
    """Per-pass means of the summed counters, plus the derived ratios
    and the ``operators`` total over its families."""
    out = {k: v / passes for k, v in rec.sums.items()}
    fams = sorted({k.rsplit(".", 1)[0] for k in out if k.startswith("operators.")})
    for k in [k for k in out if k.startswith("operators.")]:
        total_key = "operators." + k.rsplit(".", 1)[1]
        out[total_key] = out.get(total_key, 0.0) + out[k]
    for prefix in ["plans", "operators", *fams]:
        stages = out.get(f"{prefix}.stages", 0.0)
        exec_s = out.get(f"{prefix}.exec_s", 0.0)
        if stages:
            out[f"{prefix}.tasks_per_stage"] = out[f"{prefix}.tasks"] / stages
        if exec_s:
            out[f"{prefix}.core_busy_ratio"] = out[f"{prefix}.task_s"] / (
                (exec_s + out.get(f"{prefix}.build_s", 0.0)) * harness.CPUS
            )
    loads = rec.samples.get("sources.load_table_s", [])
    out["sources.load_table_calls"] = len(loads) / passes
    out["sources.load_table_s"] = sum(loads) / passes
    out["session.get_session_s"] = median(rec.samples.get("session.get_session_s", []))
    return out
