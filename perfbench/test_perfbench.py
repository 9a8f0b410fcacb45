"""Self-test of the benchmark at toy size (sf0.001 tables, a
few-second stream). Each case starts its own Spark JVM, so the whole
file takes a few minutes:

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

BENCH = Path(__file__).resolve().parent
sys.path.insert(0, str(BENCH.parent))

from perfbench import metrics  # noqa: E402


def _run(workload: str, *extra: str, trace: int = 0) -> dict:
    proc = subprocess.run(
        [sys.executable, str(BENCH / "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "5", "--trace", str(trace), "--toy",
         *extra],
        cwd=BENCH.parent, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    out = json.loads(lines[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    out["stdout"] = proc.stdout
    return out


def _assert_metrics(got: dict, table: dict) -> None:
    assert list(got) == list(table)
    for name, (unit, _) in table.items():
        assert got[name]["unit"] == unit, name
        assert isinstance(got[name]["value"], float), name


def test_benchmark_json_matches_metric_tables():
    spec = json.loads((BENCH.parent / "BENCHMARK.json").read_text())
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert e2e == {k: v[0] for k, v in metrics.END_TO_END.items()}
    assert layer == {k: v[0] for k, v in metrics.PER_LAYER.items()}
    assert {w["name"] for w in spec["workloads"]} == {"batch", "rsvp_stream"}


def test_relational_subset_is_the_recorded_stratified_pick():
    from perfbench import batch, sweep

    rec = json.loads((BENCH / "baseline" / "sweep.json").read_text())
    rel = rec["queries"]["relational"]
    assert len(rel) == rec["relational"]["population"]["queries"]
    assert batch.RELATIONAL == sweep.stratify(rel, len(batch.RELATIONAL))
    assert batch.RELATIONAL == rec["relational"]["stratified_pick"]


@pytest.mark.parametrize("workload", ["batch", "rsvp_stream"])
def test_every_end_to_end_metric_is_emitted(workload):
    out = _run(workload)
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    _assert_metrics(out["metrics"], metrics.END_TO_END)
    for name in metrics.END_TO_END:
        assert f"{workload} {name} = " in out["stdout"]
    assert f"{workload} failed_ratio = 0 " in out["stdout"]


@pytest.mark.parametrize("workload", ["batch", "rsvp_stream"])
def test_traced_run_emits_every_per_layer_metric(workload):
    out = _run(workload, trace=1)
    assert out["correct"]
    _assert_metrics(out["metrics"], metrics.PER_LAYER)
    m = {k: v["value"] for k, v in out["metrics"].items()}
    assert m["session.get_session_s"] > 0 and m["host.sentinel_s"] > 0
    if workload == "rsvp_stream":
        assert m["streaming.q2.batches"] > 0 and m["streaming.q2.sink_write_ms"] > 0
    else:
        assert m["operators.dedup.build_s"] > 0 and m["operators.stages"] > 0
        assert m["plans.stages"] > 0 and m["plans.plan_ms"] > 0
        assert m["sources.load_table_calls"] > 0


@pytest.mark.parametrize("workload", ["batch", "rsvp_stream"])
def test_wrong_expected_result_raises_failed_ratio(workload):
    out = _run(workload, "--corrupt-expected")
    assert not out["correct"]
    assert out["failed"] / out["attempted"] > 0
    assert "MISMATCH" in out["stdout"]
