"""Unit tests for tools/bench_diff.py (the bench regression gate)."""

import json
import subprocess
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

from tools.bench_diff import diff, load_timings  # noqa: E402


def _bench_line(queries, path):
    path.write_text(
        json.dumps(
            {
                "metric": "registry_total_runtime",
                "unit": "sec",
                "sf": 0.1,
                "queries": queries,
                "value": round(sum(v for v in queries.values() if v >= 0), 3),
            }
        )
    )


def test_load_full_bench_line(tmp_path):
    f = tmp_path / "run.json"
    _bench_line({"q1": 0.5, "q2": 2.0}, f)
    assert load_timings(str(f)) == {"q1": 0.5, "q2": 2.0}


def test_warm_block_is_gated_under_warm_keys(tmp_path):
    # the warm block is paid by every run, so a warm-builder regression
    # must fail the gate like a per-query one
    prev, curr = tmp_path / "p.json", tmp_path / "c.json"
    for path, warm in ((prev, 2.0), (curr, 6.0)):
        doc = {"queries": {"q": 1.0}, "warm_queries": {"dedup_clusters": warm}}
        path.write_text(json.dumps({"metric": "x", "value": 1.0, **doc}))
    p, c = load_timings(str(prev)), load_timings(str(curr))
    assert p == {"q": 1.0, "warm:dedup_clusters": 2.0}
    regs, _, _ = diff(p, c, 2.0, 1.0, set())
    assert [(r[0], r[3]) for r in regs] == [("warm:dedup_clusters", 3.0)]


def test_load_raw_stdout_with_noise_lines(tmp_path):
    f = tmp_path / "run.log"
    f.write_text(
        "WARN blah\n"
        + json.dumps({"metric": "x", "queries": {"a": 1.25}, "value": 1.25})
        + "\n"
    )
    assert load_timings(str(f)) == {"a": 1.25}


def test_load_driver_tail_shape(tmp_path):
    # the driver's BENCH_r{N}.json stores only a truncated tail; pairs
    # are recovered by regex and partial leading keys are harmless
    f = tmp_path / "BENCH_r04.json"
    f.write_text(
        json.dumps(
            {
                "n": 4,
                "rc": 0,
                "tail": 'loom_reduction": 1.704, "sketch_cms": 0.898, '
                '"q_slow": 7.5}, "value": 246.7}',
            }
        )
    )
    t = load_timings(str(f))
    assert t["sketch_cms"] == 0.898
    assert t["q_slow"] == 7.5
    assert "value" not in t


def test_diff_flags_only_real_regressions():
    prev = {"fast": 0.2, "slow": 5.0, "ok": 3.0, "gone": 1.0}
    curr = {"fast": 0.9, "slow": 11.0, "ok": 3.2, "new": 9.9}
    # fast: 4.5x but under the 1s noise floor (0.9 < 2*max(0.2,1.0))
    # slow: 2.2x over the floor -> flagged; ok: fine
    # gone/new: not shared, ignored
    regs, tot_p, tot_c = diff(prev, curr, 2.0, 1.0, set())
    assert [r[0] for r in regs] == ["slow"]
    assert tot_p == pytest.approx(8.2)
    assert tot_c == pytest.approx(15.1)


def test_diff_errored_query_is_a_regression_and_allowlist_skips():
    prev = {"q": 2.0, "e": 1.5}
    curr = {"q": -1.0, "e": 4.0}
    regs, _, _ = diff(prev, curr, 2.0, 1.0, set())
    assert {r[0] for r in regs} == {"q", "e"}
    regs, _, _ = diff(prev, curr, 2.0, 1.0, {"e"})
    assert {r[0] for r in regs} == {"q"}


def test_cli_exit_codes(tmp_path):
    prev, curr = tmp_path / "p.json", tmp_path / "c.json"
    _bench_line({"a": 1.0, "b": 2.0}, prev)
    _bench_line({"a": 1.1, "b": 2.1}, curr)
    r = subprocess.run(
        [sys.executable, str(REPO / "tools" / "bench_diff.py"),
         str(prev), str(curr)],
        capture_output=True, text=True,
    )
    assert r.returncode == 0, r.stdout + r.stderr
    assert "PASS" in r.stdout
    _bench_line({"a": 1.0, "b": 9.0}, curr)
    r = subprocess.run(
        [sys.executable, str(REPO / "tools" / "bench_diff.py"),
         str(prev), str(curr)],
        capture_output=True, text=True,
    )
    assert r.returncode == 1
    assert "REGRESSED b" in r.stdout


def _manifest():
    return json.loads((REPO / "bench_runs" / "MANIFEST.json").read_text())


# bench_runs/ recordings that are not sweeps of the gate sequence
# (bench_runs/README.md): scale-up triples, embedding-dim sweeps and
# solo re-timings that adjudicate a blip
_NON_SWEEP_PREFIXES = ("sfrep", "sfemb", "adjudication_")


def test_manifest_covers_all_recorded_sweeps():
    # every committed sweep must appear in the run manifest (and vice
    # versa) so the latest-pair gate below can't be dodged by file
    # naming — VERDICT r08 item 1: a lexicographic sorted() made a
    # '*_before' leg masquerade as the latest run. Any other recording
    # must carry a documented non-sweep prefix.
    man = _manifest()
    on_disk = {
        p.name
        for p in (REPO / "bench_runs").glob("*.json")
        if p.name != "MANIFEST.json" and not p.name.startswith(_NON_SWEEP_PREFIXES)
    }
    assert set(man["order"]) == on_disk, sorted(set(man["order"]) ^ on_disk)
    assert len(man["order"]) == len(set(man["order"]))
    # an allow entry adjudicates one step of the sequence, so its key
    # must name two ADJACENT runs, in order
    steps = set(zip(man["order"], man["order"][1:]))
    for pair in man.get("allow", {}):
        assert tuple(pair.split("->")) in steps, pair


def test_recorded_runs_are_regression_free():
    # the committed per-round sweeps under bench_runs/ must satisfy the
    # gate on the manifest's latest pair; adjudicated one-off blips are
    # carried as allow entries with written justification
    man = _manifest()
    order = man["order"]
    if len(order) < 2:
        pytest.skip("fewer than two recorded sf0.1 sweeps")
    prev_name, curr_name = order[-2], order[-1]
    allow_map = man.get("allow", {}).get(f"{prev_name}->{curr_name}", {})
    prev = load_timings(str(REPO / "bench_runs" / prev_name))
    curr = load_timings(str(REPO / "bench_runs" / curr_name))
    regs, _, _ = diff(prev, curr, 2.0, 1.0, set(allow_map))
    assert not regs, (
        f"recorded sweep regression {prev_name}->{curr_name}: {regs}"
    )
