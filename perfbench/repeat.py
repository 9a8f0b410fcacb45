"""Repeat the benchmark over several seeds and summarize it.

    python3 perfbench/repeat.py --workload batch --seeds 1-10 \\
        --seconds 10 --traced-seed 1 --out perfbench/baseline/batch.json

Each seed is one untraced run (a subprocess of perfbench/run.py). For
every end-to-end metric the summary holds the values, their median,
first and third quartile (``statistics.quantiles(values, n=4)``) and
the spread (Q3 - Q1) / median. ``--traced-seed`` adds
``TRACED_PAIRS`` pairs of runs on that seed, one untraced and one
traced, alternating. The tracing overhead is the median over the pairs
of the traced ``trace.wall_s`` minus the untraced ``wall_s``; it is
reported as unresolved when it is no larger than the untraced
``wall_s`` interquartile range over the seeds.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
TRACED_PAIRS = 3


def _seeds(text: str) -> list[int]:
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def run_once(workload: str, seed: int, seconds: float, trace: int) -> dict:
    t0 = time.perf_counter()
    proc = subprocess.run(
        [sys.executable, str(BENCH / "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=BENCH.parent, capture_output=True, text=True, timeout=900,
    )
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
    result = json.loads(lines[-1])
    result["seed"] = seed
    result["run_s"] = round(time.perf_counter() - t0, 2)
    result["info"] = [ln for ln in lines[:-1] if " = " in ln]
    return result


def summarize(runs: list[dict]) -> dict:
    out = {}
    for name in runs[0]["metrics"]:
        values = [r["metrics"][name]["value"] for r in runs]
        q1, med, q3 = statistics.quantiles(values, n=4)
        out[name] = {
            "unit": runs[0]["metrics"][name]["unit"],
            "median": statistics.median(values),
            "q1": q1,
            "q3": q3,
            "spread": (q3 - q1) / statistics.median(values),
            "values": values,
        }
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 1-10 or 1,3,5")
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--traced-seed", type=int)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    runs = []
    for seed in _seeds(args.seeds):
        runs.append(run_once(args.workload, seed, args.seconds, 0))
        print(json.dumps({k: runs[-1][k] for k in ("seed", "run_s", "correct")}),
              flush=True)
    summary = {
        "workload": args.workload,
        "seconds": args.seconds,
        "runs": len(runs),
        "all_correct": all(r["correct"] for r in runs),
        "run_s": [r["run_s"] for r in runs],
        "end_to_end": summarize(runs),
        "info": {r["seed"]: r["info"] for r in runs},
    }
    if args.traced_seed is not None:
        plain, traced = [], []
        for _ in range(TRACED_PAIRS):
            plain.append(run_once(args.workload, args.traced_seed, args.seconds, 0))
            traced.append(run_once(args.workload, args.traced_seed, args.seconds, 1))
        diffs = [
            t["metrics"]["trace.wall_s"]["value"] - p["metrics"]["wall_s"]["value"]
            for p, t in zip(plain, traced)
        ]
        overhead = statistics.median(diffs)
        wall = summary["end_to_end"]["wall_s"]
        noise = wall["q3"] - wall["q1"]
        summary["traced"] = {
            "seed": args.traced_seed,
            "pairs": len(diffs),
            "run_s": [r["run_s"] for r in traced],
            "correct": all(r["correct"] for r in plain + traced),
            "overhead_s_by_pair": diffs,
            "tracing_overhead_s": overhead,
            "tracing_overhead_share": overhead / wall["median"],
            "untraced_iqr_s": noise,
            "resolved": abs(overhead) > noise,
            "per_layer": {k: v["value"] for k, v in traced[-1]["metrics"].items()},
        }
    Path(args.out).parent.mkdir(parents=True, exist_ok=True)
    Path(args.out).write_text(json.dumps(summary, indent=1) + "\n")
    for name, m in summary["end_to_end"].items():
        print(f"{name}: median {m['median']:.4g} {m['unit']}, "
              f"spread {m['spread']:.3f}")
    if "traced" in summary:
        t = summary["traced"]
        print(f"tracing overhead: {t['tracing_overhead_s']:+.3f} s "
              f"({t['tracing_overhead_share']:+.1%}) over {t['pairs']} pairs, "
              f"untraced IQR {t['untraced_iqr_s']:.3f} s, "
              f"{'resolved' if t['resolved'] else 'unresolved'}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
