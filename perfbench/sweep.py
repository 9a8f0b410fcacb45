"""One-off sweep of every batch query, to choose the ``batch`` subsets.

    python3 perfbench/sweep.py --seed 1 --out perfbench/baseline/sweep.json

Generates the ``batch`` workload's tables (``batch.SF``), opens one
session at ``local[4]`` and runs every registry query of the relational
family (``plans.analytics``, ``plans.rsvp_fixture``) and of the corpus
family (``operators.dedup``, ``operators.similarity``) once, in
registry order: ``build``, then execute to the noop sink, with the same
job-group counters as a traced ``batch`` run. It writes each query's
jobs, stages, tasks and seconds, and a stratified pick of the
relational family (``stratify``) with its share of the population.
"""

from __future__ import annotations

import argparse
import json
import statistics
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from perfbench import batch, gen, harness  # noqa: E402
from perfbench.harness import Recorder  # noqa: E402

KEYS = ("build_jobs", "build_stages", "jobs", "stages", "tasks", "build_s", "exec_s")


def family(spec) -> str | None:
    mod = spec.build.__module__.rsplit(".", 2)
    if mod[-2] == "plans" and mod[-1] in ("analytics", "rsvp_fixture"):
        return "relational"
    if mod[-2] == "operators" and mod[-1] in ("dedup", "similarity"):
        return "corpus"
    return None


def stratify(rows: dict[str, dict], k: int) -> list[str]:
    """``k`` queries, one per stratum: the population is sorted by
    (stages, jobs) and cut into ``k`` runs of equal size; each stratum
    gives the query nearest its own mean (stages, jobs), ties to the
    one nearest its mean tasks, then by name. Only counts decide, so
    the pick does not change with the sweep's timings."""
    order = sorted(rows, key=lambda n: (rows[n]["stages"], rows[n]["jobs"], n))
    picks = []
    for i in range(k):
        stratum = order[len(order) * i // k: len(order) * (i + 1) // k]
        ms, mj, mt = (
            statistics.mean(rows[n][key] for n in stratum)
            for key in ("stages", "jobs", "tasks")
        )
        picks.append(min(
            stratum,
            key=lambda n: (abs(rows[n]["stages"] - ms) + abs(rows[n]["jobs"] - mj),
                           abs(rows[n]["tasks"] - mt), n),
        ))
    return picks


def describe(rows: dict[str, dict], names: list[str]) -> dict:
    """Per-query means of the counters over ``names`` and their share of
    the whole population's totals."""
    out = {"queries": len(names)}
    for key in ("jobs", "stages", "tasks", "build_jobs"):
        total = sum(r[key] for r in rows.values())
        part = sum(rows[n][key] for n in names)
        out[f"{key}_per_query"] = round(part / len(names), 3)
        out[f"{key}_share"] = round(part / total, 4) if total else 0.0
    out["seconds_per_query"] = round(
        sum(rows[n]["build_s"] + rows[n]["exec_s"] for n in names) / len(names), 3)
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    work = harness.prepare("sweep", args.seed)
    from big_data_2021_spark_streaming_spark.plans.registry import all_queries

    data = str(work / "data")
    gen.write_tables(args.seed, batch.SF, data)
    specs = all_queries()
    fams = {n: family(s) for n, s in specs.items() if family(s)}
    spark, _ = harness.open_session("perfbench-sweep", work, Recorder(False),
                                    warm=f"{data}/region.parquet")
    rows: dict[str, dict[str, dict]] = {"relational": {}, "corpus": {}}
    try:
        for name, fam in fams.items():
            rec = Recorder(True)
            t0 = time.perf_counter()
            batch._run_query(spark, specs[name], data, rec, fam)
            rows[fam][name] = {
                k: round(rec.sums[f"{fam}.{k}"], 4) for k in KEYS
            }
            print(f"{fam} {name}: {rows[fam][name]} "
                  f"({time.perf_counter() - t0:.2f} s)", flush=True)
    finally:
        spark.stop()
        harness.stop_jvm()
    rel, corpus = rows["relational"], rows["corpus"]
    picks = stratify(rel, len(batch.RELATIONAL))
    summary = {
        "seed": args.seed,
        "sf": batch.SF,
        "relational": {
            "population": describe(rel, list(rel)),
            "stratified_pick": picks,
            "pick": describe(rel, picks),
        },
        "corpus": {
            "population": describe(corpus, list(corpus)),
            "in_use": describe(corpus, batch.CORPUS),
        },
        "queries": rows,
    }
    Path(args.out).parent.mkdir(parents=True, exist_ok=True)
    Path(args.out).write_text(json.dumps(summary, indent=1) + "\n")
    for fam in ("relational", "corpus"):
        for key, val in summary[fam].items():
            print(fam, key, val)
    harness.cleanup(work)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
