"""Normalized physical-plan hashes and plan shapes for every registry query.

A deletion or merge in the engine is accepted as neutral when every
registry query keeps an identical normalized plan hash (and an
unchanged oracle result, see ``tools/check_oracle.py``). This tool
records those hashes and compares two recordings:

    python tools/plan_identity.py SF_DIR OUT.json
    python tools/plan_identity.py --diff BEFORE.json AFTER.json

The first form builds every query on the corpus ``SF_DIR`` (the
recorded proofs use the sf0.001 test corpus) in ONE fresh session, in
sorted name order (builders share session-cached frames and fire eager
jobs, so a fixed order makes the recording repeatable), and writes
``{name: sha256}`` of ``explain("formatted")`` after ``normalize``.
From the same plan texts it rewrites ``PLANS.md``, the per-query
plan-shape inventory (see ``shape``). The second form lists the names
whose hash differs (or that exist on one side only) and exits 1 if
there are any.

Normalization strips what differs between two sessions running the
same code: expression ids (``x#123``), exchange plan ids, RDD ids and
the runtime statistics of query stages and cached plans. Two more
pieces of plan text come from counters that live as long as the JVM,
so they depend on what the session built before, not on the plan:

- PySpark names a Python lambda's variables ``x_N``, ``y_N``, ``z_N``
  from one counter, so one lambda built more or fewer renames them in
  every later plan. ``normalize`` renumbers each counter-named lambda
  variable by its first appearance within the plan (``lambda x_70``,
  ``lambda y_71`` become ``lambda x_0``, ``lambda y_1``). SQL lambdas
  with fixed names (``lambda acc``) and columns such as ``x_12#5``
  stay as they are.
- An RDD label ends in the call site that created it. The JVM's first
  reflective calls of a method run through ``NativeMethodAccessorImpl``
  and later ones through a generated accessor with no source, so the
  same checkpoint reads ``MapPartitionsRDD[88] at localCheckpoint at
  NativeMethodAccessorImpl.java:0`` or ``... at <unknown>:0`` depending
  on how many ran before it. The site is dropped and the method kept
  (``MapPartitionsRDD[_] at localCheckpoint``).

``explain``, ``walk`` and ``shape`` are the one way the tests read a
plan, walk the registry for plans and classify a plan's operators.
"""

from __future__ import annotations

import hashlib
import json
import re
import sys
from pathlib import Path

_RULES = (
    (re.compile(r"#\d+"), "#_"),
    (re.compile(r"plan_id=\d+"), "plan_id=_"),
    (re.compile(r"RDD\[\d+\]"), "RDD[_]"),
    (re.compile(r"(RDD\[_\] at \w+) at [^\s,]+:\d+"), r"\1"),
    (re.compile(r"Statistics\([^)]*\)"), "Statistics(_)"),
)

_LAMBDA_VAR = re.compile(r"\blambda ([A-Za-z]\w*?)_(\d+)\b")

_UNPART_WINDOW = re.compile(r"windowspecdefinition\(([^)]*?)specifiedwindowframe")

PLANS_MD = Path(__file__).resolve().parent.parent / "PLANS.md"

_PLANS_MD_HEAD = """\
# PLANS.md — physical-plan shape per registry query

Generated by `python tools/plan_identity.py SF_DIR OUT.json` from the
plans it hashes, here on the `{corpus}` corpus (plan-only; shapes are
data-size-independent modulo AQE runtime re-planning, which only
upgrades joins to broadcast).
Columns: parquet scans, shuffle exchanges, join strategies
(broadcast-hash / sort-merge / shuffled-hash / broadcast-
nested-loop), distributed top-k, and whether an
unpartitioned window appears (every `yes` is in the audited
bounded-frame allowlist, and every BNLJ row in the broadcast-sized
cross-join allowlist, pinned by `tests/test_plans.py`).

Queries composing the session-memoized top-k/pair frames
(the recall sweep, NDCG eval, the dedup consumers) are planned
after an earlier query of the sorted walk persisted those frames.
A cached read shows as an `InMemoryTableScan` over the cached
plan, and a `localCheckpoint`ed frame as a `Scan ExistingRDD`
leaf (a `LogicalRDD`) with nothing below it. The counts take each
numbered plan node once, so a cached pipeline read many times
counts once and a checkpointed pipeline not at all.

(No codegen-span column: under AQE, codegen ids are only
assigned in the FINAL plan after execution, so they are not
visible in a plan-time report; `tests/test_plans.py` pins
codegen coverage on the hot reference lineages instead.)

| query | scans | exchanges | BHJ | SMJ | SHJ | BNLJ | top-k | global window |
|---|---|---|---|---|---|---|---|---|
"""


def normalize(plan: str) -> str:
    for pattern, repl in _RULES:
        plan = pattern.sub(repl, plan)
    seen: dict[str, int] = {}

    def renumber(m: re.Match) -> str:
        n = seen.setdefault(m.group(0), len(seen))
        return f"lambda {m.group(1)}_{n}"

    return _LAMBDA_VAR.sub(renumber, plan)


def plan_hash(plan: str) -> str:
    return hashlib.sha256(normalize(plan).encode()).hexdigest()


def explain(df, mode: str = "formatted") -> str:
    """The plan text ``df.explain(mode)`` prints, as a string."""
    jvm = df.sparkSession._jvm
    return jvm.org.apache.spark.sql.api.python.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), mode
    )


def walk(spark, sf_dir: str):
    """Build each registry query on ``sf_dir`` in sorted name order and
    yield ``(name, formatted plan text)``; the caller owns the session."""
    from big_data_2021_spark_streaming_spark.plans.registry import all_queries

    specs = all_queries()
    for name in sorted(specs):
        yield name, explain(specs[name].build(spark, sf_dir))


def _nodes(plan: str, op: str) -> int:
    # formatted mode prints every node twice (tree + detail section);
    # count the detail headers only
    return len(re.findall(rf"^\(\d+\) {op}", plan, re.M))


def _has_unpartitioned_window(plan: str) -> bool:
    # a windowspecdefinition whose args before the frame are all
    # ordering columns (or absent) has an empty partition spec — at
    # scale that window moves its whole input to one task
    for m in _UNPART_WINDOW.finditer(plan):
        cols = [c.strip() for c in m.group(1).split(",") if c.strip()]
        if not any("ASC" not in c and "DESC" not in c for c in cols):
            return True
    return False


def shape(plan: str) -> dict:
    """The PLANS.md columns of a formatted plan, plus ``cartesian``."""
    return {
        "scans": _nodes(plan, "Scan parquet"),
        "exchanges": plan.count("Arguments: hashpartitioning"),
        "bhj": _nodes(plan, "BroadcastHashJoin"),
        "smj": _nodes(plan, "SortMergeJoin"),
        "shj": _nodes(plan, "ShuffledHashJoin"),
        "bnlj": _nodes(plan, "BroadcastNestedLoopJoin"),
        "topk": "TakeOrderedAndProject" in plan,
        "gwin": _has_unpartitioned_window(plan),
        "cartesian": "CartesianProduct" in plan,
    }


def plans_md(plans: dict[str, str], sf_dir: str) -> str:
    rows = []
    for name, plan in plans.items():
        s = shape(plan)
        rows.append(
            f"| {name} | {s['scans']} | {s['exchanges']} |"
            f" {s['bhj']} | {s['smj']} | {s['shj']} | {s['bnlj']} |"
            f" {'yes' if s['topk'] else ''} |"
            f" {'yes' if s['gwin'] else ''} |\n"
        )
    return _PLANS_MD_HEAD.format(corpus=Path(sf_dir).name) + "".join(rows)


def record(sf_dir: str) -> dict[str, str]:
    """``{name: formatted plan text}`` from one walk in a fresh session."""
    from big_data_2021_spark_streaming_spark.session import get_session

    spark = get_session("plan-identity", cpus=4)
    try:
        return dict(walk(spark, sf_dir))
    finally:
        spark.stop()


def movers(before: dict[str, str], after: dict[str, str]) -> list[str]:
    return sorted(
        n for n in set(before) | set(after) if before.get(n) != after.get(n)
    )


def main(argv: list[str]) -> int:
    if argv[:1] == ["--diff"] and len(argv) == 3:
        before, after = (json.loads(Path(p).read_text()) for p in argv[1:])
        moved = movers(before, after)
        print(
            f"{len(set(before) | set(after)) - len(moved)}/"
            f"{len(set(before) | set(after))} identical"
        )
        for name in moved:
            print(f"moved {name}: {before.get(name)} -> {after.get(name)}")
        return 1 if moved else 0
    if len(argv) != 2 or argv[0].startswith("-"):
        print(__doc__, file=sys.stderr)
        return 2
    sf_dir, out = argv
    plans = record(sf_dir)
    hashes = {name: plan_hash(plan) for name, plan in plans.items()}
    Path(out).write_text(json.dumps(hashes, indent=1, sort_keys=True) + "\n")
    PLANS_MD.write_text(plans_md(plans, sf_dir))
    print(f"wrote {out} and {PLANS_MD} ({len(hashes)} queries)")
    return 0


if __name__ == "__main__":
    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
    sys.exit(main(sys.argv[1:]))
