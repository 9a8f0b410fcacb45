"""Normalized physical-plan hashes for every registry query.

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
``{name: sha256}`` of ``explain("formatted")`` after ``normalize``. The second lists the
names whose hash differs (or that exist on one side only) and exits 1
if there are any.

Normalization strips what differs between two sessions running the
same code: expression ids (``x#123``), exchange plan ids, RDD ids and
the runtime statistics of query stages and cached plans.
"""

from __future__ import annotations

import hashlib
import json
import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

_RULES = (
    (re.compile(r"#\d+"), "#_"),
    (re.compile(r"plan_id=\d+"), "plan_id=_"),
    (re.compile(r"RDD\[\d+\]"), "RDD[_]"),
    (re.compile(r"Statistics\([^)]*\)"), "Statistics(_)"),
)


def normalize(plan: str) -> str:
    for pattern, repl in _RULES:
        plan = pattern.sub(repl, plan)
    return plan


def plan_hash(plan: str) -> str:
    return hashlib.sha256(normalize(plan).encode()).hexdigest()


def record(sf_dir: str) -> dict[str, str]:
    from big_data_2021_spark_streaming_spark.plans.registry import all_queries
    from big_data_2021_spark_streaming_spark.session import get_session

    spark = get_session("plan-identity", cpus=4)
    explain = spark._jvm.org.apache.spark.sql.api.python.PythonSQLUtils
    specs = all_queries()
    out = {}
    try:
        for name in sorted(specs):
            df = specs[name].build(spark, sf_dir)
            out[name] = plan_hash(
                explain.explainString(df._jdf.queryExecution(), "formatted")
            )
    finally:
        spark.stop()
    return out


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
    hashes = record(sf_dir)
    Path(out).write_text(json.dumps(hashes, indent=1, sort_keys=True) + "\n")
    print(f"wrote {out} ({len(hashes)} queries)")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
