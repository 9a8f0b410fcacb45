"""Central query registry: name → (builder, oracle SQL | None).

``__spark_entry__.py`` exposes this to the driver; tests and bench.py
iterate it. Builders are ``(spark, sf_dir) -> DataFrame``; oracle SQL
is DuckDB-runnable ANSI SQL over the same tables, or None for
genuinely non-SQL-expressible operators (the driver then records a
weaker rows-only check).
"""

from __future__ import annotations

import importlib
import json
import warnings
from collections.abc import Callable
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class QuerySpec:
    name: str
    build: Callable[[SparkSession, str], DataFrame]
    oracle: str | None


def all_queries() -> dict[str, QuerySpec]:
    # imports deferred so importing the package never needs a JVM
    from . import analytics, rsvp_fixture
    from .oracles import ORACLES

    registry: dict[str, QuerySpec] = {}
    family: dict[str, str] = {}

    def add(queries: dict, oracles: dict, fam: str) -> None:
        for name, build in queries.items():
            registry[name] = QuerySpec(name, build, oracles.get(name))
            family[name] = fam

    # Registration order = the driver's grading order, and its gate has a
    # budget (r02 stopped at 50/74, leaving the tail ungraded). Families
    # least-recently hash-verified register FIRST: the r02-re-planned
    # dedup plans and the similarity/text/multimodal/curation surface,
    # then the rsvp fixtures, and the twice-proven analytics suite last.
    # Only a genuinely missing OPTIONAL third-party package may drop a
    # query family (with a warning); a typo'd import inside an operator
    # module must fail loudly, not silently shrink the correctness gate.
    _OPTIONAL = {"pandas", "pyarrow", "duckdb", "numpy"}
    for modname in (
        "sketches",
        "chunking",
        "audit",
        "dedup",
        "similarity",
        "text",
        "multimodal",
        "curation",
    ):
        try:
            mod = importlib.import_module(f"..operators.{modname}", __package__)
        except ModuleNotFoundError as e:
            missing = (e.name or "").split(".")[0]
            if missing in _OPTIONAL:
                warnings.warn(
                    f"operators.{modname} skipped: optional dependency "
                    f"{missing!r} not installed",
                    stacklevel=2,
                )
                continue
            raise
        add(mod.QUERIES, mod.ORACLES, modname)
    add(rsvp_fixture.QUERIES, rsvp_fixture.ORACLES, "rsvp")
    add(analytics.QUERIES, ORACLES, "analytics")
    # Final pass: names not verified green on their CURRENT plan (the
    # pending fingerprint file, below) move to the front, so an arbitrary
    # budget prefix grades the maximum number of them. Within that block
    # cheap families run before the ones that pay a one-time cache
    # materialization (LSH pairs / cluster labels / gram sets), so a
    # WALL-CLOCK budget also grades the most entries.
    order = list(registry)
    front = sorted(
        (n for n in order if n not in _DRIVER_VERIFIED),
        key=lambda n: (_FAMILY_COST[family[n]], order.index(n)),
    )
    back = [n for n in order if n in _DRIVER_VERIFIED]
    return {n: registry[n] for n in front + back}


# relative per-query gate cost at sf0.01 (Spark + DuckDB oracle),
# measured via bench.py + the oracle replica: rsvp/analytics ≲1 s,
# text/multimodal low, similarity moderate (kmeans ~5 s), curation and
# dedup pay the shared LSH/cluster/gram caches on first touch
_FAMILY_COST = {
    "rsvp": 0,
    "sketches": 0,
    "audit": 0,
    "analytics": 1,
    "chunking": 1,
    "text": 2,
    "multimodal": 3,
    "similarity": 4,
    "curation": 5,
    "dedup": 6,
}


# The graded name sets are the keys of the fingerprint files that
# tools/plan_fingerprint.py keeps beside this module:
# - _DRIVER_VERIFIED (verified_fingerprints.json): names the driver
#   hash-verified green on their CURRENT plan;
# - _REPLANNED_AFTER_GREEN (pending_fingerprints.json): every other
#   name — re-planned after its last green, or never graded.
# A fold moves entries from the pending file to the verified file and
# reruns python tools/plan_fingerprint.py; a verified name that is
# re-planned moves back to the pending file, so it regrades early
# (enforced by tests/test_plans.py).
def _fingerprint_names(file: str) -> frozenset[str]:
    return frozenset(json.loads(Path(__file__).with_name(file).read_text()))


_DRIVER_VERIFIED = _fingerprint_names("verified_fingerprints.json")
_REPLANNED_AFTER_GREEN = _fingerprint_names("pending_fingerprints.json")
