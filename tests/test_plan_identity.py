"""The plan-identity normalizer on canned explain output (no JVM)."""

from __future__ import annotations

from tools.plan_identity import movers, normalize, plan_hash

_RUN_A = """\
(12) Exchange
Input [2]: [doc_id#123L, source#124]
Arguments: hashpartitioning(doc_id#123L, 8), ENSURE_REQUIREMENTS, [plan_id=57]

(13) ShuffleQueryStage, Statistics(sizeInBytes=1.2 KiB, rowCount=40)
Output [2]: [doc_id#123L, source#124]

(14) Scan ExistingRDD
Arguments: [src#9L, label#10L], MapPartitionsRDD[88] at localCheckpoint
"""

_RUN_B = """\
(12) Exchange
Input [2]: [doc_id#7L, source#8]
Arguments: hashpartitioning(doc_id#7L, 8), ENSURE_REQUIREMENTS, [plan_id=3]

(13) ShuffleQueryStage, Statistics(sizeInBytes=2.0 KiB, rowCount=41)
Output [2]: [doc_id#7L, source#8]

(14) Scan ExistingRDD
Arguments: [src#901L, label#902L], MapPartitionsRDD[5] at localCheckpoint
"""


def test_normalize_strips_session_ids_and_runtime_stats():
    out = normalize(_RUN_A)
    assert "doc_id#_L" in out and "source#_" in out
    assert "[plan_id=_]" in out
    assert "MapPartitionsRDD[_]" in out
    assert "ShuffleQueryStage, Statistics(_)" in out
    assert normalize(_RUN_B) == out
    assert plan_hash(_RUN_A) == plan_hash(_RUN_B)


def test_plan_change_moves_the_hash():
    # an operator, a partition count or a column name is the plan
    for old, new in (
        ("hashpartitioning", "rangepartitioning"),
        (", 8)", ", 16)"),
        ("source#8", "origin#8"),
    ):
        assert plan_hash(_RUN_B.replace(old, new)) != plan_hash(_RUN_B)


def test_movers_lists_changed_and_one_sided_names():
    before = {"a": "1", "b": "2", "c": "3"}
    after = {"a": "1", "b": "9", "d": "4"}
    assert movers(before, after) == ["b", "c", "d"]
    assert movers(before, dict(before)) == []
