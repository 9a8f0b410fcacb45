"""The plan-identity normalizer and plan-shape reader on canned explain
output (no JVM)."""

from __future__ import annotations

import importlib
import sys

import tools.plan_identity
from tools.plan_identity import movers, normalize, plan_hash, shape

_RUN_A = """\
(12) Exchange
Input [2]: [doc_id#123L, source#124]
Arguments: hashpartitioning(doc_id#123L, 8), ENSURE_REQUIREMENTS, [plan_id=57]

(13) ShuffleQueryStage, Statistics(sizeInBytes=1.2 KiB, rowCount=40)
Output [2]: [doc_id#123L, source#124]

(14) Scan ExistingRDD
Arguments: [src#9L, label#10L], MapPartitionsRDD[88] at localCheckpoint at <unknown>:0, ExistingRDD, UnknownPartitioning(0)

(15) Project
Output [2]: [x_12#5, aggregate(zip_with(va#3, vb#4, lambdafunction((lambda x_70#19690 * lambda y_71#19691), lambda x_70#19690, lambda y_71#19691, false)), 0.0, lambdafunction((lambda x_72#19698 + lambda y_73#19699), lambda x_72#19698, lambda y_73#19699, false), lambdafunction(lambda id#19700, lambda id#19700, false)) AS dot#6]
"""

_RUN_B = """\
(12) Exchange
Input [2]: [doc_id#7L, source#8]
Arguments: hashpartitioning(doc_id#7L, 8), ENSURE_REQUIREMENTS, [plan_id=3]

(13) ShuffleQueryStage, Statistics(sizeInBytes=2.0 KiB, rowCount=41)
Output [2]: [doc_id#7L, source#8]

(14) Scan ExistingRDD
Arguments: [src#901L, label#902L], MapPartitionsRDD[5] at localCheckpoint at NativeMethodAccessorImpl.java:0, ExistingRDD, UnknownPartitioning(0)

(15) Project
Output [2]: [x_12#9, aggregate(zip_with(va#7, vb#8, lambdafunction((lambda x_2#40 * lambda y_3#41), lambda x_2#40, lambda y_3#41, false)), 0.0, lambdafunction((lambda x_4#48 + lambda y_5#49), lambda x_4#48, lambda y_5#49, false), lambdafunction(lambda id#50, lambda id#50, false)) AS dot#10]
"""


def test_normalize_strips_session_ids_and_runtime_stats():
    out = normalize(_RUN_A)
    assert "doc_id#_L" in out and "source#_" in out
    assert "[plan_id=_]" in out
    assert "MapPartitionsRDD[_] at localCheckpoint, ExistingRDD" in out
    assert "ShuffleQueryStage, Statistics(_)" in out
    # counter-named lambda variables renumbered by first appearance;
    # a SQL lambda's fixed name and a column named like one stay
    assert "(lambda x_0#_ * lambda y_1#_), lambda x_0#_, lambda y_1#_" in out
    assert "(lambda x_2#_ + lambda y_3#_), lambda x_2#_, lambda y_3#_" in out
    assert "lambdafunction(lambda id#_, lambda id#_, false)" in out
    assert "[x_12#_, " in out
    assert normalize("lambda x_9#1 + lambda x_9#1 + lambda x_8#2") == (
        "lambda x_0#_ + lambda x_0#_ + lambda x_1#_"
    )
    assert normalize(_RUN_B) == out
    assert plan_hash(_RUN_A) == plan_hash(_RUN_B)


def test_plan_change_moves_the_hash():
    # an operator, a partition count, a column name, a lambda's operand
    # order, parameter order or body, or the method that made an RDD
    # is the plan
    for old, new in (
        ("hashpartitioning", "rangepartitioning"),
        (", 8)", ", 16)"),
        ("source#8", "origin#8"),
        ("(lambda x_2#40 * lambda y_3#41)", "(lambda y_3#41 * lambda x_2#40)"),
        (
            "lambda x_2#40, lambda y_3#41, false",
            "lambda y_3#41, lambda x_2#40, false",
        ),
        ("(lambda x_4#48 + lambda y_5#49)", "(lambda x_4#48 - lambda y_5#49)"),
        ("at localCheckpoint", "at checkpoint"),
    ):
        assert old in _RUN_B
        assert plan_hash(_RUN_B.replace(old, new)) != plan_hash(_RUN_B)


def test_movers_lists_changed_and_one_sided_names():
    before = {"a": "1", "b": "2", "c": "3"}
    after = {"a": "1", "b": "9", "d": "4"}
    assert movers(before, after) == ["b", "c", "d"]
    assert movers(before, dict(before)) == []


def test_import_leaves_sys_path_alone():
    # a script that imports normalize/plan_hash before the package must
    # still build the checkout it means to, not the tool's own
    before = list(sys.path)
    importlib.reload(tools.plan_identity)
    assert sys.path == before


# formatted mode prints each node twice: once in the tree, once as the
# "(N) Op" header of its detail section
_SHAPED = """\
== Physical Plan ==
AdaptiveSparkPlan (9)
+- TakeOrderedAndProject (8)
   +- BroadcastNestedLoopJoin Inner BuildRight (7)
      :- SortMergeJoin Inner (5)
      :  :- BroadcastHashJoin Inner BuildRight (3)
      :  :  :- Scan parquet  (1)
      :  :  +- ShuffledHashJoin Inner BuildLeft (2)
      :  +- Window (4)
      +- Window (6)


(1) Scan parquet 
Location: InMemoryFileIndex [file:/data/events.parquet]

(2) ShuffledHashJoin
Left keys [1]: [user_id#1L]

(3) BroadcastHashJoin
Left keys [1]: [user_id#1L]

(4) Window
Arguments: [row_number() windowspecdefinition(user_id#1L, ts#2 ASC NULLS FIRST, specifiedwindowframe(RowFrame, unboundedpreceding$(), currentrow$())) AS rn#3], [user_id#1L], [ts#2 ASC NULLS FIRST]

(5) SortMergeJoin
Left keys [1]: [user_id#1L]

(6) Window
Arguments: [row_number() windowspecdefinition(_band#4 ASC NULLS FIRST, doc_id#5L DESC NULLS LAST, specifiedwindowframe(RowFrame, unboundedpreceding$(), currentrow$())) AS rk#6]

(7) BroadcastNestedLoopJoin
Join type: Inner

(8) TakeOrderedAndProject
Arguments: 10, [rn#3 ASC NULLS FIRST]
"""


def test_shape_counts_detail_headers_once():
    assert shape(_SHAPED) == {
        "scans": 1,
        "exchanges": 0,
        "bhj": 1,
        "smj": 1,
        "shj": 1,
        "bnlj": 1,
        "topk": True,
        "gwin": True,
        "cartesian": False,
    }


def test_shape_global_window_needs_an_empty_partition_spec():
    # only the (_band, doc_id) ordering-only window is global; the
    # user_id-partitioned one is not
    band = "(_band#4 ASC NULLS FIRST, doc_id#5L DESC NULLS LAST, "
    assert not shape(_SHAPED.replace(band, "(source#9, " + band[1:]))["gwin"]
    assert shape(_SHAPED.replace(band, "("))["gwin"]  # no spec at all


def test_shape_flags_cartesian_and_counts_exchanges():
    p = _SHAPED.replace("BroadcastNestedLoopJoin", "CartesianProduct") + (
        "\n(10) Exchange\n"
        "Arguments: hashpartitioning(user_id#1L, 8), ENSURE_REQUIREMENTS, [plan_id=1]\n"
    )
    s = shape(p)
    assert s["cartesian"] and s["bnlj"] == 0
    assert s["exchanges"] == 1
