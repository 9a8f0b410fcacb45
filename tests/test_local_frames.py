"""Literal frames are JVM-local relations (``session.local_frame``).

``spark.createDataFrame(list, ddl)`` pickles its rows into a Python RDD:
the plan reads ``Scan ExistingRDD`` and every execution runs a job on
Python workers — once per micro-batch for Q2's states broadcast. Pins:

- every engine site that builds a frame from Python rows goes through
  ``local_frame``, whose frame plans as ``LocalTableScan``, carries the
  DDL's schema and holds the rows the list path would;
- the helper keeps that contract for empty input, NULLs, nested arrays
  and a session with Arrow off (``configure_existing`` may be handed
  one);
- collecting the states dimension runs no Spark job, and Q2's plan
  reads no ``ExistingRDD``;
- a JVM-free lint: no ``createDataFrame(`` call in the package outside
  ``local_frame``.
"""

from __future__ import annotations

import ast
from pathlib import Path

import pyspark.sql.functions as F
import pytest
from pyspark.sql.types import _parse_datatype_string

from big_data_2021_spark_streaming_spark import schemas, session
from big_data_2021_spark_streaming_spark.operators import audit, similarity
from big_data_2021_spark_streaming_spark.plans import rsvp_fixture
from big_data_2021_spark_streaming_spark.plans.registry import all_queries
from big_data_2021_spark_streaming_spark.streaming import pipeline
from tools.plan_identity import explain

PKG = Path(session.__file__).resolve().parent
ARROW = "spark.sql.execution.arrow.pyspark.enabled"


def _assert_like_list_path(spark, rows, ddl, df):
    plan = explain(df)
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan
    assert df.schema == _parse_datatype_string(ddl)
    listed = spark.createDataFrame(rows, ddl)
    assert df.schema == listed.schema
    assert sorted(map(repr, df.collect())) == sorted(map(repr, listed.collect()))


@pytest.fixture
def recorded(monkeypatch):
    """Every (rows, ddl, frame) the engine builds through local_frame."""
    calls = []

    def record(spark, rows, ddl):
        rows = list(rows)
        df = session.local_frame(spark, rows, ddl)
        calls.append((rows, ddl, df))
        return df

    for module in (schemas, rsvp_fixture, pipeline, audit, similarity):
        monkeypatch.setattr(module, "local_frame", record)
    return calls


def _drift_writer(spark, sf_dir, tmp_path):
    write = pipeline.drift_monitor_batch_writer(
        {0: 3, 2: 1}, 0.0, 4.0, str(tmp_path / "drift")
    )
    write(spark.range(4).select(F.col("id").cast("double").alias("value")), 0)


SITES = {
    "states_dimension": lambda spark, sf_dir, tmp: schemas.states_dimension(spark),
    "rsvp_envelope": lambda spark, sf_dir, tmp: rsvp_fixture._envelope_df(spark),
    "drift_monitor_ref": _drift_writer,
    "pruning_audit_grid": lambda spark, sf_dir, tmp: audit.partition_pruning_audit(
        spark, sf_dir
    ),
    "pq_codes_book": lambda spark, sf_dir, tmp: similarity._pq_codes_long(
        spark, sf_dir
    ),
    "pq_query_book": lambda spark, sf_dir, tmp: similarity._pq_query_table(
        spark, sf_dir
    ),
    "ivfpq_residual_book": lambda spark, sf_dir, tmp: (
        similarity.ivfpq_residual_topk.__wrapped__(spark, sf_dir)
    ),
    "lloyd_centroids": lambda spark, sf_dir, tmp: similarity._cent_frame(
        spark, {3: [0.5, -1.0], 1: [2.0, 0.25]}
    ),
}


@pytest.mark.parametrize("site", sorted(SITES))
def test_literal_frame_site_is_local(spark, sf_dir, tmp_path, recorded, site):
    SITES[site](spark, sf_dir, tmp_path)
    assert recorded, f"{site} built no frame through local_frame"
    for rows, ddl, df in recorded:
        _assert_like_list_path(spark, rows, ddl, df)


CASES = {
    "empty": ([], "bucket INT, o_ref BIGINT"),
    "null_int": ([(None, 3), (2, None)], "bucket INT, o_ref BIGINT"),
    "nested_centroids": (
        [([{"cid": 1, "c": [1.0, 2.5]}, {"cid": 2, "c": [0.125, None]}],)],
        "cents array<struct<cid:int,c:array<double>>>",
    ),
    "strings": ([("a", "b"), ("c", None)], "layout STRING, probe_dim STRING"),
}


@pytest.mark.parametrize("arrow", ["true", "false"])
@pytest.mark.parametrize("case", sorted(CASES))
def test_local_frame_matches_list_path(spark, case, arrow):
    rows, ddl = CASES[case]
    before = spark.conf.get(ARROW)
    spark.conf.set(ARROW, arrow)
    try:
        _assert_like_list_path(spark, rows, ddl, session.local_frame(spark, rows, ddl))
    finally:
        spark.conf.set(ARROW, before)


def _jobs_to_collect(spark, df, group: str) -> list[int]:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        df.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return list(sc.statusTracker().getJobIdsForGroup(group))


def test_states_dimension_collects_without_a_job(spark):
    states = schemas.states_dimension(spark)
    assert _jobs_to_collect(spark, states, "local-frame-states") == []
    # the probe sees jobs: the list path it replaced runs one per collect
    rows = [tuple(r) for r in states.collect()]
    listed = spark.createDataFrame(rows, "group_state STRING, state_short STRING")
    assert _jobs_to_collect(spark, listed, "local-frame-list")


def test_q2_plans_no_python_rdd(spark, sf_dir):
    plan = explain(all_queries()["rsvp_q2_payload"].build(spark, sf_dir))
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan


def test_create_dataframe_only_inside_local_frame():
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        tree = ast.parse(path.read_text(), str(path))
        allowed = set()
        if path.name == "session.py":
            for node in ast.walk(tree):
                if isinstance(node, ast.FunctionDef) and node.name == "local_frame":
                    allowed = {id(n) for n in ast.walk(node)}
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "createDataFrame"
                and id(node) not in allowed
            ):
                offenders.append(f"{path.relative_to(PKG)}:{node.lineno}")
    assert not offenders, (
        "build literal frames with session.local_frame, not "
        f"spark.createDataFrame: {offenders}"
    )
