"""Join-layout tests: the physical join shapes the plan picks.

These pin two scale properties of joins over the loaded tables: an
explicit strategy hint (shuffle_hash, merge, broadcast) must produce
its join operator, and a selective dimension side must inject a
runtime Bloom filter into the fact-side scan.
"""

from __future__ import annotations

import pyspark.sql.functions as F

from big_data_2021_spark_streaming_spark.sources.batch import load_table
from tools.plan_identity import explain

SF = "/root/testdata/sf0.001"


def test_join_strategy_hints_are_honored(spark):
    """The three shuffle-join strategies are an explicit knob, not
    folklore: a shuffle_hash hint must produce ShuffledHashJoin (the
    right call when one side is much smaller but exceeds the broadcast
    cap — no sort, build-side hash), merge must produce SortMergeJoin
    (the spill-safe default for two large sides), and broadcast must
    eliminate the fact-side Exchange entirely."""
    orders = load_table(spark, SF, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, SF, "lineitem").select("l_orderkey", "l_quantity")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        hashed = li.join(
            orders.hint("shuffle_hash"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        assert "ShuffledHashJoin" in explain(hashed)
        merged = li.join(
            orders.hint("merge"), F.col("l_orderkey") == F.col("o_orderkey")
        )
        assert "SortMergeJoin" in explain(merged)
        bcast = li.join(
            F.broadcast(orders), F.col("l_orderkey") == F.col("o_orderkey")
        )
        pb = explain(bcast)
        assert "BroadcastHashJoin" in pb
        assert "Arguments: hashpartitioning" not in pb
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")


def test_runtime_bloom_filter_prunes_fact_scan_on_selective_dim_join(spark):
    """Scale-posture pin: Spark's runtime Bloom-filter injection is ON
    in this engine's sessions, so at warehouse scale a selective dim
    side semi-filters the fact scan before the shuffle. The feature
    self-gates on a 10 GB application-side scan, which local testdata
    never reaches — the test lowers that threshold to prove the
    injection fires, then restores it."""
    from big_data_2021_spark_streaming_spark.sources.batch import load_table

    sf = "/root/testdata/sf0.001"
    spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter"
        ".applicationSideScanSizeThreshold",
        "0",
    )
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter"
                   ".creationSideThreshold", "100MB")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        assert (
            spark.conf.get(
                "spark.sql.optimizer.runtime.bloomFilter.enabled"
            )
            == "true"
        )
        orders = (
            load_table(spark, sf, "orders")
            .where("o_orderpriority = '1-URGENT'")
            .select("o_orderkey")
        )
        li = load_table(spark, sf, "lineitem")
        plan = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            ._jdf.queryExecution()
            .toString()
        )
        assert "bloom_filter_agg" in plan
        assert "might_contain" in plan
    finally:
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter"
            ".applicationSideScanSizeThreshold",
            "10737418240b",
        )
        spark.conf.set("spark.sql.optimizer.runtime.bloomFilter"
                       ".creationSideThreshold", "10485760b")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
