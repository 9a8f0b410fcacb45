"""Batch parquet catalog over the driver's TPC-H-ish test tables.

The reference has no batch/file sources at all (its only inputs are a
Kafka topic, ``srapk_structure_streaming.py:12-15``, and an in-memory
states list, ``:78-137``); our batch surface exists so every operator
class is checkable against a SQL oracle and scalable to partitioned
parquet lakes.

Scale posture: loaders return *lazy* DataFrames straight off the
vectorized parquet reader — no caching, no collect — so Catalyst can
push filters/column pruning into the scan. The only eager work is a
footer read for schema.

Timestamp handling: the driver's parquet carries TIMESTAMP(NANOS),
which Spark does not read natively. With
``spark.sql.legacy.parquet.nanosAsLong=true`` the column surfaces as
int64 nanoseconds; we floor-divide to microseconds and rebuild a
TimestampType — bit-identical to DuckDB's ns→µs truncation, so oracle
comparisons are exact.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..session import session_cached

# table -> columns stored as parquet TIMESTAMP(NANOS)
TABLES: dict[str, tuple[str, ...]] = {
    "region": (),
    "nation": (),
    "customer": (),
    "supplier": (),
    "part": (),
    "orders": ("o_orderdate",),
    "lineitem": ("l_shipdate",),
    "events": ("ts",),
    "documents": (),
    "embeddings": (),
}


def _nanos_to_ts(col: str) -> F.Column:
    # integer `div`, NOT `/`: float division of ~1e18 ns loses µs-level
    # precision (53-bit mantissa) and can round up, diverging from
    # DuckDB's truncating read by 1 µs on some rows
    return F.timestamp_micros(F.expr(f"`{col}` div 1000"))


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one test table with normalized timestamp columns."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {sorted(TABLES)}")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    for ts_col in TABLES[name]:
        if ts_col in df.columns and dict(df.dtypes)[ts_col] == "bigint":
            df = df.withColumn(ts_col, _nanos_to_ts(ts_col))
    return df


# A DataFrame is an immutable LOGICAL PLAN, not data: caching it per
# session skips the parquet footer/schema resolution spark.read pays per
# call (~500 load_table calls per bench run, each a driver-side
# file-listing + footer read) while leaving every consumer's plan
# identical (normalized-plan-hash equality over all registry queries,
# plans/r09/load_table_memo_plan_identity.json). No RESULT is cached:
# scans still read parquet at every execution.
load_table = session_cached(load_table)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view for spark.sql() access."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
