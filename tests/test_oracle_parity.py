"""Every registry query must hash-match its DuckDB oracle at sf0.001 —
a fast local replica of the driver's t2 correctness gate.

Comparison is pandas-materialized and dtype-sensitive (``repr`` of the
canonical cell), replicating how the driver hashes: DuckDB HUGEINT →
pandas float64 ``2.0`` vs Spark int64 ``2`` FAILS here, as it does at
the driver (the r02 escape this pins).
"""

from __future__ import annotations

from types import SimpleNamespace

import duckdb
import numpy as np
import pandas as pd
import pytest
from py4j.protocol import Py4JNetworkError

from big_data_2021_spark_streaming_spark.plans.registry import all_queries
from tools.check_oracle import TABLES, gate, mismatch

SPECS = all_queries()


@pytest.fixture(scope="module")
def oracle_con(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


@pytest.mark.parametrize("name", sorted(SPECS))
def test_query_matches_oracle(name, spark, sf_dir, oracle_con):
    spec = SPECS[name]
    sdf = spec.build(spark, sf_dir)
    spdf = sdf.toPandas()
    if spec.oracle is None:
        assert spdf is not None  # rows-only check: query must at least run
        return
    problem = mismatch(spdf, oracle_con.execute(spec.oracle).df())
    assert problem is None, problem


# Oracle type lint: DuckDB SUM/aggregate over BIGINT widens to HUGEINT,
# which pandas materializes as float64 and the driver's hash gate then
# sees as a different value family than Spark's int64. DESCRIBE plans
# the query without executing it, so this covers all oracles cheaply.
@pytest.mark.parametrize(
    "name", sorted(n for n in SPECS if SPECS[n].oracle is not None)
)
def test_oracle_emits_no_hugeint(name, oracle_con):
    desc = oracle_con.execute(f"DESCRIBE {SPECS[name].oracle}").fetchall()
    bad = [(col, typ) for col, typ, *_ in desc if "HUGEINT" in typ.upper()]
    assert not bad, (
        f"oracle column(s) widen to HUGEINT — wrap in CAST(... AS BIGINT): {bad}"
    )


def test_mismatch_reports_the_first_differing_row():
    a = pd.DataFrame({"k": [1, 2], "v": [10, 20]})
    assert mismatch(a, a[["v", "k"]]) is None  # column order is free
    assert mismatch(a, a.head(1)) == "rowcount spark=2 duckdb=1"
    assert mismatch(a, a.assign(v=[10, 21])) == (
        "value mismatch first-diff@1: ('2', '20') vs ('2', '21')"
    )
    # int 20 and float 20.0 hash apart at the driver
    assert mismatch(a, a.assign(v=[10.0, 20.0])).startswith("value mismatch")
    cells = a.assign(v=[np.array([1]), np.array([2])])
    assert mismatch(cells, cells).startswith("driver contract")


@pytest.mark.parametrize(
    "lost",
    [
        ConnectionRefusedError(111, "Connection refused"),
        Py4JNetworkError("Answer from Java side is empty"),
    ],
)
def test_gate_stops_when_the_spark_connection_is_lost(lost, capsys):
    built = []

    def spec(name, error=None):
        def build(spark, sf_dir):
            built.append(name)
            if error:
                raise error
            return SimpleNamespace(toPandas=lambda: pd.DataFrame({"a": [1]}))

        return SimpleNamespace(build=build, oracle=None)

    specs = {n: spec(n, lost if n == "b" else None) for n in "abcd"}
    assert gate(None, None, specs, "sf") == 1
    out = capsys.readouterr().out.splitlines()
    assert built == ["a", "b"]
    assert len(out) == 2 and out[0].startswith("ok   a:")
    assert out[1].startswith("ABORT b: Spark connection lost")
    assert out[1].endswith("; 2 queries not run")
