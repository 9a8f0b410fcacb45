"""The engine's runtime confs, on fake sessions (no JVM): ``get_session``
builds with each of them and ``configure_existing`` sets each of them
on a session it did not build."""

from __future__ import annotations

from types import SimpleNamespace

import pytest

from big_data_2021_spark_streaming_spark import session

RUNTIME = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}


@pytest.fixture
def shipped(monkeypatch):
    calls = []
    monkeypatch.setattr(session, "_ship_package", calls.append)
    return calls


class _Builder:
    def __init__(self):
        self.conf = {}
        self.session = SimpleNamespace()

    def appName(self, _):
        return self

    def master(self, _):
        return self

    def config(self, k, v):
        self.conf[k] = v
        return self

    def getOrCreate(self):
        return self.session


def test_runtime_confs_are_pinned():
    assert session.RUNTIME_CONF == RUNTIME


def test_get_session_builds_with_each_runtime_conf(monkeypatch, shipped):
    builder = _Builder()
    monkeypatch.setattr(session, "SparkSession", SimpleNamespace(builder=builder))
    spark = session.get_session(
        cpus=2, extra_conf={"spark.sql.session.timeZone": "Asia/Tokyo"}
    )
    assert spark is builder.session and shipped == [spark]
    for k, v in RUNTIME.items():
        want = "Asia/Tokyo" if k == "spark.sql.session.timeZone" else v
        assert builder.conf[k] == want, k  # extra_conf still wins


def test_configure_existing_sets_each_runtime_conf(shipped):
    conf = {}
    spark = SimpleNamespace(conf=SimpleNamespace(set=conf.__setitem__))
    assert session.configure_existing(spark) is spark
    assert conf == RUNTIME and shipped == [spark]


def test_configure_existing_survives_a_static_conf_and_a_failed_ship(
    monkeypatch, capsys
):
    conf = {}

    def set_conf(k, v):
        if k == "spark.sql.adaptive.enabled":
            raise RuntimeError("static conf")
        conf[k] = v

    def fail(_):
        raise OSError("disk full")

    monkeypatch.setattr(session, "_ship_package", fail)
    session.configure_existing(SimpleNamespace(conf=SimpleNamespace(set=set_conf)))
    assert set(conf) == set(RUNTIME) - {"spark.sql.adaptive.enabled"}
    assert "could not ship package to workers: disk full" in capsys.readouterr().err
