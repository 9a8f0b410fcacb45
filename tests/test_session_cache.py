"""The session cache's eviction rules, on fake sessions (no JVM)."""

from __future__ import annotations

from collections import OrderedDict
from types import SimpleNamespace

import pytest

from big_data_2021_spark_streaming_spark import session


class _Frame:
    unpersisted = False

    def unpersist(self):
        self.unpersisted = True


def _app(app_id: str):
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))


@pytest.fixture
def frame(monkeypatch):
    monkeypatch.setattr(session, "_SESSION_CACHE", OrderedDict())
    builds = []

    def table(spark, sf_dir, name):
        builds.append((spark.sparkContext.applicationId, sf_dir, name))
        return _Frame()

    cached = session.session_cached(table)
    cached.builds = builds
    return cached


def test_one_frame_per_application_and_arguments(frame):
    a = _app("app-1")
    first = frame(a, "/sf", "orders")
    assert frame(a, "/sf", "orders") is first
    assert frame(a, "/sf", "lineitem") is not first
    assert frame.builds == [("app-1", "/sf", "orders"), ("app-1", "/sf", "lineitem")]


def test_other_applications_are_dropped_on_insert(frame):
    old = frame(_app("app-1"), "/sf", "orders")
    frame(_app("app-2"), "/sf", "orders")
    assert list(session._SESSION_CACHE) == [("app-2", "/sf")]
    # a stopped session's frames are dropped, not unpersisted
    assert not old.unpersisted
    assert frame(_app("app-1"), "/sf", "orders") is not old


def test_least_recently_used_directory_is_evicted(frame):
    # two directories per application: a test that compares an offset-id
    # corpus with its base holds frames of both
    assert session.SESSION_CACHE_DIRS == 2
    a = _app("app-1")
    base = frame(a, "/base", "orders")
    old = frame(a, "/old", "orders")
    assert frame(a, "/base", "orders") is base  # now the most recent
    frame(a, "/new", "orders")
    assert old.unpersisted and not base.unpersisted
    assert [d for _, d in session._SESSION_CACHE] == ["/base", "/new"]
    assert frame(a, "/base", "orders") is base


def test_evict_session_cache_drops_one_directory(frame):
    a = _app("app-1")
    gone, kept = frame(a, "/sf0", "orders"), frame(a, "/sf1", "orders")
    session.evict_session_cache(a, "/sf0")
    assert gone.unpersisted and not kept.unpersisted
    assert frame(a, "/sf0", "orders") is not gone
    assert frame(a, "/sf1", "orders") is kept
