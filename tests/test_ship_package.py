"""Shipping the package to Python workers, on fake sessions (no JVM):
one zip per package version in the temp dir, not one per application."""

from __future__ import annotations

import tempfile
import zipfile
from pathlib import Path
from types import SimpleNamespace

from big_data_2021_spark_streaming_spark import session


def _app(app_id: str):
    conf: dict[str, str] = {}
    shipped: list[str] = []
    return SimpleNamespace(
        conf=SimpleNamespace(get=conf.get, set=conf.__setitem__),
        sparkContext=SimpleNamespace(
            applicationId=app_id, addPyFile=shipped.append
        ),
        shipped=shipped,
    )


def test_applications_with_the_same_code_share_one_zip(tmp_path, monkeypatch):
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    a, b = _app("app-1"), _app("app-2")
    session._ship_package(a)
    session._ship_package(a)  # once per session
    session._ship_package(b)
    assert len(a.shipped) == 1 and a.shipped == b.shipped
    assert [p.name for p in tmp_path.iterdir()] == [Path(a.shipped[0]).name]
    with zipfile.ZipFile(a.shipped[0]) as z:
        assert "big_data_2021_spark_streaming_spark/session.py" in z.namelist()


def test_zip_is_named_by_package_contents(tmp_path):
    pkg, out = tmp_path / "pkg", tmp_path / "out"
    (pkg / "__pycache__").mkdir(parents=True)
    out.mkdir()
    (pkg / "mod.py").write_text("X = 1\n")
    first = session._package_zip(pkg, out)
    (pkg / "__pycache__" / "mod.cpython-311.pyc").write_bytes(b"\0")
    assert session._package_zip(pkg, out) == first
    (pkg / "mod.py").write_text("X = 2\n")
    edited = session._package_zip(pkg, out)
    assert edited != first
    assert sorted(out.iterdir()) == sorted([first, edited])
    with zipfile.ZipFile(edited) as z:
        assert z.namelist() == ["pkg/mod.py"]
        assert z.read("pkg/mod.py") == b"X = 2\n"
