"""The worker-package shipping of ``session.ensure_workers_can_import``,
driven with a fake SparkContext: no Spark starts."""

from __future__ import annotations

import os
import tempfile
import zipfile
from pathlib import Path
from types import SimpleNamespace

from entitymatch_spark.session import ensure_workers_can_import


def test_package_zip_built_without_mktemp(tmp_path, monkeypatch):
    """The zip is built under a private directory, never at a
    ``tempfile.mktemp`` name another process could claim first, and
    lands content-addressed with nothing else left behind."""
    def no_mktemp(*args, **kwargs):
        raise AssertionError("tempfile.mktemp is race-prone")

    monkeypatch.setattr(tempfile, "mktemp", no_mktemp)
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    added = []
    sc = SimpleNamespace(addPyFile=added.append)
    ensure_workers_can_import(SimpleNamespace(sparkContext=sc))
    ensure_workers_can_import(SimpleNamespace(sparkContext=sc))  # once per context

    base = tmp_path / f"em_pyfiles_{os.getuid()}"
    assert len(added) == 1
    shipped = Path(added[0])
    assert shipped.parent == base
    assert shipped.name.startswith("entitymatch_spark-") and shipped.suffix == ".zip"
    assert list(base.iterdir()) == [shipped]
    with zipfile.ZipFile(shipped) as z:
        assert "entitymatch_spark/session.py" in z.namelist()
