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


def test_stale_digest_zips_pruned(tmp_path, monkeypatch):
    """Zips of other checkout versions older than 7 days are removed
    when a session ships its own; a recent one and the current zip
    stay."""
    import time

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    base = tmp_path / f"em_pyfiles_{os.getuid()}"
    base.mkdir(mode=0o700)
    stale = base / "entitymatch_spark-000000000old.zip"
    fresh = base / "entitymatch_spark-0000000fresh.zip"
    for p in (stale, fresh):
        p.write_bytes(b"zip")
    eight_days = time.time() - 8 * 24 * 3600
    os.utime(stale, (eight_days, eight_days))

    added = []
    sc = SimpleNamespace(addPyFile=added.append)
    ensure_workers_can_import(SimpleNamespace(sparkContext=sc))
    shipped = Path(added[0])
    assert sorted(base.iterdir()) == sorted([fresh, shipped])
    assert shipped.stat().st_mtime > time.time() - 60
