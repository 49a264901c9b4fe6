"""The north_rule runs the pipeline via spark-submit; prove the CLI
entry point works end-to-end as an actual spark-submit invocation."""

from __future__ import annotations

import json
import os
import subprocess

import pytest
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
SPARK_SUBMIT = "/opt/spark/bin/spark-submit"


def test_spark_submit_pipeline(spark, tmp_path):
    # pages input shaped per BASELINE.json input_hint (url + text used)
    pages = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").selectExpr(
        "cast(doc_id as string) as url", "text"
    )
    inp = tmp_path / "pages"
    out = tmp_path / "out"
    pages.write.parquet(str(inp))

    env = dict(os.environ)
    env["PYTHONPATH"] = f"{REPO}{os.pathsep}" + env.get("PYTHONPATH", "")
    r = subprocess.run(
        [
            SPARK_SUBMIT,
            "--master", "local[4]",
            "--conf", "spark.ui.enabled=false",
            "--conf", "spark.sql.shuffle.partitions=8",
            str(REPO / "scripts" / "run_pipeline.py"),
            "--input", str(inp),
            "--output", str(out),
            "--no-lsh",
        ],
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    metrics = json.loads((out / "metrics.json").read_text())
    assert metrics["n_docs"] == 500 and metrics["n_pairs"] > 0

    clusters = spark.read.parquet(str(out / "clusters"))
    assert clusters.count() == 500
    assert set(clusters.columns) >= {"doc_id", "cluster_id"}


def test_cli_state_lifecycle(spark, tmp_path, monkeypatch):
    """build -> grow -> remove -> rethreshold -> in-place grow through
    the CLI's run() (in-process: the spark-submit plumbing itself is
    proven above); the clusters after the last two steps must equal the
    same chain through the library. The last grow passes no flags, so
    it must run under the config saved with the state. The documented
    relative ``--state-out st`` is a path under the working directory:
    build and grow publish manifest generations 1 and 2 there and
    create no catalog table."""
    import importlib.util

    from pyspark.sql import functions as F

    spec = importlib.util.spec_from_file_location(
        "run_pipeline", REPO / "scripts" / "run_pipeline.py"
    )
    cli = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(cli)

    pages = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").selectExpr(
        "cast(doc_id as string) as url", "text"
    )
    base, batch = pages.filter(F.xxhash64("url") % 3 != 0), pages.filter(
        F.xxhash64("url") % 3 == 0
    )
    gone = base.limit(50).select("url")
    d = {k: str(tmp_path / k) for k in
         ("base", "batch", "gone", "regrow", "o1", "o2", "o3", "o4", "o5",
          "o6", "o7", "s0", "s1", "s2", "s3")}
    base.write.parquet(d["base"])
    batch.write.parquet(d["batch"])
    gone.write.parquet(d["gone"])
    regrow = base.join(spark.read.parquet(d["gone"]), "url", "semi")
    regrow.write.parquet(d["regrow"])

    p = cli.build_parser()
    m1 = cli.run(p.parse_args(
        ["--mode", "build", "--input", d["base"], "--output", d["o1"],
         "--state-out", d["s0"], "--no-lsh"]), spark)
    m2 = cli.run(p.parse_args(
        ["--mode", "grow", "--input", d["batch"], "--output", d["o2"],
         "--state-dir", d["s0"], "--state-out", d["s1"], "--no-lsh"]), spark)
    m3 = cli.run(p.parse_args(
        ["--mode", "remove", "--delete-ids", d["gone"], "--output", d["o3"],
         "--state-dir", d["s1"], "--state-out", d["s2"], "--no-lsh"]), spark)
    m4 = cli.run(p.parse_args(
        ["--mode", "rethreshold", "--threshold", "0.70", "--output", d["o4"],
         "--state-dir", d["s2"], "--state-out", d["s3"], "--no-lsh"]), spark)
    # a flag may not change the saved config (here: the 0.70 threshold)
    with pytest.raises(SystemExit, match="--threshold"):
        cli.run(p.parse_args(
            ["--mode", "grow", "--input", d["regrow"], "--output", d["o5"],
             "--state-dir", d["s3"], "--threshold", "0.6"]), spark)
    # --state-out defaults to --state-dir: an in-place grow of s3, with
    # no flags: it grows under the saved config (threshold 0.70, no LSH)
    m5 = cli.run(p.parse_args(
        ["--mode", "grow", "--input", d["regrow"], "--output", d["o5"],
         "--state-dir", d["s3"]]), spark)
    assert m2["n_batch_pairs"] > 0
    assert m3["n_clusters_rows"] == m2["n_clusters_rows"] - 50
    assert m4["n_clusters_rows"] == m3["n_clusters_rows"]
    assert m5["n_clusters_rows"] == m5["n_docs"] == m4["n_clusters_rows"] + 50

    from entitymatch_spark.plans.incremental import (
        incremental_match, initial_state, remove_docs, rethreshold,
    )
    from entitymatch_spark.plans.pipeline import MatchConfig

    cfg = MatchConfig(use_lsh=False)
    want = rethreshold(
        remove_docs(
            incremental_match(initial_state(base, cfg), batch).state,
            gone,
        ),
        threshold=0.70,
    )
    got = spark.read.parquet(f"{d['o4']}/clusters")
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.clusters.collect())
    )
    regrown = incremental_match(want, regrow).state.clusters
    got = spark.read.parquet(f"{d['o5']}/clusters")
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, regrown.collect())
    )

    # under spark-submit, python and its local Hadoop filesystem start
    # in one working directory: move both to tmp_path
    monkeypatch.chdir(tmp_path)
    local = spark._jvm.org.apache.hadoop.fs.FileSystem.getLocal(
        spark._jsc.hadoopConfiguration()
    )
    cwd = local.getWorkingDirectory()
    local.setWorkingDirectory(spark._jvm.org.apache.hadoop.fs.Path(str(tmp_path)))
    tables = {t.name for t in spark.catalog.listTables()}
    try:
        cli.run(p.parse_args(
            ["--mode", "build", "--input", d["batch"], "--output", d["o6"],
             "--state-out", "st"]), spark)
        assert (tmp_path / "st" / "manifest-000001.json").exists()
        cli.run(p.parse_args(
            ["--mode", "grow", "--input", d["regrow"], "--output", d["o7"],
             "--state-dir", "st"]), spark)
        assert (tmp_path / "st" / "manifest-000002.json").exists()
    finally:
        local.setWorkingDirectory(cwd)
    assert {t.name for t in spark.catalog.listTables()} == tables


def test_get_spark_accepts_star_cpus_env(spark, monkeypatch):
    """SPARK_GRAFT_CPUS='*' is a valid master setting; the parallelism
    fallback must not int('*') it into a crash."""
    import os

    from entitymatch_spark.session import get_spark

    monkeypatch.setenv("SPARK_GRAFT_CPUS", "*")
    s = get_spark("star-env")  # reuses the active session
    assert s is not None
