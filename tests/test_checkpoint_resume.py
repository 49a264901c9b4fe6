"""Kill/rerun resumability (north_star): completed work is never redone."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from entitymatch_spark.plans.checkpoint import CheckpointManager
from entitymatch_spark.plans.pipeline import MatchConfig
from entitymatch_spark.plans.resumable import resumable_match_pipeline
from entitymatch_spark.sources.synthetic import corpus_to_spark, generate_corpus


def test_stage_computes_once(spark, tmp_path):
    ck = CheckpointManager(spark, tmp_path)
    calls = []

    def fn():
        calls.append(1)
        return spark.range(10).withColumn("x", F.col("id") * 2)

    a = ck.stage("s1", fn)
    b = ck.stage("s1", fn)
    assert len(calls) == 1  # second call read the checkpoint
    assert sorted(r["x"] for r in b.collect()) == sorted(r["x"] for r in a.collect())
    m = ck.manifest("s1")
    assert m["complete"] and m["rows"] == 10 and m["n_files"] >= 1


def test_bucketed_stage_resumes_mid_stage(spark, tmp_path):
    ck = CheckpointManager(spark, tmp_path)
    calls = []

    def fn(b):
        calls.append(b)
        return spark.range(b * 10, b * 10 + 5).withColumn("bucket", F.lit(b))

    # simulated kill: only buckets 0 and 1 complete
    ck.bucketed_stage("sc", [0, 1], fn)
    assert calls == [0, 1]
    m = ck.manifest("sc")
    assert m["buckets_done"] == [0, 1]

    # rerun with the full bucket list: only 2 and 3 are computed
    ck2 = CheckpointManager(spark, tmp_path)
    out = ck2.bucketed_stage("sc", [0, 1, 2, 3], fn)
    assert calls == [0, 1, 2, 3]  # 0 and 1 NOT re-run
    assert out.count() == 20
    m = ck2.manifest("sc")
    assert m["complete"] and m["buckets_done"] == [0, 1, 2, 3]

    # third run: nothing recomputed at all
    ck3 = CheckpointManager(spark, tmp_path)
    ck3.bucketed_stage("sc", [0, 1, 2, 3], fn)
    assert calls == [0, 1, 2, 3]


@pytest.fixture(scope="module")
def small_corpus(spark):
    fx = generate_corpus(n_clusters=40, seed=13)
    return fx, corpus_to_spark(spark, fx)["pages"]


def test_resumable_pipeline_matches_fresh_run(spark, tmp_path, small_corpus):
    fx, pages = small_corpus
    cfg = MatchConfig()
    r1 = resumable_match_pipeline(spark, pages, tmp_path / "run", cfg, n_score_buckets=4)
    first = {(r["doc_id"], r["cluster_id"]) for r in r1["clusters"].collect()}

    # simulate a restart: new manager over the same workdir
    r2 = resumable_match_pipeline(spark, pages, tmp_path / "run", cfg, n_score_buckets=4)
    second = {(r["doc_id"], r["cluster_id"]) for r in r2["clusters"].collect()}
    assert first == second

    # metrics recorded for every stage
    stages = {r["stage"] for r in r2["checkpoints"].metrics_df().collect()}
    assert {"docs", "idf", "keys", "pairs", "scored", "components"} <= stages


def test_resumable_pipeline_honors_idf_cap(spark, tmp_path, small_corpus):
    """The resumable path must apply cfg.idf_max_entries like the
    non-resume path (it used to silently collect the full vocabulary):
    with a tight cap the run completes, scores rare tokens at the tail
    mean, and reproduces ~all clusters of the uncapped resumable run."""
    fx, pages = small_corpus
    uncapped = resumable_match_pipeline(
        spark, pages, tmp_path / "u", MatchConfig(), n_score_buckets=2
    )
    capped = resumable_match_pipeline(
        spark, pages, tmp_path / "c", MatchConfig(idf_max_entries=300),
        n_score_buckets=2,
    )

    def clusters(res):
        by = {}
        for r in res["clusters"].collect():
            by.setdefault(r["cluster_id"], set()).add(r["doc_id"])
        return {frozenset(v) for v in by.values()}

    a, b = clusters(uncapped), clusters(capped)
    assert len(a & b) / max(len(a), len(b)) >= 0.9, (len(a), len(b))


def test_resumable_pipeline_kill_between_buckets(spark, tmp_path, small_corpus):
    """Kill after 2 of 4 scoring buckets; rerun must not rescore them."""
    fx, pages = small_corpus
    cfg = MatchConfig()
    ck = CheckpointManager(spark, tmp_path / "k")

    # run the head stages + half the scoring manually (simulated kill)
    from entitymatch_spark.operators.posting import build_posting, collect_idf_map, token_idf
    from entitymatch_spark.operators.blocking import candidate_pairs, token_blocking_keys
    from entitymatch_spark.operators.scoring import score_pairs
    from entitymatch_spark.plans.pipeline import prepare_docs

    docs = ck.stage("docs", lambda: prepare_docs(pages, cfg))
    n = docs.count()
    idf = ck.stage("idf", lambda: token_idf(build_posting(docs), n_docs=n))
    keys = ck.stage("keys", lambda: token_blocking_keys(build_posting(docs), idf, cfg.min_idf))
    pairs = ck.stage("pairs", lambda: candidate_pairs(keys, max_block=cfg.max_block))
    idf_bcast = spark.sparkContext.broadcast(collect_idf_map(idf))

    def bucket(b):
        return score_pairs(
            pairs.filter(F.pmod(F.xxhash64("id_a", "id_b"), F.lit(4)) == b),
            docs, idf_bcast, weights=cfg.weights,
        )

    ck.bucketed_stage("scored", [0, 1], bucket)  # ...kill here

    manifest_before = ck.manifest("scored")
    rows_before = manifest_before["rows_by_bucket"]

    # full pipeline over the same workdir: resumes, completes buckets 2,3 only
    calls = []

    def counting_bucket(b):
        calls.append(b)
        return bucket(b)

    ck2 = CheckpointManager(spark, tmp_path / "k")
    scored = ck2.bucketed_stage("scored", [0, 1, 2, 3], counting_bucket)
    assert calls == [2, 3], f"rescored completed buckets: {calls}"
    manifest_after = ck2.manifest("scored")
    for b in ("0", "1"):
        assert manifest_after["rows_by_bucket"][b] == rows_before[b]
    assert scored.count() == sum(manifest_after["rows_by_bucket"].values())


def test_stage_manifest_records_per_file_lineage(spark, tmp_path):
    """north_star 'per-partition lineage': the stage manifest records a
    per-output-file row count that sums to the stage total."""
    ck = CheckpointManager(spark, tmp_path / "lineage")
    ck.stage("docs", lambda: spark.range(1000).repartition(4).withColumnRenamed("id", "doc_id"))
    m = ck.manifest("docs")
    assert m["rows"] == 1000
    assert set(m["rows_by_file"]) == set(m["files"]) and len(m["files"]) == 4
    assert sum(m["rows_by_file"].values()) == 1000
    assert all(n > 0 for n in m["rows_by_file"].values())


def test_bucketed_stage_rejects_changed_bucketing(spark, tmp_path):
    """Resuming a bucketed stage with a different bucketing function
    must raise: a 16-bucket run resumed at 8 buckets would skip 'done'
    buckets whose slices do not cover the new ranges (silent row loss),
    and the reverse would double-cover."""
    import pytest

    from entitymatch_spark.plans.checkpoint import CheckpointManager

    ck = CheckpointManager(spark, tmp_path / "wd")

    def fn(b):
        return spark.range(b * 10, b * 10 + 3).withColumnRenamed("id", "v")

    ck.bucketed_stage("sc", [0, 1], fn, bucketing="pmod(h, 4)")
    # same bucketing resumes fine
    ck.bucketed_stage("sc", [0, 1, 2], fn, bucketing="pmod(h, 4)")
    with pytest.raises(ValueError, match="bucketing"):
        ck.bucketed_stage("sc", [0, 1], fn, bucketing="pmod(h, 8)")


def test_bucketed_stage_returns_requested_subset(spark, tmp_path):
    """After more buckets exist on disk, a subset request must return
    only that subset's rows, not every historically-done bucket."""
    from entitymatch_spark.plans.checkpoint import CheckpointManager

    ck = CheckpointManager(spark, tmp_path / "wd")

    def fn(b):
        return spark.range(b * 10, b * 10 + 2).withColumnRenamed("id", "v")

    ck.bucketed_stage("sc", [0, 1, 2, 3], fn)
    sub = ck.bucketed_stage("sc", [1, 2], fn)
    assert sorted(r["v"] for r in sub.collect()) == [10, 11, 20, 21]


def test_metrics_df_empty_workdir(spark, tmp_path):
    """metrics_df on a fresh (or all-cache-hit) workdir returns an empty
    frame instead of raising PATH_NOT_FOUND."""
    from entitymatch_spark.plans.checkpoint import CheckpointManager

    ck = CheckpointManager(spark, tmp_path / "fresh")
    assert ck.metrics_df().count() == 0


def test_bucketing_guard_arms_on_legacy_complete_checkpoint(spark, tmp_path):
    """Recording `bucketing` on an already-complete LEGACY checkpoint
    (one created before the guard existed, i.e. without a bucketing
    string) must PERSIST immediately: if it lived in memory only, the
    very resume-with-different-bucketing scenario the guard targets
    would still pass silently once."""
    import pytest

    from entitymatch_spark.plans.checkpoint import CheckpointManager

    ck = CheckpointManager(spark, tmp_path / "wd")

    def fn(b):
        return spark.range(b * 10, b * 10 + 3).withColumnRenamed("id", "v")

    # legacy run: no bucketing recorded, stage completes
    ck.bucketed_stage("legacy", [0, 1], fn)
    # resume of the complete stage records the bucketing (no bucket runs,
    # complete flag unchanged -> the write must happen at record time)
    ck.bucketed_stage("legacy", [0, 1], fn, bucketing="pmod(h, 4)")
    # a FRESH manager (fresh in-memory state) must still see it and refuse
    ck2 = CheckpointManager(spark, tmp_path / "wd")
    with pytest.raises(ValueError, match="bucketing"):
        ck2.bucketed_stage("legacy", [0, 1], fn, bucketing="pmod(h, 8)")


def test_metrics_df_same_schema_fresh_and_populated(spark, tmp_path):
    """The empty-workdir fallback and the populated read must return the
    IDENTICAL schema (incl. the `bucket` column bucketed stages log) so
    downstream unions/selects behave the same on both paths."""
    from entitymatch_spark.plans.checkpoint import CheckpointManager

    fresh = CheckpointManager(spark, tmp_path / "fresh").metrics_df()

    ck = CheckpointManager(spark, tmp_path / "wd")
    ck.stage("s1", lambda: spark.range(5))

    def fn(b):
        return spark.range(b * 10, b * 10 + 2).withColumnRenamed("id", "v")

    ck.bucketed_stage("b1", [0, 1], fn)
    pop = ck.metrics_df()
    assert [f.simpleString() for f in fresh.schema.fields] == [
        f.simpleString() for f in pop.schema.fields
    ]
    rows = {r["stage"]: r for r in pop.collect()}
    assert rows["s1"]["bucket"] is None and rows["s1"]["rows"] == 5
    assert {r["bucket"] for r in pop.collect() if r["stage"] == "b1"} == {0, 1}


def test_resume_with_changed_config_raises(spark, tmp_path, small_corpus):
    """EVERY MatchConfig field is pinned in the workdir: resuming with a
    changed threshold used to silently return the 0.60-threshold
    components for the 0.80 config (only n_score_buckets was guarded).
    Same-config resume stays allowed; a fresh workdir stays allowed."""
    fx, pages = small_corpus
    wd = tmp_path / "pin"
    resumable_match_pipeline(spark, pages, wd, MatchConfig(), n_score_buckets=2)
    # same config: fine
    resumable_match_pipeline(spark, pages, wd, MatchConfig(), n_score_buckets=2)
    with pytest.raises(ValueError, match="changed configuration"):
        resumable_match_pipeline(
            spark, pages, wd, MatchConfig(threshold=0.80), n_score_buckets=2
        )
    with pytest.raises(ValueError, match="changed configuration"):
        resumable_match_pipeline(
            spark, pages, wd, MatchConfig(num_hashes=32, bands=8), n_score_buckets=2
        )
    # the changed config runs fine in its own workdir
    resumable_match_pipeline(
        spark, pages, tmp_path / "pin2", MatchConfig(threshold=0.80),
        n_score_buckets=2,
    )


def test_resumable_scores_with_full_config(spark, tmp_path, small_corpus):
    """The blend weights must reach the bucket scorer: the resumable
    path used to score with the DEFAULTS and silently diverge from
    match_pipeline under the identical config."""
    from entitymatch_spark.plans.pipeline import match_pipeline

    fx, pages = small_corpus
    cfg = MatchConfig(weights={"jaccard": 0.5, "lev_sim": 0.5})
    res = resumable_match_pipeline(
        spark, pages, tmp_path / "lp", cfg, n_score_buckets=2
    )
    full = match_pipeline(pages, cfg)
    a = {(r.id_a, r.id_b, round(r.score, 9)) for r in res["scored"].collect()}
    b = {(r.id_a, r.id_b, round(r.score, 9)) for r in full.scored.collect()}
    assert a and a == b
    # the scores are the cfg's blend, not the default one
    assert all(
        abs(r.score - 0.5 * (r.jaccard + r.lev_sim)) < 1e-9
        for r in res["scored"].collect()
    )


def test_resumable_pipeline_honors_oversize_policy(spark, tmp_path, small_corpus):
    """cfg.max_block must reach the resumable pair stage, on a corpus
    where the cap bites: the resumable pairs equal match_pipeline's
    under the identical config."""
    from entitymatch_spark.plans.pipeline import match_pipeline

    fx, pages = small_corpus
    cfg = MatchConfig(max_block=8)
    full = match_pipeline(pages, cfg)
    # the cap bites: some block on this corpus is over it
    sizes = full.keys.groupBy("key").count()
    assert sizes.filter(F.col("count") > cfg.max_block).limit(1).count() == 1
    res = resumable_match_pipeline(
        spark, pages, tmp_path / "cap", cfg, n_score_buckets=1
    )
    got = sorted(map(tuple, res["pairs"].collect()))
    assert got == sorted(map(tuple, full.pairs.collect()))


def test_resumable_pipeline_file_uri_workdir(spark, tmp_path, small_corpus, monkeypatch):
    """A workdir given as a file:// URI (the form a cluster filesystem
    path takes) checkpoints and resumes like a plain path, and no stray
    relative directory named ``file:`` appears. A full resume reads
    every stage back under its recorded schema: no Spark job runs
    before the first action."""
    import os

    fx, pages = small_corpus
    cfg = MatchConfig()
    monkeypatch.chdir(tmp_path)
    sc, runs = spark.sparkContext, []

    def clusters(workdir):
        runs.append(group := f"resumable-{len(runs)}")
        sc.setJobGroup(group, "resumable_match_pipeline")
        try:
            res = resumable_match_pipeline(spark, pages, workdir, cfg, n_score_buckets=2)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        rows = sorted((r["doc_id"], r["cluster_id"]) for r in res["clusters"].collect())
        return rows, jobs

    want, _ = clusters(tmp_path / "plain")
    uri = f"file://{tmp_path}/wd"
    assert clusters(uri)[0] == want  # fresh run
    assert clusters(uri) == (want, 0)  # full resume
    assert CheckpointManager(spark, uri).manifest("scored")["complete"]
    assert not os.path.exists("file:")


def test_kill_at_every_checkpoint_write(spark, tmp_path, monkeypatch):
    """A kill at any write of a stage + bucketed_stage run leaves a
    workdir the rerun resumes: it recomputes only the killed stage or
    bucket, keeps each earlier bucket's directory, and its publishes
    remove every directory and temporary manifest the killed write
    left."""
    from pyspark.sql import DataFrameWriter

    from entitymatch_spark.plans import store

    class Killed(Exception):
        pass

    calls = {"n": 0, "kill_at": 0}

    def tick():
        calls["n"] += 1
        if calls["n"] == calls["kill_at"]:
            raise Killed

    real_parquet, real_rename = DataFrameWriter.parquet, store._rename

    def parquet(self, path, *args, **kwargs):
        real_parquet(self, path, *args, **kwargs)
        tick()  # killed after the files landed, before anything lists them

    def rename(fs, src, dst):
        tick()  # killed before the manifest is renamed into place
        return real_rename(fs, src, dst)

    monkeypatch.setattr(DataFrameWriter, "parquet", parquet)
    monkeypatch.setattr(store, "_rename", rename)

    def run(workdir, computed):
        ck = CheckpointManager(spark, workdir)

        def head():
            computed.append("head")
            return spark.range(6).withColumnRenamed("id", "v")

        def bucket(b):
            computed.append(b)
            return spark.range(b * 10, b * 10 + 3).withColumnRenamed("id", "v")

        ck.stage("head", head)
        out = ck.bucketed_stage("sc", [0, 1, 2], bucket, bucketing="pmod(h, 3)")
        return sorted(r["v"] for r in out.collect())

    clean = ["head", 0, 1, 2]
    want = [0, 1, 2, 10, 11, 12, 20, 21, 22]
    points = 2 * len(clean)  # one parquet write and one publish each
    for kill_at in range(1, points + 2):
        work = str(tmp_path / f"kill{kill_at}")
        first, rerun = [], []
        calls.update(n=0, kill_at=kill_at)
        try:
            assert run(work, first) == want
        except Killed:
            killed = clean.index(first[-1])
            assert first == clean[: killed + 1], kill_at
            before = CheckpointManager(spark, work).manifest("sc")
            kept = before["dir_by_bucket"] if before else {}
            calls["kill_at"] = 0
            assert run(work, rerun) == want
            assert rerun == clean[killed:], kill_at  # only the killed one redone
            after = CheckpointManager(spark, work).manifest("sc")
            assert {b: after["dir_by_bucket"][b] for b in kept} == kept, kill_at
        else:
            assert (kill_at, calls["n"], first) == (points + 1, points, clean)

        d = store._StateDir(spark, work)
        top = d.manifest()
        listed = {rel for rels in top["parts"].values() for rel in rels}
        on_disk = {
            f"{part}/{n}" for part in d.ls(dirs=True) for n in d.ls(part)
        }
        assert on_disk == listed, kill_at
        assert not [n for n in d.ls() if n.endswith(".tmp")], kill_at
