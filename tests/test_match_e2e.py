"""End-to-end pipeline correctness: pairwise F1 >= 0.99 on labeled
same-blocking-key pairs + exact cluster reproduction (north_rule)."""

from __future__ import annotations

import os

import pandas as pd
import pytest
from pyspark import StorageLevel
from pyspark.sql import functions as F

from conftest import broadcast_off, shuffles
from entitymatch_spark.plans.incremental import incremental_match, initial_state
from entitymatch_spark.plans.pipeline import MatchConfig, match_pipeline
from entitymatch_spark.plans.resumable import resumable_match_pipeline
from entitymatch_spark.sources.synthetic import generate_corpus, corpus_to_spark


@pytest.fixture(scope="module")
def run(spark):
    fx = generate_corpus(n_clusters=150, seed=42)
    dfs = corpus_to_spark(spark, fx)
    return fx, match_pipeline(dfs["pages"], MatchConfig())


@pytest.fixture(scope="module")
def result(run):
    fx, res = run
    scored = res.scored.select("id_a", "id_b", "score").toPandas()
    clusters = res.clusters.toPandas()
    return fx, scored, clusters


def _pair_predictions(fx, scored, threshold):
    sc = {(r.id_a, r.id_b): r.score for r in scored.itertuples()}
    rows = []
    for r in fx.labels.itertuples():
        a, b = sorted((r.url_a, r.url_b))
        score = sc.get((a, b), 0.0)  # unblocked/unscored pair = non-match
        rows.append((a, b, r.is_match, score >= threshold, score))
    return pd.DataFrame(rows, columns=["a", "b", "truth", "pred", "score"])


def test_pairwise_f1(result):
    fx, scored, _ = result
    preds = _pair_predictions(fx, scored, MatchConfig().threshold)
    tp = int(((preds.truth) & (preds.pred)).sum())
    fp = int((~preds.truth & preds.pred).sum())
    fn = int((preds.truth & ~preds.pred).sum())
    precision = tp / (tp + fp) if tp + fp else 0.0
    recall = tp / (tp + fn) if tp + fn else 0.0
    f1 = 2 * precision * recall / (precision + recall) if precision + recall else 0.0
    print(f"pairs={len(preds)} tp={tp} fp={fp} fn={fn} P={precision:.4f} R={recall:.4f} F1={f1:.4f}")
    assert f1 >= 0.99, (tp, fp, fn, precision, recall, f1)


def test_cluster_reproduction(result):
    """Predicted partition == ground-truth partition, exactly."""
    fx, _, clusters = result
    truth = fx.pages[["url", "cluster_id"]].rename(columns={"cluster_id": "truth"})
    merged = clusters.rename(columns={"doc_id": "url", "cluster_id": "pred"}).merge(truth, on="url")
    # bijection test: each truth cluster maps to exactly one predicted id & vice versa
    t2p = merged.groupby("truth")["pred"].nunique()
    p2t = merged.groupby("pred")["truth"].nunique()
    frag = int((t2p > 1).sum())
    merge_err = int((p2t > 1).sum())
    print(f"clusters={len(t2p)} fragmented={frag} wrongly_merged={merge_err}")
    assert frag == 0, f"{frag} ground-truth clusters fragmented"
    assert merge_err == 0, f"{merge_err} predicted clusters span >1 truth cluster"


def test_production_matches_portable_variant(spark, result):
    """The production pipeline (xxhash64 MinHash, folded band keys — the
    no-oracle driver variant) must recover the SAME partition as the
    portable md5/concat variant that the DuckDB oracle value-checks.
    Cluster ids are min-member ids, so identical partitions mean
    identical (doc -> cluster) maps — compared exactly. This anchors the
    production hash path to the value-checked one (VERDICT r2 ask)."""
    fx, _, prod_clusters = result
    cfg = MatchConfig(
        num_hashes=16, bands=4, rows_per_band=4,
        minhash_token_hash="md5", lsh_band_hash="concat",
    )
    portable = match_pipeline(corpus_to_spark(spark, fx)["pages"], cfg).clusters.toPandas()
    prod = dict(zip(prod_clusters["doc_id"], prod_clusters["cluster_id"]))
    port = dict(zip(portable["doc_id"], portable["cluster_id"]))
    assert prod == port


def test_scorer_parallelism_not_aqe_coalesced(spark):
    """AQE coalesces shuffles by BYTES, but the Arrow scorer's cost is
    rows x python-time: a few-MB pair table must still fan out across
    cores. The scorer layout pins exactly one partition per core
    (defaultParallelism) for the link and the grow alike; more would
    only add per-task Arrow cost."""
    pages = corpus_to_spark(spark, generate_corpus(n_clusters=10, seed=3))["pages"]
    dp = spark.sparkContext.defaultParallelism
    res = match_pipeline(pages, MatchConfig())
    assert res.pairs.rdd.getNumPartitions() == dp
    is_batch = F.pmod(F.xxhash64("url"), F.lit(3)) == 0
    grown = incremental_match(initial_state(pages.filter(~is_batch)), pages.filter(is_batch))
    assert grown.pairs.rdd.getNumPartitions() == dp


def test_scorer_releases_idf_broadcast(spark, tmp_path):
    """Every scoring run broadcasts the IDF map, which PySpark writes as
    a file in the driver's temp dir and deletes only on destroy(). A
    link released with unpersist(), a grow and a resumable run leave no
    file behind, and neither does building a state."""
    pages = corpus_to_spark(spark, generate_corpus(n_clusters=5, seed=3))["pages"]
    is_batch = F.pmod(F.xxhash64("url"), F.lit(3)) == 0
    temp_dir = spark.sparkContext._temp_dir
    before = len(os.listdir(temp_dir))
    state = initial_state(pages.filter(~is_batch))

    res = match_pipeline(pages, MatchConfig())
    n_docs = res.clusters.count()
    res.unpersist()
    res.unpersist()  # a second release is a no-op
    assert res.clusters.count() == n_docs  # computed clusters stay readable
    grown = incremental_match(state, pages.filter(is_batch))
    grown.cluster_changed.count()
    grown.unpersist()
    resumable_match_pipeline(spark, pages, tmp_path / "r", n_score_buckets=2)

    assert len(os.listdir(temp_dir)) <= before


def test_clustering_is_lazy(spark, monkeypatch):
    """Constructing a MatchResult must NOT run the iterative
    connected-components loop (per-round driver actions); it runs once,
    on first access to .clusters, and is cached."""
    import entitymatch_spark.plans.pipeline as pl

    calls = []
    orig = pl.connected_components

    def spy(*a, **k):
        calls.append(1)
        return orig(*a, **k)

    monkeypatch.setattr(pl, "connected_components", spy)
    pages = corpus_to_spark(spark, generate_corpus(n_clusters=5, seed=3))["pages"]
    res = match_pipeline(pages, MatchConfig())
    assert not calls, "clustering ran during pipeline construction"
    assert res.scored.count() >= 0  # scoring usable without clustering
    assert not calls
    c1 = res.clusters
    assert calls == [1]
    c2 = res.clusters
    assert c2 is c1 and calls == [1]  # cached, not re-run


def test_link_finishes_clusters_on_the_driver(spark):
    """A small link's match graph is clustered on the driver: an
    untraced link (pipeline, clusters, distinct count) runs at most 21
    Spark jobs (33 with the large-star/small-star loop), cluster
    assembly broadcasts the node map with no shuffle, and the rows equal
    the loop's."""
    pages = corpus_to_spark(spark, generate_corpus(n_clusters=40, seed=5))["pages"]
    sc = spark.sparkContext
    sc.setJobGroup("small-link", "one untraced link")
    try:
        res = match_pipeline(pages, MatchConfig())
        clusters = res.clusters
        assert clusters.select("cluster_id").distinct().count() > 0
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup("small-link")
    assert 0 < len(jobs) <= 21, len(jobs)
    rows = sorted(clusters.collect())
    plan = clusters._jdf.queryExecution().executedPlan()
    assert "BroadcastHashJoin" in plan.toString(), plan.toString()
    assert not shuffles(plan), [x.toString() for x in shuffles(plan)]
    res.unpersist()
    with broadcast_off(spark):
        looped = match_pipeline(pages, MatchConfig())
        assert sorted(looped.clusters.collect()) == rows
        looped.unpersist()


def test_all_labeled_pairs_blocked(result):
    """Every labeled positive pair must be a candidate (blocking recall)."""
    fx, scored, _ = result
    have = {(r.id_a, r.id_b) for r in scored.itertuples()}
    pos = fx.labels[fx.labels.is_match]
    missing = [
        (r.url_a, r.url_b)
        for r in pos.itertuples()
        if tuple(sorted((r.url_a, r.url_b))) not in have
    ]
    assert not missing, f"{len(missing)} positive pairs missed by blocking: {missing[:5]}"


def test_match_result_unpersist(run, result):
    """Last in the module: releases the shared run's caches, after every
    other test has read what it needs of that run."""
    _, res = run
    cached = [res.docs, res.pairs]  # persisted under MatchConfig().cache
    assert all(df.storageLevel != StorageLevel.NONE for df in cached)
    res.unpersist()
    assert [df.storageLevel for df in cached] == [StorageLevel.NONE] * 2
