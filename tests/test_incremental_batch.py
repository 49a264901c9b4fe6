"""Batch-incremental matching: exact equivalence with a full recompute
under a frozen IDF dictionary (plans/incremental.py contract), pair
algebra (no old-old pair ever rescored), cluster-merge locality, and
state save/load."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from entitymatch_spark.operators.posting import build_posting, token_idf
from entitymatch_spark.plans.incremental import (
    incremental_match,
    initial_state,
    load_state,
    save_state,
)
from entitymatch_spark.plans.pipeline import MatchConfig, match_pipeline, prepare_docs
from entitymatch_spark.sources.synthetic import corpus_to_spark, generate_corpus


@pytest.fixture(scope="module")
def setup(spark):
    fx = generate_corpus(n_clusters=60, seed=7)
    pages = corpus_to_spark(spark, fx)["pages"]
    cfg = MatchConfig(cache=False)
    # deterministic ~1/3 batch split
    is_batch = F.pmod(F.xxhash64("url"), F.lit(3)) == 0
    base, batch = pages.filter(~is_batch), pages.filter(is_batch)
    # frozen external dictionary over the union snapshot — the contract
    # under which incremental == full recompute is exact
    union_docs = prepare_docs(pages, cfg)
    idf = token_idf(
        build_posting(union_docs, id_col="doc_id"), n_docs=union_docs.count()
    )

    full = match_pipeline(pages, cfg, idf=idf)
    st0 = initial_state(base, cfg, idf=idf)
    inc = incremental_match(st0, batch)
    return dict(
        pages=pages, base=base, batch=batch, cfg=cfg, idf=idf,
        full=full, st0=st0, inc=inc,
    )


def _clusters(df):
    return sorted((r.doc_id, r.cluster_id) for r in df.collect())


def _pairs(df):
    return {(r.id_a, r.id_b) for r in df.select("id_a", "id_b").collect()}


def _rows(df):
    return sorted(
        tuple(tuple(v) if isinstance(v, list) else v for v in r) for r in df.collect()
    )


def _state_rows(st):
    """Every stored part of a state, as sorted row lists, plus its config."""
    parts = ("docs", "keys", "idf", "clusters", "scored")
    return st.cfg, {part: _rows(getattr(st, part)) for part in parts}


def test_incremental_equals_full_recompute(setup):
    assert _clusters(setup["inc"].state.clusters) == _clusters(
        setup["full"].clusters
    )


def test_pair_algebra(setup):
    """incremental pairs == full-run pairs minus base-run pairs, and
    every incremental pair touches a batch doc (no old-old rescoring)."""
    base_pairs = _pairs(
        match_pipeline(setup["base"], setup["cfg"], idf=setup["idf"]).pairs
    )
    full_pairs = _pairs(setup["full"].pairs)
    inc_pairs = _pairs(setup["inc"].pairs)
    assert inc_pairs == full_pairs - base_pairs
    batch_ids = {
        r.url for r in setup["batch"].select("url").collect()
    }
    assert all(a in batch_ids or b in batch_ids for a, b in inc_pairs)


def test_no_cap_crossing_on_fixture(setup):
    """The equivalence precondition: no key under the purge cap in the
    base corpus crosses it in the union (module docstring caveat)."""
    cap = setup["cfg"].max_block
    base_sz = (
        setup["st0"].keys.groupBy("key").agg(F.count("*").alias("nb"))
    )
    union_sz = (
        setup["inc"].state.keys.groupBy("key").agg(F.count("*").alias("nu"))
    )
    crossed = (
        base_sz.join(union_sz, "key")
        .filter((F.col("nb") <= cap) & (F.col("nu") > cap))
        .count()
    )
    assert crossed == 0


def test_unrelated_batch_leaves_clusters_verbatim(spark, setup):
    """A batch that matches nothing adds singletons and changes no
    prior cluster row."""
    batch = spark.createDataFrame(
        [(f"zz://new/{i}", f"qqq{i}x wwww{i}y unseen{i}z token{i}q") for i in range(5)],
        "url string, text string",
    )
    before = _clusters(setup["st0"].clusters)
    res = incremental_match(setup["st0"], batch)
    after = _clusters(res.state.clusters)
    assert res.matches.count() == 0
    new_rows = sorted(set(after) - set(before))
    assert new_rows == sorted((f"zz://new/{i}", f"zz://new/{i}") for i in range(5))
    assert sorted(set(before) - set(after)) == []


def test_state_save_load_roundtrip(spark, tmp_path, setup):
    path = str(tmp_path / "state")
    save_state(setup["st0"], path)
    loaded = load_state(spark, path)
    res = incremental_match(loaded, setup["batch"])
    assert _clusters(res.state.clusters) == _clusters(setup["full"].clusters)


def test_load_state_runs_no_spark_job(spark, tmp_path, setup):
    """The manifest records each part's schema, so loading a state reads
    no parquet footer: no schema-inference job, one per part, runs."""
    path = str(tmp_path / "st_nojob")
    save_state(setup["st0"], path)
    sc = spark.sparkContext
    sc.setJobGroup("load-state", "load_state")
    try:
        loaded = load_state(spark, path)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("load-state") == []
    assert _state_rows(loaded) == _state_rows(setup["st0"])


def test_rethreshold_equals_full_recompute(setup, spark):
    """A new threshold applied to the STORED scored table + one CC pass
    must equal a full pipeline re-run at that threshold — in both
    directions (tighter drops edges, looser adds them), over the grown
    post-batch state."""
    from entitymatch_spark.plans.incremental import rethreshold

    for thr in (0.70, 0.50):
        cheap = rethreshold(setup["inc"].state, threshold=thr)
        assert cheap.cfg.threshold == thr
        full = match_pipeline(
            setup["pages"],
            MatchConfig(cache=False, threshold=thr),
            idf=setup["idf"],
        )
        assert _clusters(cheap.clusters) == _clusters(full.clusters)


def test_rethreshold_reblend_weights(setup):
    """A new affine blend over the stored FEATURE columns (not just a
    new cut on the old score) must equal a full re-run with those
    weights."""
    from entitymatch_spark.plans.incremental import rethreshold

    w = {"cosine": 0.5, "jw": 0.2, "lev_sim": 0.1, "jaccard": 0.1, "containment": 0.1}
    cheap = rethreshold(setup["inc"].state, weights=w, threshold=0.65)
    full = match_pipeline(
        setup["pages"],
        MatchConfig(cache=False, weights=w, threshold=0.65),
        idf=setup["idf"],
    )
    assert _clusters(cheap.clusters) == _clusters(full.clusters)


def test_rethreshold_model_path(setup):
    """CalibratedModel route: the model's logistic blend + probability
    cut decides the edge set; clusters follow from one CC pass. A
    probability cut outside (0, 1) is refused."""
    from dataclasses import replace

    from entitymatch_spark.operators.calibrate import CalibratedModel
    from entitymatch_spark.operators.clustering import (
        assign_clusters,
        connected_components,
    )
    from entitymatch_spark.plans.incremental import rethreshold

    model = CalibratedModel(
        weights={"cosine": 6.0, "jw": 2.0, "lev_sim": 1.0,
                 "jaccard": 1.0, "containment": 1.0},
        bias=-6.0, threshold=0.5,
    )
    st = setup["inc"].state
    out = rethreshold(st, model=model)
    comp = connected_components(
        model.matches(st.scored).select("id_a", "id_b"), src="id_a", dst="id_b"
    )
    want = assign_clusters(st.docs.select("doc_id"), comp)
    assert _clusters(out.clusters) == _clusters(want)
    with pytest.raises(ValueError):
        rethreshold(st, threshold=0.7, model=model)
    for p in (0.0, 1.0, 1.5):
        with pytest.raises(ValueError, match=f"threshold {p!r}"):
            rethreshold(st, model=replace(model, threshold=p))


def test_rethreshold_state_roundtrip(setup, spark, tmp_path):
    """scored persists with the state, so a reloaded state rethresholds
    like the in-memory one."""
    from entitymatch_spark.plans.incremental import rethreshold

    p = str(tmp_path / "st")
    save_state(setup["inc"].state, p)
    loaded = load_state(spark, p)
    thr = rethreshold(loaded, threshold=0.70)
    direct = rethreshold(setup["inc"].state, threshold=0.70)
    assert _clusters(thr.clusters) == _clusters(direct.clusters)


def test_model_rethreshold_survives_save_load_grow(setup, spark, tmp_path):
    """A CalibratedModel applied by rethreshold rides the saved config:
    save, load, grow and commit the recalibrated base, and the grown
    clusters are the closure of the MODEL's matches over the union
    scored table, not of the affine cut the state was built with."""
    import math

    from entitymatch_spark.operators.calibrate import CalibratedModel
    from entitymatch_spark.operators.clustering import (
        assign_clusters,
        connected_components,
    )
    from entitymatch_spark.plans.incremental import commit_increment, rethreshold

    model = CalibratedModel(
        weights={"cosine": 6.0, "jw": 2.0, "lev_sim": 1.0,
                 "jaccard": 1.0, "containment": 1.0},
        bias=-6.0, threshold=0.99,
    )
    path = str(tmp_path / "st_model")
    save_state(rethreshold(setup["st0"], model=model), path)
    loaded = load_state(spark, path)
    assert loaded.cfg.weights == model.weights
    assert loaded.cfg.threshold == math.log(0.99 / (1 - 0.99)) + 6.0
    commit_increment(incremental_match(loaded, setup["batch"]), path)
    grown = load_state(spark, path)
    comp = connected_components(
        model.matches(grown.scored).select("id_a", "id_b"), src="id_a", dst="id_b"
    )
    want = assign_clusters(grown.docs.select("doc_id"), comp)
    assert _clusters(grown.clusters) == _clusters(want)
    # the model's cut differs from the affine one on this corpus
    assert _clusters(want) != _clusters(setup["full"].clusters)


def test_remove_docs_equals_full_recompute(setup):
    """Delete a deterministic ~quarter of the grown corpus: clusters must
    equal a full pipeline run over the survivors (frozen dictionary),
    and every state table must be clean of the deleted ids."""
    from entitymatch_spark.plans.incremental import remove_docs

    st = setup["inc"].state
    is_gone = F.pmod(F.xxhash64("url"), F.lit(4)) == 1
    gone = setup["pages"].filter(is_gone).select("url")
    kept = setup["pages"].filter(~is_gone)
    out = remove_docs(st, gone)
    full = match_pipeline(kept, setup["cfg"], idf=setup["idf"])
    assert _clusters(out.clusters) == _clusters(full.clusters)

    gone_ids = {r.url for r in gone.collect()}
    assert gone_ids  # the split actually deleted something
    for tbl, cols in (
        (out.docs, ("doc_id",)),
        (out.keys, ("doc_id",)),
        (out.clusters, ("doc_id", "cluster_id")),
        (out.scored, ("id_a", "id_b")),
    ):
        for r in tbl.select(*cols).collect():
            assert not any(getattr(r, c) in gone_ids for c in cols)


def test_remove_min_member_reanchors(setup):
    """Deleting a cluster's min member (its cluster id) re-anchors the
    survivors exactly as a full recompute; untouched clusters verbatim."""
    from collections import Counter

    from entitymatch_spark.plans.incremental import remove_docs

    st = setup["inc"].state
    rows = _clusters(st.clusters)
    sizes = Counter(c for _, c in rows)
    cid = min(c for c, n in sizes.items() if n >= 3)
    members = sorted(d for d, c in rows if c == cid)
    assert members[0] == cid  # cluster id IS the min member id

    spark = st.docs.sparkSession
    out = remove_docs(st, spark.createDataFrame([(cid,)], "doc_id string"))
    kept = setup["pages"].filter(F.col("url") != cid)
    full = match_pipeline(kept, setup["cfg"], idf=setup["idf"])
    after = _clusters(out.clusters)
    assert after == _clusters(full.clusters)
    untouched = [r for r in rows if r[1] != cid]
    assert set(untouched) <= set(after)


def test_remove_whole_cluster(setup):
    """Deleting every member of one cluster removes exactly its rows."""
    from collections import Counter

    from entitymatch_spark.plans.incremental import remove_docs

    st = setup["inc"].state
    rows = _clusters(st.clusters)
    sizes = Counter(c for _, c in rows)
    cid = min(c for c, n in sizes.items() if n >= 2)
    members = [(d,) for d, c in rows if c == cid]

    spark = st.docs.sparkSession
    out = remove_docs(st, spark.createDataFrame(members, "doc_id string"))
    assert _clusters(out.clusters) == sorted(r for r in rows if r[1] != cid)


def test_upsert_unchanged_pages_is_cluster_noop(setup):
    """Re-crawling pages with identical text (same url, fresher crawl)
    lands back on the full-run cluster map."""
    from entitymatch_spark.plans.incremental import upsert_pages

    st = setup["inc"].state
    batch = setup["pages"].filter(F.pmod(F.xxhash64("url"), F.lit(5)) == 2)
    res = upsert_pages(st, batch)
    assert _clusters(res.state.clusters) == _clusters(setup["full"].clusters)


def test_upsert_moved_pages_equals_full_recompute(setup, spark):
    """A re-crawl that CHANGES page text (url keeps its identity, the
    content moves to another entity) re-clusters exactly like a full
    run over the updated corpus."""
    from entitymatch_spark.plans.incremental import upsert_pages

    pdf = (
        setup["pages"].select("url", "text").toPandas()
        .sort_values("url").reset_index(drop=True)
    )
    moved = pdf.iloc[:4].copy()
    moved["text"] = pdf["text"].iloc[-1]
    batch = spark.createDataFrame(moved, schema="url string, text string")

    res = upsert_pages(setup["inc"].state, batch)
    updated = (
        setup["pages"].select("url", "text")
        .join(batch.select("url"), "url", "anti")
        .unionByName(batch)
    )
    full = match_pipeline(updated, setup["cfg"], idf=setup["idf"])
    assert _clusters(res.state.clusters) == _clusters(full.clusters)


def test_state_keys_semi_join_standing_side_never_shuffles(spark, tmp_path, setup):
    """On a path-stored state under default settings, the grow's
    old-side semi-join broadcasts the batch's distinct keys (BuildRight)
    straight over the stored key table's scan: no shuffle exchange on
    the standing-keys side. At 10^12 docs that side is the O(corpus)
    key table, which a daily batch must never move across the
    network."""
    from conftest import plan_nodes, shuffles

    from entitymatch_spark.plans.pipeline import blocking_keys

    path = str(tmp_path / "st")
    save_state(setup["st0"], path)
    loaded = load_state(spark, path)
    batch_keys = (
        blocking_keys(prepare_docs(setup["batch"], setup["cfg"]), loaded.idf, loaded.cfg)
        .select("key")
        .distinct()
    )
    j = loaded.keys.join(batch_keys, "key", "semi")
    j.collect()  # settle the adaptive plan

    plan = j._jdf.queryExecution().executedPlan()
    semi = [
        n for n in plan_nodes(plan)
        if n.getClass().getSimpleName() == "BroadcastHashJoinExec"
        and n.joinType().toString() == "LeftSemi"
    ]
    assert len(semi) == 1, plan.toString()
    assert semi[0].buildSide().toString() == "BuildRight", plan.toString()
    standing = semi[0].left()
    assert not shuffles(standing), standing.toString()
    assert any(
        n.getClass().getSimpleName() == "FileSourceScanExec"
        for n in plan_nodes(standing)
    ), standing.toString()


def test_initial_state_scores_once(spark, tmp_path, setup, monkeypatch):
    """Building a state and saving it score each base pair exactly once:
    the clusters and the saved ``scored`` read one cut of the link."""
    from entitymatch_spark.operators import scoring

    scored_rows = spark.sparkContext.accumulator(0)
    pair_udf = scoring._pair_udf

    def counting_pair_udf(idf_bcast, default_idf=1e-5):
        fn = pair_udf(idf_bcast, default_idf).func

        def batch(*cols):
            scored_rows.add(len(cols[0]))
            return fn(*cols)

        return F.pandas_udf(
            batch, "struct<jw:double,cosine:double,containment:double>"
        )

    monkeypatch.setattr(scoring, "_pair_udf", counting_pair_udf)
    cfg, idf = setup["cfg"], setup["idf"]
    st = initial_state(setup["base"], cfg, idf=idf)
    save_state(st, str(tmp_path / "state"))
    n_pairs = match_pipeline(setup["base"], cfg, idf=idf).pairs.count()
    assert scored_rows.value == n_pairs > 0


def test_commit_increment_in_place(spark, tmp_path, setup, monkeypatch):
    """commit_increment adds the batch deltas to the stored state IN
    PLACE — the base generation's data files stay untouched and the
    deltas add directories (the O(batch) commit evidence) — and the
    reloaded state equals the in-memory grown one. The grow and the
    commit together score each batch pair exactly once."""
    from pathlib import Path

    from entitymatch_spark.operators import scoring
    from entitymatch_spark.plans.incremental import _StateDir, commit_increment

    scored_rows = spark.sparkContext.accumulator(0)
    pair_udf = scoring._pair_udf

    def counting_pair_udf(idf_bcast, default_idf=1e-5):
        fn = pair_udf(idf_bcast, default_idf).func

        def batch(*cols):
            scored_rows.add(len(cols[0]))
            return fn(*cols)

        return F.pandas_udf(
            batch, "struct<jw:double,cosine:double,containment:double>"
        )

    path = str(tmp_path / "state")
    save_state(setup["st0"], path)

    def files(rels):
        return {
            str(f): f.stat().st_mtime_ns
            for r in rels for f in (Path(path) / r).glob("*.parquet")
        }

    before = _StateDir(spark, path).manifest()["parts"]
    files_before = {part: files(before[part]) for part in ("docs", "keys", "scored")}
    loaded = load_state(spark, path)
    monkeypatch.setattr(scoring, "_pair_udf", counting_pair_udf)
    res = incremental_match(loaded, setup["batch"])
    commit_increment(res, path)
    assert scored_rows.value == res.pairs.count() > 0
    after = _StateDir(spark, path).manifest()["parts"]
    for part, was in files_before.items():
        assert after[part][: len(before[part])] == before[part], part  # kept
        assert len(after[part]) > len(before[part]), part  # delta added
        assert files(before[part]) == was, part  # never rewritten
    grown = load_state(spark, path)
    exp = setup["inc"].state
    assert _clusters(grown.clusters) == _clusters(exp.clusters)
    assert sorted(r.doc_id for r in grown.docs.select("doc_id").collect()) == sorted(
        r.doc_id for r in exp.docs.select("doc_id").collect()
    )
    assert sorted((r.doc_id, r.key) for r in grown.keys.collect()) == sorted(
        (r.doc_id, r.key) for r in exp.keys.collect()
    )
    assert _pairs(grown.scored) == _pairs(exp.scored)


def test_commit_increment_upsert_full_snapshot(spark, tmp_path, setup):
    """An upsert result retires stored rows, so its deltas cannot be
    added to the stored state: commit_increment writes it as a full
    snapshot, which reloads equal to the in-memory state."""
    from entitymatch_spark.plans.incremental import commit_increment, upsert_pages

    path = str(tmp_path / "st_up")
    save_state(setup["st0"], path)
    recrawl = setup["pages"].filter(F.pmod(F.xxhash64("url"), F.lit(9)) == 4)
    res = upsert_pages(load_state(spark, path), recrawl)
    assert res.state.source is None
    commit_increment(res, path)
    assert _state_rows(load_state(spark, path)) == _state_rows(res.state)


def test_commit_refuses_stale_base(spark, tmp_path, setup):
    """Results grown from one loaded commit: the first commits as a
    delta, and a second one is refused, as is a grow chained on that
    second one (by generation number alone it looks like a delta over
    the first commit, and committing it would drop the first batch).
    The stored state stays the first commit. A chain grown from the
    committed state, whose middle grow is never committed, then commits
    as a full snapshot equal to the full recompute, and the middle grow
    is refused after it."""
    from entitymatch_spark.plans.incremental import _StateDir, commit_increment

    path = str(tmp_path / "st_stale")
    save_state(setup["st0"], path)
    loaded = load_state(spark, path)
    q = [
        setup["batch"].filter(F.pmod(F.xxhash64("url"), F.lit(3)) == i)
        for i in range(3)
    ]
    first, second = (incremental_match(loaded, b) for b in q[:2])
    chained = incremental_match(second.state, q[0])
    commit_increment(first, path)
    d = _StateDir(spark, path)
    # the commit publishes the grown state's id: a grow of it is a delta
    assert d.manifest()["id"] == first.state.source[1][-1]
    assert len(d.manifest()["parts"]["docs"]) == 2
    for stale in (second, chained):
        with pytest.raises(ValueError, match="does not build on"):
            commit_increment(stale, path)
    assert _state_rows(load_state(spark, path)) == _state_rows(first.state)

    mid = incremental_match(first.state, q[1])
    last = incremental_match(mid.state, q[2])
    commit_increment(last, path)
    m = d.manifest()
    assert (m["generation"], len(m["parts"]["docs"])) == (3, 1)  # a snapshot
    assert _clusters(load_state(spark, path).clusters) == _clusters(
        setup["full"].clusters
    )
    with pytest.raises(ValueError, match="does not build on"):
        commit_increment(mid, path)


def test_remove_docs_follows_calibrated_model(setup):
    """A state recalibrated with rethreshold(model=) must keep using the
    MODEL's predicate when docs are later removed — re-deriving changed
    clusters from the affine threshold would silently mix two edge sets
    in one clusters table. Oracle: full model-predicate closure over the
    surviving scored table."""
    from entitymatch_spark.operators.calibrate import CalibratedModel
    from entitymatch_spark.operators.clustering import (
        assign_clusters,
        connected_components,
    )
    from entitymatch_spark.plans.incremental import remove_docs, rethreshold

    model = CalibratedModel(
        weights={"cosine": 6.0, "jw": 2.0, "lev_sim": 1.0,
                 "jaccard": 1.0, "containment": 1.0},
        bias=-6.0, threshold=0.5,
    )
    st = rethreshold(setup["inc"].state, model=model)
    gone = (
        st.docs.select("doc_id")
        .filter(F.pmod(F.xxhash64("doc_id"), F.lit(4)) == 1)
    )
    out = remove_docs(st, gone)
    # the model's blend rides the config through the delete
    assert (out.cfg.weights, out.cfg.threshold) == (model.weights, 6.0)

    survivors = st.docs.join(gone, "doc_id", "anti").select("doc_id")
    scored = (
        st.scored
        .join(gone.withColumnRenamed("doc_id", "id_a"), "id_a", "anti")
        .join(gone.withColumnRenamed("doc_id", "id_b"), "id_b", "anti")
    )
    comp = connected_components(
        model.matches(scored).select("id_a", "id_b"), src="id_a", dst="id_b"
    )
    want = assign_clusters(survivors, comp)
    assert _clusters(out.clusters) == _clusters(want)


def test_incremental_match_carries_model_predicate(setup):
    """Growing a model-recalibrated state derives the batch's match
    edges with the model, not the affine cut, and the grown state's
    config still carries the model's blend."""
    from entitymatch_spark.operators.calibrate import CalibratedModel
    from entitymatch_spark.plans.incremental import rethreshold

    model = CalibratedModel(
        weights={"cosine": 6.0, "jw": 2.0, "lev_sim": 1.0,
                 "jaccard": 1.0, "containment": 1.0},
        bias=-6.0, threshold=0.5,
    )
    # recalibrate the base state, then grow it by the same batch
    st = rethreshold(setup["st0"], model=model)
    res = incremental_match(st, setup["batch"])
    # logit(0.5) - bias: the model's cut on its own blend
    assert (res.state.cfg.weights, res.state.cfg.threshold) == (model.weights, 6.0)
    got = {(r.id_a, r.id_b) for r in res.matches.select("id_a", "id_b").collect()}
    want = {
        (r.id_a, r.id_b)
        for r in model.matches(res.scored).select("id_a", "id_b").collect()
    }
    assert got == want


def test_load_state_file_uri(spark, tmp_path, setup):
    """A state saved at a URI loads through Hadoop's FileSystem (which
    answers for s3a://, hdfs://, file://), scored table included."""
    path = "file://" + str(tmp_path / "st_uri")
    save_state(setup["st0"], path)
    loaded = load_state(spark, path)
    assert loaded.docs.count() == setup["st0"].docs.count()
    assert _pairs(loaded.scored) == _pairs(setup["st0"].scored)


def test_lsh_band_geometry_validated(spark):
    """Bands past the signature end would emit one constant key per
    out-of-range band (skew + silent zero recall after the purge):
    MatchConfig and the key builders refuse the layout up front."""
    from entitymatch_spark.operators.blocking import lsh_band_keys

    with pytest.raises(ValueError, match="exceeds the signature"):
        MatchConfig(bands=32, rows_per_band=4, num_hashes=64)
    MatchConfig(use_lsh=False, bands=32, rows_per_band=4, num_hashes=64)
    with pytest.raises(ValueError, match="exceeds the signature"):
        lsh_band_keys(
            spark.range(0).withColumn("sig", F.array().cast("array<long>")),
            bands=17, rows_per_band=4, sig_len=64,
        )


def test_save_state_persists_config(spark, tmp_path, setup):
    """A state built under non-default blocking parameters must reload
    with THOSE parameters — the silent MatchConfig() fallback put batch
    keys in the wrong key space (missed matches, no error)."""
    import json
    from dataclasses import asdict, replace

    from entitymatch_spark.plans.incremental import load_state, save_state

    state = setup["st0"]
    custom = replace(state.cfg, num_hashes=32, bands=8, rows_per_band=4, seed=7)
    p = str(tmp_path / "st_cfg")
    save_state(replace(state, cfg=custom), p)
    loaded = load_state(spark, p)
    assert (loaded.cfg.num_hashes, loaded.cfg.bands, loaded.cfg.seed) == (32, 8, 7)
    # a cfg saved by an older writer still carries options MatchConfig
    # no longer has; the load drops them instead of crashing
    raw = dict(
        asdict(custom), oversize_policy="purge", cascade_min_jaccard=None,
        score_partitions="auto", lev_prefix=128,
    )
    from entitymatch_spark.plans.incremental import _StateDir

    d = _StateDir(spark, p)
    m = d.manifest()
    m["config"] = json.loads(json.dumps(raw))
    m["generation"] += 1
    d.publish(m)
    legacy = load_state(spark, p).cfg
    assert (legacy.num_hashes, legacy.bands, legacy.seed) == (32, 8, 7)
    # and the loaded state remembers where it came from
    assert loaded.source == (f"file:{p}", (m["id"],))


def test_save_state_in_place(spark, tmp_path, setup):
    """Saving a state over the path it was loaded from is safe however
    the path is spelled: the save writes fresh directories and never
    touches the ones the state's plans read. A publish removes unlisted
    directories of its generation or older, and keeps a later
    generation's (another writer may be writing them)."""
    p = tmp_path / "st_own"
    with pytest.raises(ValueError, match="manifest"):  # nothing saved yet
        load_state(spark, str(p))
    save_state(setup["st0"], str(p))
    # a killed write of generation 2 and a later writer's generation 99
    (p / "docs" / "g000002-killed").mkdir()
    (p / "docs" / "g000099-writing").mkdir()
    want = _state_rows(setup["st0"])
    for spelling in (str(p), f"{p}/", f"file://{p}"):
        save_state(load_state(spark, str(p)), spelling)
        assert _state_rows(load_state(spark, spelling)) == want, spelling
    # a publish removes its own generation's leftovers, not a later one's
    assert not (p / "docs" / "g000002-killed").exists()
    assert (p / "docs" / "g000099-writing").exists()


def test_commit_diverged_state_full_snapshot(spark, tmp_path, setup):
    """remove_docs changes a loaded state in memory only; a grow of it
    must not commit as a delta (that would skip the removal). It
    commits as a full snapshot that reloads equal to the state."""
    from entitymatch_spark.plans.incremental import (
        commit_increment,
        incremental_match,
        remove_docs,
    )

    path = str(tmp_path / "st_div")
    save_state(setup["st0"], path)
    loaded = load_state(spark, path)
    shrunk = remove_docs(loaded, loaded.docs.select("doc_id").limit(3))
    assert shrunk.source is None
    res = incremental_match(shrunk, setup["batch"])
    commit_increment(res, path)
    assert _state_rows(load_state(spark, path)) == _state_rows(res.state)


def test_upsert_dedups_batch_by_newest_warc_ts(spark, setup):
    """The same url twice in one batch (re-crawl shape): only the
    newest warc_ts row survives; without warc_ts duplicates refuse."""
    import pytest
    from pyspark.sql import functions as F

    from entitymatch_spark.plans.incremental import upsert_pages

    state, batch = setup["st0"], setup["batch"]
    one = batch.limit(1)
    dup = one.unionByName(
        one.withColumn("warc_ts", F.col("warc_ts") - F.expr("interval 1 day"))
        .withColumn("text", F.concat(F.col("text"), F.lit(" STALE")))
    )
    res = upsert_pages(state, dup)
    url = one.collect()[0][state.cfg.id_col]
    rows = res.state.docs.filter(F.col("doc_id") == url).collect()
    assert len(rows) == 1
    assert "stale" not in (rows[0]["norm_text"] or "")

    with pytest.raises(ValueError, match="duplicate"):
        upsert_pages(state, dup.drop("warc_ts"))


def _tiny_state(spark, ids, cfg):
    """A hand-built MatchState over doc ids ``ids`` (no pipeline)."""
    from entitymatch_spark.plans.incremental import MatchState

    def df(rows, ddl):
        return spark.createDataFrame(rows, ddl)

    first = f"d{min(ids)}"
    return MatchState(
        docs=df(
            [(f"d{i}", f"tok{i} common", [f"tok{i}", "common"]) for i in ids],
            "doc_id string, norm_text string, tokens array<string>",
        ),
        keys=df([(f"d{i}", f"k{i % 2}") for i in ids], "doc_id string, key string"),
        idf=df([("common", 3, 0.5)], "token string, df long, idf double"),
        clusters=df(
            [(f"d{i}", first) for i in ids], "doc_id string, cluster_id string"
        ),
        cfg=cfg,
        scored=df(
            [(first, f"d{i}", 0.9) for i in ids if f"d{i}" != first],
            "id_a string, id_b string, score double",
        ),
    )


def test_kill_at_every_write_leaves_old_or_new_state(spark, tmp_path, monkeypatch):
    """A kill at any write of save_state or commit_increment leaves the
    stored state exactly as it was, a retry succeeds, and its publish
    removes every directory the killed write left. Each run works on a
    shutil.copytree copy of a saved state, which must load from its own
    files and commit; the originals stay unchanged."""
    import shutil
    from dataclasses import replace
    from pathlib import Path

    from pyspark.sql import DataFrameWriter

    from entitymatch_spark.plans import store
    from entitymatch_spark.plans.incremental import IncrementalResult, commit_increment
    from entitymatch_spark.plans.store import _StateDir

    cfg = MatchConfig(threshold=0.7)
    s0 = _tiny_state(spark, [1, 2, 3], cfg)
    s1 = _tiny_state(spark, [1, 2, 4, 5], cfg)
    delta = _tiny_state(spark, [6, 7], cfg)
    base0, base1 = tmp_path / "base0", tmp_path / "base1"
    save_state(s0, str(base0))
    shutil.copytree(base0, base1)
    save_state(s1, str(base1))
    originals = sorted(str(f) for b in (base0, base1) for f in b.rglob("*"))

    def grow(work):
        """A grow result over the state at ``work``, built by hand:
        batch docs d6, d7 join d1's cluster."""
        loaded = load_state(spark, work)
        assert all(f"{work}/" in f for f in loaded.docs.inputFiles())
        clusters = spark.createDataFrame(
            [(f"d{i}", "d1") for i in (1, 2, 4, 5, 6, 7)],
            "doc_id string, cluster_id string",
        )
        root, ids = loaded.source
        state = replace(
            loaded,
            docs=loaded.docs.unionByName(delta.docs),
            keys=loaded.keys.unionByName(delta.keys),
            clusters=clusters,
            scored=loaded.scored.unionByName(delta.scored),
            source=(root, (*ids, "grown")),
        )
        return IncrementalResult(
            state=state, new_docs=delta.docs, new_keys=delta.keys,
            pairs=delta.scored, scored=delta.scored, matches=delta.scored,
            affected_clusters=clusters.select("cluster_id").distinct(),
            cluster_changed=clusters,
        )

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

    want0, want1 = _state_rows(s0), _state_rows(s1)
    want2 = _state_rows(grow(str(base1)).state)
    # the save over base0 writes 5 parts and renames once; the commit
    # over base1 writes 4 parts and renames once. The last kill_at of
    # each runs clean and checks that count.
    for base, op, old, new, points in (
        (base0, lambda w: save_state(s1, w), want0, want1, 6),
        (base1, lambda w: commit_increment(grow(w), w), want1, want2, 5),
    ):
        for kill_at in range(1, points + 2):
            work = str(tmp_path / f"{base.name}_kill{kill_at}")
            shutil.copytree(base, work)
            calls.update(n=0, kill_at=kill_at)
            try:
                op(work)
            except Killed:
                assert _state_rows(load_state(spark, work)) == old, kill_at
                calls["kill_at"] = 0
                op(work)  # the retry
            else:
                assert (kill_at, calls["n"]) == (points + 1, points)
            assert _state_rows(load_state(spark, work)) == new, kill_at

            d = _StateDir(spark, work)
            top = d.manifest()
            listed = {
                rel for m in (top, d.manifest(top["generation"] - 1))
                for rels in m["parts"].values() for rel in rels
            }
            on_disk = {
                f"{p.parent.name}/{p.name}"
                for p in Path(work).glob("*/*") if p.is_dir()
            }
            assert on_disk == listed, kill_at
            assert not list(Path(work).glob("*.tmp")), kill_at

    monkeypatch.undo()
    assert sorted(str(f) for b in (base0, base1) for f in b.rglob("*")) == originals
