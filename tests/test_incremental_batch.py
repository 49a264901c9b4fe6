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
    loaded = load_state(spark, path, setup["cfg"])
    res = incremental_match(loaded, setup["batch"])
    assert _clusters(res.state.clusters) == _clusters(setup["full"].clusters)


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
    cut decides the edge set; clusters follow from one CC pass."""
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


def test_rethreshold_state_roundtrip(setup, spark, tmp_path):
    """scored persists with the state; a pre-scored-era save loads with
    scored=None and rethreshold refuses it loudly."""
    from entitymatch_spark.plans.incremental import rethreshold

    p = str(tmp_path / "st")
    save_state(setup["inc"].state, p)
    loaded = load_state(spark, p, setup["cfg"])
    assert loaded.scored is not None
    thr = rethreshold(loaded, threshold=0.70)
    direct = rethreshold(setup["inc"].state, threshold=0.70)
    assert _clusters(thr.clusters) == _clusters(direct.clusters)

    import shutil

    shutil.rmtree(f"{p}/scored")
    legacy = load_state(spark, p, setup["cfg"])
    assert legacy.scored is None
    with pytest.raises(ValueError, match="scored"):
        rethreshold(legacy, threshold=0.70)


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


def test_remove_docs_requires_scored(setup):
    from dataclasses import replace

    from entitymatch_spark.plans.incremental import remove_docs

    st = replace(setup["inc"].state, scored=None)
    with pytest.raises(ValueError, match="scored"):
        remove_docs(st, st.docs.select("doc_id").limit(1))


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


def test_state_catalog_roundtrip(spark, setup):
    """A catalog-name prefix persists the state as session-catalog
    tables (Iceberg on a real deployment) and a batch matched into the
    loaded state reproduces the full-recompute clusters."""
    prefix = "default.em_state_rt"
    save_state(setup["st0"], prefix)
    try:
        assert spark.catalog.tableExists(f"{prefix}_docs")
        assert spark.catalog.tableExists(f"{prefix}_scored")
        loaded = load_state(spark, prefix, setup["cfg"])
        assert loaded.scored is not None
        res = incremental_match(loaded, setup["batch"])
        assert _clusters(res.state.clusters) == _clusters(setup["full"].clusters)
    finally:
        for part in ("docs", "keys", "idf", "clusters", "scored", "cfg"):
            spark.sql(f"drop table if exists {prefix}_{part}")


def test_state_bucketed_keys_standing_side_never_shuffles(spark, setup):
    """save_state(key_buckets=) persists the standing key table
    hash-bucketed by ``key``: the per-batch old-side semi-join then
    Exchanges ONLY the batch side. At 10^12 docs the standing key
    table is the O(corpus) artifact — this layout is what keeps a
    daily batch from shuffling ~10^13 rows. Asserted on the physical
    plan with broadcast disabled (so the shuffle question is actually
    posed), then the incremental result over the bucketed state is
    value-checked against the full recompute."""
    import shutil
    from urllib.parse import urlparse

    from entitymatch_spark.plans.pipeline import blocking_keys

    prefix = "default.em_state_bk"
    parts = ("docs", "keys", "idf", "clusters", "scored", "cfg")
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    for part in parts:  # a dir left by a dead session blocks saveAsTable
        spark.sql(f"drop table if exists {prefix}_{part}")
        shutil.rmtree(f"{wh}/em_state_bk_{part}", ignore_errors=True)
    # bucket count == the session's shuffle partitions: below that,
    # DisableUnnecessaryBucketedScan re-shuffles both sides (docstring)
    save_state(setup["st0"], prefix, key_buckets=8)
    try:
        loaded = load_state(spark, prefix, setup["cfg"])
        batch_keys = (
            blocking_keys(
                prepare_docs(setup["batch"], setup["cfg"]), loaded.idf, loaded.cfg
            )
            .select("key")
            .distinct()
        )
        prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            j = loaded.keys.join(batch_keys, "key", "semi")
            plan = j._jdf.queryExecution().executedPlan().toString()
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
        assert "Bucketed: true" in plan, plan[:3000]
        standing_branch = plan[plan.find("Join") : plan.find("FileScan")]
        assert "Exchange" not in standing_branch, plan[:3000]
        assert plan.count("Exchange") >= 1  # the batch side still moves
        res = incremental_match(loaded, setup["batch"])
        assert _clusters(res.state.clusters) == _clusters(setup["full"].clusters)
    finally:
        for part in parts:
            spark.sql(f"drop table if exists {prefix}_{part}")


def test_bucketed_write_needs_catalog(tmp_path, setup):
    with pytest.raises(ValueError, match="catalog"):
        save_state(setup["st0"], str(tmp_path / "st"), key_buckets=8)


def test_commit_increment_in_place(spark, tmp_path, setup):
    """commit_increment appends the batch deltas to the stored state IN
    PLACE — prior data files stay untouched (the O(batch) commit
    evidence) — and the reloaded state equals the in-memory grown one."""
    from pathlib import Path

    from entitymatch_spark.plans.incremental import commit_increment

    path = str(tmp_path / "state")
    save_state(setup["st0"], path)
    files_before = {
        part: sorted(p.name for p in (Path(path) / part).glob("*.parquet"))
        for part in ("docs", "keys", "scored")
    }
    loaded = load_state(spark, path, setup["cfg"])
    res = incremental_match(loaded, setup["batch"])
    commit_increment(res, path)
    for part, before in files_before.items():
        after = sorted(p.name for p in (Path(path) / part).glob("*.parquet"))
        assert set(before) <= set(after), part  # appended, never rewritten
        assert len(after) > len(before), part
    grown = load_state(spark, path, setup["cfg"])
    exp = setup["inc"].state
    assert _clusters(grown.clusters) == _clusters(exp.clusters)
    assert sorted(r.doc_id for r in grown.docs.select("doc_id").collect()) == sorted(
        r.doc_id for r in exp.docs.select("doc_id").collect()
    )
    assert sorted((r.doc_id, r.key) for r in grown.keys.collect()) == sorted(
        (r.doc_id, r.key) for r in exp.keys.collect()
    )
    assert _pairs(grown.scored) == _pairs(exp.scored)


def test_commit_increment_rejects_upsert(tmp_path, setup):
    from entitymatch_spark.plans.incremental import commit_increment, upsert_pages

    res = upsert_pages(setup["st0"], setup["batch"].limit(3))
    with pytest.raises(ValueError, match="append-only"):
        commit_increment(res, str(tmp_path / "nope"))


def test_commit_increment_catalog_fallback(spark, setup):
    """On a catalog without row-level DELETE (the session catalog) the
    clusters leg falls back — narrowly, through the capability check —
    to a full overwrite; the delta appends still apply, and the
    reloaded state equals the grown one."""
    from entitymatch_spark.plans.incremental import commit_increment

    prefix = "default.em_state_ci"
    parts = ("docs", "keys", "idf", "clusters", "scored", "cfg")
    for part in parts:
        spark.sql(f"drop table if exists {prefix}_{part}")
    save_state(setup["st0"], prefix)
    try:
        loaded = load_state(spark, prefix, setup["cfg"])
        res = incremental_match(loaded, setup["batch"])
        commit_increment(res, prefix)
        grown = load_state(spark, prefix, setup["cfg"])
        exp = setup["inc"].state
        assert _clusters(grown.clusters) == _clusters(exp.clusters)
        assert grown.docs.count() == exp.docs.count()
        assert _pairs(grown.scored) == _pairs(exp.scored)
    finally:
        for part in parts:
            spark.sql(f"drop table if exists {prefix}_{part}")


def test_commit_increment_bucketed_keys(spark, setup):
    """THE documented 10^12 combination: save_state(key_buckets=) then
    commit_increment. The keys append must re-state the stored table's
    bucket spec (a plain append refuses with 'Specified bucketing does
    not match that of the existing table') and the table must STAY
    bucketed so the next batch's standing-side scan remains
    shuffle-free."""
    import shutil
    from urllib.parse import urlparse

    from entitymatch_spark.plans.incremental import commit_increment
    from entitymatch_spark.sources.readers import _existing_bucket_spec

    prefix = "default.em_state_cib"
    parts = ("docs", "keys", "idf", "clusters", "scored", "cfg")
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    for part in parts:
        spark.sql(f"drop table if exists {prefix}_{part}")
        shutil.rmtree(f"{wh}/em_state_cib_{part}", ignore_errors=True)
    save_state(setup["st0"], prefix, key_buckets=8)
    try:
        loaded = load_state(spark, prefix, setup["cfg"])
        res = incremental_match(loaded, setup["batch"])
        commit_increment(res, prefix)
        assert _existing_bucket_spec(spark, f"{prefix}_keys") == (
            8, ["key"], ["key"],
        )
        grown = load_state(spark, prefix, setup["cfg"])
        exp = setup["inc"].state
        assert sorted((r.doc_id, r.key) for r in grown.keys.collect()) == sorted(
            (r.doc_id, r.key) for r in exp.keys.collect()
        )
        assert _clusters(grown.clusters) == _clusters(exp.clusters)
    finally:
        for part in parts:
            spark.sql(f"drop table if exists {prefix}_{part}")


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
    assert st.match_model is model
    gone = (
        st.docs.select("doc_id")
        .filter(F.pmod(F.xxhash64("doc_id"), F.lit(4)) == 1)
    )
    out = remove_docs(st, gone)
    assert out.match_model is model  # predicate survives the delete

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
    edges with the model, not the affine cut, and the grown state still
    carries the model."""
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
    assert res.state.match_model is model
    assert "p_match" in res.matches.columns  # model predicate decided
    got = {(r.id_a, r.id_b) for r in res.matches.select("id_a", "id_b").collect()}
    want = {
        (r.id_a, r.id_b)
        for r in model.matches(res.scored).select("id_a", "id_b").collect()
    }
    assert got == want


def test_load_state_file_uri(spark, tmp_path, setup):
    """The scored-table existence probe must go through Hadoop's
    FileSystem (answers for s3a://, hdfs://, file://), not a
    driver-local Path.exists() that is always False for URIs — which
    silently loaded scored=None from a save that has the table."""
    path = "file://" + str(tmp_path / "st_uri")
    save_state(setup["st0"], path)
    loaded = load_state(spark, path, setup["cfg"])
    assert loaded.scored is not None
    assert loaded.docs.count() == setup["st0"].docs.count()


def test_commit_increment_without_scored_state(spark, tmp_path, setup):
    """A state built without scored persistence commits without paying
    the scored delta's eager materialization (and without writing a
    scored table)."""
    from dataclasses import replace
    from pathlib import Path

    from entitymatch_spark.plans.incremental import commit_increment

    path = str(tmp_path / "st_ns")
    save_state(replace(setup["st0"], scored=None), path)
    loaded = load_state(spark, path, setup["cfg"])
    assert loaded.scored is None
    res = incremental_match(loaded, setup["batch"])
    commit_increment(res, path)
    assert not (Path(path) / "scored").exists()
    grown = load_state(spark, path, setup["cfg"])
    assert grown.scored is None
    assert _clusters(grown.clusters) == _clusters(setup["inc"].state.clusters)


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
    spark.createDataFrame([(json.dumps(raw),)], "cfg_json string").write.mode(
        "overwrite"
    ).parquet(f"{p}/cfg")
    legacy = load_state(spark, p).cfg
    assert (legacy.num_hashes, legacy.bands, legacy.seed) == (32, 8, 7)
    # explicit cfg argument still wins
    forced = load_state(spark, p, cfg=state.cfg)
    assert forced.cfg.num_hashes == state.cfg.num_hashes
    # and the loaded state remembers where it came from
    assert loaded.source_path == p


def test_save_state_refuses_own_source(spark, tmp_path, setup):
    import pytest

    from entitymatch_spark.plans.incremental import load_state, save_state

    p = str(tmp_path / "st_own")
    save_state(setup["st0"], p)
    loaded = load_state(spark, p)
    with pytest.raises(ValueError, match="own source"):
        save_state(loaded, p)
    save_state(loaded, str(tmp_path / "st_own2"))  # fresh target fine


def test_commit_refuses_diverged_state(spark, tmp_path, setup):
    """remove_docs mutates the state in memory only; growing and then
    delta-committing that state must refuse (the commit would silently
    skip the removal)."""
    import pytest
    from pyspark.sql import functions as F

    from entitymatch_spark.plans.incremental import (
        commit_increment,
        incremental_match,
        remove_docs,
    )

    state, batch = setup["st0"], setup["batch"]
    some = state.docs.select("doc_id").limit(3)
    shrunk = remove_docs(state, some)
    assert not shrunk.storage_synced
    res = incremental_match(shrunk, batch)
    with pytest.raises(ValueError, match="diverged"):
        commit_increment(res, str(tmp_path / "nope2"))


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
