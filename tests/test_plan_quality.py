"""Physical-plan assertions: the plans we'd want at 100 TB, not just
plans that produce correct rows.

- filters/column pruning reach the parquet scan (PushedFilters/ReadSchema)
- dictionary joins go broadcast, big joins don't explode into Python
- the pair scorer does exactly ONE Arrow hop
- MinHash is a narrow plan (zero shuffle exchanges)
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry_mod

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_scan_pushdown(spark):
    df = entry_mod.queries()["scan_documents"](spark, SF)
    plan = _plan(df)
    assert "PushedFilters:" in plan and "GreaterThanOrEqual(n_chars,200)" in plan
    # column pruning: text is never read
    assert "text" not in plan.split("ReadSchema")[1][:200]


def test_minhash_is_narrow(spark):
    from entitymatch_spark.operators.blocking import minhash_signature

    docs = spark.createDataFrame(
        [(1, ["a", "b"]), (2, ["c"])], "doc_id long, tokens array<string>"
    )
    plan = _plan(minhash_signature(docs))
    assert "Exchange" not in plan  # per-row transform: zero shuffle


def test_simhash_signature_is_narrow(spark):
    """The per-row fold form must never reintroduce the per-doc
    signature shuffle (at 10^12 docs that exchange is ~0.5 PB)."""
    from entitymatch_spark.operators.dedup import simhash_signature

    docs = spark.createDataFrame(
        [(1, ["a", "b", "a"]), (2, ["c"])], "doc_id long, tokens array<string>"
    )
    plan = _plan(simhash_signature(docs))
    assert "Exchange" not in plan, plan[:1500]


def test_scorer_single_arrow_hop(spark):
    from entitymatch_spark.operators.scoring import score_pairs

    docs = spark.createDataFrame(
        [(1, "aa bb", ["aa", "bb"]), (2, "aa bb cc", ["aa", "bb", "cc"])],
        "doc_id long, norm_text string, tokens array<string>",
    )
    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    plan = _plan(score_pairs(pairs, docs, spark.sparkContext.broadcast({"aa": 1.0})))
    assert plan.count("ArrowEvalPython") == 1
    assert "BatchEvalPython" not in plan  # no row-at-a-time python


def test_idf_broadcast_in_spans(spark):
    from entitymatch_spark.functions.text import tokenize
    from entitymatch_spark.operators.posting import (
        build_posting, token_idf, total_token_weight,
    )
    from entitymatch_spark.operators.spans import extend_spans

    ents = spark.createDataFrame(
        [(1, "a b c"), (2, "b c d")], "entity_id long, phrase string"
    ).select("entity_id", tokenize("phrase").alias("tokens"))
    posting = build_posting(ents, id_col="entity_id")
    idf = token_idf(posting, n_docs=2)
    totals = total_token_weight(posting, idf, "entity_id")
    q = spark.createDataFrame([(1, 0, "b"), (1, 1, "c")], "query_id long, qpos int, token string")
    plan = _plan(extend_spans(q, posting, idf, totals))
    assert plan.count("BroadcastHashJoin") >= 2  # idf + totals broadcast


def test_topk_no_global_sort(spark):
    df = entry_mod.queries()["topk_per_group"](spark, SF)
    plan = _plan(df)
    # rank-limited window -> WindowGroupLimit pushdown, no global Sort of
    # everything into one partition
    assert "WindowGroupLimit" in plan


def test_candidate_join_is_equijoin(spark):
    from entitymatch_spark.operators.blocking import candidate_pairs

    keys = spark.createDataFrame(
        [(i, f"k{i % 3}") for i in range(30)], "doc_id long, key string"
    )
    plan = _plan(candidate_pairs(keys, max_block=10))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_candidate_pairs_single_pass(spark):
    """candidate_pairs must consume the key table ONCE (block groupBy +
    in-block expansion), never via the 3-reference self-join form: with
    purge the whole plan is exactly two shuffles (block grouping + pair
    dedup) and zero joins, so an expensive upstream (the 64-hash
    MinHash) is computed once without any persist."""
    from entitymatch_spark.operators.blocking import candidate_pairs, minhash_signature, lsh_band_keys

    docs = spark.createDataFrame(
        [(i, [f"t{j}" for j in range(i % 5 + 1)]) for i in range(20)],
        "doc_id long, tokens array<string>",
    )
    keys = lsh_band_keys(minhash_signature(docs))
    plan = _plan(candidate_pairs(keys, max_block=10))
    assert " Join" not in plan and "Join " not in plan, plan[:2000]
    assert plan.count("Exchange") == 2, plan[:2000]


def test_no_rowwise_python_in_any_contract_query(spark):
    """Sweep every contract query's physical plan: Python appears only
    as Arrow-batched evaluation (ArrowEvalPython / MapInPandas /
    FlatMapGroupsInPandas), never row-at-a-time BatchEvalPython."""
    qs = entry_mod.queries()
    offenders = {}
    for name, fn in sorted(qs.items()):
        df = fn(spark, SF)
        plan = _plan(df)
        if "BatchEvalPython" in plan:
            offenders[name] = "BatchEvalPython"
    assert not offenders, offenders


def test_autocomplete_plans(spark):
    """prefix_edit_lookup must broadcast the (tiny) query side — a
    shuffle join on prefix_len (a handful of distinct values) would be
    a skewed scale-killer; and both autocomplete ops must stay JVM-only
    with a group-limited window for the top-L cut."""
    from entitymatch_spark.operators.autocomplete import (
        complete_topl, prefix_edit_lookup,
    )

    vocab = spark.createDataFrame(
        [(w,) for w in ["match", "matcher", "watch", "watcher", "hatch"]],
        "token string",
    )
    q = spark.createDataFrame([("matc",)], "query string")
    plan = _plan(prefix_edit_lookup(q, vocab, max_edit=1))
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan
    assert "EvalPython" not in plan
    plan2 = _plan(complete_topl(q, vocab, max_edit=1, top_l=3))
    assert "EvalPython" not in plan2
    assert "WindowGroupLimit" in plan2  # rank-limited, no global sort


def test_streaming_match_plan_is_streamable(spark, tmp_path):
    """incremental_match must build a valid append-mode streaming plan:
    stream-side ops stateless/narrow, dedup the only stateful op."""
    from entitymatch_spark.operators.blocking import (
        lsh_band_keys, minhash_signature, token_blocking_keys,
    )
    from entitymatch_spark.operators.posting import build_posting, token_idf
    from entitymatch_spark.plans.pipeline import MatchConfig, prepare_docs
    from entitymatch_spark.sources.synthetic import corpus_to_spark, generate_corpus
    from entitymatch_spark.streaming.incremental import incremental_match

    cfg = MatchConfig()
    pages = corpus_to_spark(spark, generate_corpus(n_clusters=5, seed=9))["pages"]
    docs = prepare_docs(pages, cfg)
    idf = token_idf(build_posting(docs), n_docs=pages.count())
    keys = token_blocking_keys(build_posting(docs), idf)
    d = tmp_path / "p"
    pages.drop("cluster_id").write.parquet(str(d))
    stream = spark.readStream.schema(
        pages.drop("cluster_id").schema
    ).parquet(str(d))
    out = incremental_match(stream, docs, keys, idf, cfg)
    assert out.isStreaming  # plan validates as a streaming query
    q = (
        out.writeStream.format("noop").outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck")).start()
    )
    q.processAllAvailable()
    q.stop()


def test_pipeline_pair_layout_hash_sorted(spark):
    """The scored-pair layout must stay hash-by-id_a + local sort on
    (id_a, id_b): the Arrow scorer's per-batch doc-profile memo only
    pays off on sorted runs of id_a (measured ~2x at 105k docs / 5.1M
    pairs vs round-robin — plans/pipeline.py). A round-robin
    repartition here would silently regress scoring throughput with
    corpus size while every row stays correct.

    Two regimes, both pinned: under the default cache=True the sort
    materializes through the persist boundary; with cache=False
    Catalyst's EliminateSorts legally drops a Sort under the hydration
    joins, but the user-requested hash Exchange must still survive."""
    from entitymatch_spark.plans.pipeline import MatchConfig, match_pipeline
    from entitymatch_spark.sources.synthetic import corpus_to_spark, generate_corpus

    pages = corpus_to_spark(spark, generate_corpus(n_clusters=12, seed=3))["pages"]

    res = match_pipeline(pages, MatchConfig())
    res.scored.count()  # materialize the cache so the plan is final
    plan = _plan(res.scored)
    assert "hashpartitioning(id_a" in plan, plan[:2000]
    assert "Sort [id_a" in plan and "id_b" in plan.split("Sort [id_a")[1][:60], (
        plan[:2000]
    )
    for df in (res.docs, res.pairs, res.scored):
        df.unpersist()

    res2 = match_pipeline(pages, MatchConfig(cache=False))
    plan2 = _plan(res2.scored)
    assert "hashpartitioning(id_a" in plan2, plan2[:2000]


def test_scorer_uses_banded_levenshtein(spark):
    """The pair scorer's JVM feature must be the 3-arg banded
    levenshtein (O(band*len)), not the unbounded O(len^2) form."""
    from entitymatch_spark.operators.scoring import score_pairs

    docs = spark.createDataFrame(
        [(1, "aa bb", ["aa", "bb"]), (2, "aa bb cc", ["aa", "bb", "cc"])],
        "doc_id long, norm_text string, tokens array<string>",
    )
    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    plan = _plan(score_pairs(pairs, docs, spark.sparkContext.broadcast({"aa": 1.0})))
    assert "levenshtein" in plan
    # 3-arg form shows the band as the third (optional) argument
    assert "Some(32))" in plan, plan[plan.find("levenshtein"):][:200]


def test_incremental_semi_join_broadcasts_batch_side(spark):
    """Per-batch corpus touch = ONE narrow scan of the key table feeding
    a broadcast LeftSemi with the (tiny) batch key set as build side.
    The corpus keys must never shuffle or sort-merge-join before the
    semi — at 10^12 docs that exchange would be the whole key table."""
    from entitymatch_spark.plans.incremental import incremental_match, initial_state
    from entitymatch_spark.plans.pipeline import MatchConfig
    from entitymatch_spark.sources import corpus_to_spark, generate_corpus

    pages = corpus_to_spark(spark, generate_corpus(n_clusters=40, seed=3))["pages"]
    is_b = F.pmod(F.xxhash64(F.col("cluster_id").cast("string")), F.lit(5)) == 0
    st = initial_state(pages.filter(~is_b), MatchConfig())
    res = incremental_match(st, pages.filter(is_b))
    plan = _plan(res.pairs)
    semi = [ln for ln in plan.splitlines() if "LeftSemi" in ln]
    assert semi, plan[:2000]
    assert all("BroadcastHashJoin" in ln and "BuildRight" in ln for ln in semi), semi
    assert "SortMergeJoin" not in plan


def test_remove_docs_broadcasts_delete_set(spark):
    """Deletion's corpus touches must be broadcast anti/semi joins with
    the (tiny) delete set as build side — at 10^12 docs a shuffle of
    docs/keys/scored against the delete set would dwarf the operation.
    The surviving-table plans must carry no exchange of the corpus side
    beyond its scan."""
    from entitymatch_spark.plans.incremental import initial_state, remove_docs
    from entitymatch_spark.plans.pipeline import MatchConfig
    from entitymatch_spark.sources import corpus_to_spark, generate_corpus

    pages = corpus_to_spark(spark, generate_corpus(n_clusters=40, seed=3))["pages"]
    st = initial_state(pages, MatchConfig(cache=False))
    gone = pages.filter(F.pmod(F.xxhash64("url"), F.lit(7)) == 0).select("url")
    out = remove_docs(st, gone)
    for df in (out.docs, out.keys, out.scored):
        plan = _plan(df)
        anti = [ln for ln in plan.splitlines() if "LeftAnti" in ln]
        assert anti, plan[:2000]
        assert all(
            "BroadcastHashJoin" in ln and "BuildRight" in ln for ln in anti
        ), anti
        assert "SortMergeJoin" not in plan
