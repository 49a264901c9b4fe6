"""Flagship Interpretations parity: the REPL scenario of the reference —
typos resolved via the spelling expander, synonyms via the synonym
table, maximal spans scored by IDF containment, top-k per position."""

from __future__ import annotations

import math
import re

import pytest
from pyspark import StorageLevel
from pyspark.sql import functions as F

from conftest import shuffles
from entitymatch_spark.plans.matcher import build_matcher_index, interpret


@pytest.fixture(scope="module")
def index(spark):
    ents = spark.createDataFrame(
        [
            (0, "DVD", "The Dark Knight"),
            (1, "DVD", "Dark Knight Rises"),
            (2, "DVD", "Mouse Hunt"),
            (3, "DVD", "watch"),
            (4, "DVD", "Mice Hunt"),
        ],
        "entity_id long, type string, phrase string",
    )
    return build_matcher_index(ents)


@pytest.fixture(scope="module")
def synonyms(spark):
    # the reference's own example map, identity included (replacement
    # semantics; TestMatcher/Program.cs:279)
    return spark.createDataFrame(
        [("mouse", "mouse", 1.0), ("mouse", "mice", 0.9)],
        "token string, alt_token string, weight double",
    )


def test_exact_phrase_match(spark, index):
    q = spark.createDataFrame([(1, "please watch the dark knight now")],
                              "query_id long, text string")
    out = interpret(q, index, spans_per_position=2, threshold=0.25).collect()
    got = {(r["entity_id"], r["start"], r["length"]): r["score"] for r in out}
    assert math.isclose(got[(0, 2, 3)], 1.0, rel_tol=1e-12)  # full phrase at qpos 2..4
    assert math.isclose(got[(3, 1, 1)], 1.0, rel_tol=1e-12)  # 'watch' entity


def test_typo_resolved_by_spelling(spark, index):
    # 'knigt' is distance-1 from 'knight' -> alternative at weight 0.5
    q = spark.createDataFrame([(7, "the dark knigt")], "query_id long, text string")
    out = interpret(q, index, spans_per_position=1, threshold=0.25).collect()
    best = {r["entity_id"]: r for r in out}
    assert 0 in best
    r = best[0]
    assert (r["start"], r["length"]) == (0, 3)
    # score < 1.0 because the typo'd token contributes 0.5 x idf
    assert 0.5 < r["score"] < 1.0


def test_synonym_expansion(spark, index, synonyms):
    # query 10's 'mous' is a typo of a synonym key: spelling reaches
    # 'mouse' at 0.5, then the map replaces it (mouse 0.5, mice 0.45)
    q = spark.createDataFrame([(9, "mouse hunt"), (10, "mous hunt")],
                              "query_id long, text string")
    no_syn = {
        (r["entity_id"], r["length"]): r["score"]
        for r in interpret(q, index, spans_per_position=3, threshold=0.2).collect()
        if r["query_id"] == 9
    }
    assert no_syn.get((2, 2)) == pytest.approx(1.0)  # exact 'Mouse Hunt'
    assert (4, 2) not in no_syn  # 'Mice Hunt' unreachable without synonyms
    out = interpret(
        q, index, synonyms=synonyms, spans_per_position=3, threshold=0.2
    ).collect()
    with_syn = {
        (r["entity_id"], r["length"]): r["score"]
        for r in out if r["query_id"] == 9
    }
    assert with_syn.get((2, 2)) == pytest.approx(1.0)  # identity kept (weight 1.0)
    full_mice = with_syn.get((4, 2))
    assert full_mice is not None and 0.5 < full_mice < 1.0  # mice @ 0.9 discounts

    typo = {(r["entity_id"], r["length"]): r["score"] for r in out if r["query_id"] == 10}
    idf = {r["token"]: r["idf"] for r in index.idf.collect()}

    def score(w, tok):  # 'tok' at weight w, then 'hunt' exact
        return (w * idf[tok] + idf["hunt"]) / (idf[tok] + idf["hunt"])

    assert typo.get((2, 2)) == pytest.approx(score(0.5, "mouse"), rel=1e-12)
    assert typo.get((4, 2)) == pytest.approx(score(0.5 * 0.9, "mice"), rel=1e-12)
    assert 0.0 < typo[(4, 2)] < typo[(2, 2)] < 1.0


def test_threshold_and_topk(spark, index):
    q = spark.createDataFrame([(3, "dark dark dark")], "query_id long, text string")
    out = interpret(q, index, spans_per_position=1, threshold=0.99).collect()
    assert out == []  # single shared token can't reach score 0.99
    out2 = interpret(q, index, spans_per_position=1, threshold=0.0).collect()
    # top-1 per (query, type, start): at most one span per start position
    starts = [(r["start"],) for r in out2]
    assert len(starts) == len(set(starts))


def test_request_is_a_broadcast_probe_with_one_shuffle(spark, index, synonyms):
    """A request probes the resident, entity-partitioned index with its
    broadcast query tokens: the span stage needs no exchange, so the
    plan's one shuffle is topk_spans' (query_id, type, start), and the
    request runs in a handful of Spark jobs."""
    q = spark.createDataFrame(
        [(1, "please watch the dark knight now"), (7, "the dark knigt"),
         (10, "mous hunt")],
        "query_id long, text string",
    )
    out = interpret(q, index, synonyms=synonyms, spans_per_position=2)
    sc = spark.sparkContext
    sc.setJobGroup("interpret-request", "one interpret request")
    try:
        assert out.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    found = shuffles(out._jdf.queryExecution().executedPlan())
    assert len(found) == 1, [x.toString() for x in found]
    keys = re.sub(r"#\d+L?", "", found[0].toString())
    assert "hashpartitioning(query_id, type, start," in keys, keys
    jobs = sc.statusTracker().getJobIdsForGroup("interpret-request")
    assert 0 < len(jobs) <= 8, len(jobs)


def test_index_unpersist(spark):
    ents = spark.createDataFrame(
        [(0, "DVD", "Mouse Hunt"), (1, "CD", "Hunt")],
        "entity_id long, type string, phrase string",
    )
    idx = build_matcher_index(ents)
    tables = [idx.posting, idx.idf, idx.totals, idx.vocab, idx.weighted_posting]
    assert all(t.storageLevel != StorageLevel.NONE for t in tables)
    idx.unpersist()
    assert [t.storageLevel for t in tables] == [StorageLevel.NONE] * len(tables)
