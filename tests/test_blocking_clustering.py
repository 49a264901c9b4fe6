from __future__ import annotations

import itertools
import random
from collections import Counter

import pytest
from pyspark.sql import functions as F

from conftest import broadcast_off
from entitymatch_spark.operators.blocking import (
    candidate_pairs,
    lsh_band_keys,
    minhash_signature,
    prune_oversized_blocks,
    token_blocking_keys,
)
from entitymatch_spark.operators.clustering import assign_clusters, connected_components
from entitymatch_spark.operators.posting import build_posting, token_idf


def test_token_blocking_and_purge(spark):
    docs = spark.createDataFrame(
        [(i, ["common"] + ([f"rare{i % 3}"] if i < 9 else [])) for i in range(40)],
        "doc_id long, tokens array<string>",
    )
    posting = build_posting(docs)
    idf = token_idf(posting, n_docs=40)
    keys = token_blocking_keys(posting, idf, min_idf=1.0)
    ks = {(r["doc_id"], r["key"]) for r in keys.collect()}
    # 'common' (df=40) floors at 1e-5 -> not a key; rare tokens (df=3) are
    assert all(k.startswith("tok:rare") for _, k in ks)
    assert len(ks) == 9
    pairs = candidate_pairs(keys, max_block=64).collect()
    # 3 blocks of 3 docs -> 3 pairs each
    assert len(pairs) == 9
    assert all(r["id_a"] < r["id_b"] for r in pairs)

    # purging drops a block over the cap
    pruned = prune_oversized_blocks(keys, max_block=2)
    assert pruned.count() == 0  # every rare block has 3 members > cap 2


def test_token_keys_from_docs_matches_posting_form(spark):
    """token_blocking_keys_from_docs (narrow: per-doc array_distinct +
    broadcast join, zero shuffle) must emit exactly the same (doc, key)
    set as the posting-based form with its global distinct."""
    from entitymatch_spark.functions.text import tokenize
    from entitymatch_spark.operators.blocking import token_blocking_keys_from_docs
    from entitymatch_spark.operators.posting import build_posting, token_idf

    rows = [
        (0, "alpha beta beta gamma zeta"),
        (1, "alpha beta delta delta"),
        (2, "gamma zeta zeta unique"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string").select(
        "doc_id", tokenize("text").alias("tokens")
    )
    posting = build_posting(docs)
    idf = token_idf(posting, n_docs=3)
    a = {(r["doc_id"], r["key"])
         for r in token_blocking_keys(posting, idf, min_idf=0.0).collect()}
    b = {(r["doc_id"], r["key"])
         for r in token_blocking_keys_from_docs(docs, idf, min_idf=0.0).collect()}
    assert a == b and a
    # per-doc dedup: repeated tokens yield ONE key row each
    from collections import Counter
    c = Counter(r["doc_id"] for r in
                token_blocking_keys_from_docs(docs, idf, min_idf=0.0).collect())
    assert c[0] == 4 and c[1] == 3 and c[2] == 3


def test_minhash_deterministic_and_partition_independent(spark):
    rng = random.Random(5)
    rows = [(i, [f"t{rng.randrange(50)}" for _ in range(rng.randint(3, 15))]) for i in range(60)]
    docs = spark.createDataFrame(rows, "doc_id long, tokens array<string>")
    s1 = {r["doc_id"]: r["sig"] for r in minhash_signature(docs).collect()}
    s2 = {
        r["doc_id"]: r["sig"]
        for r in minhash_signature(docs.repartition(7)).collect()
    }
    assert s1 == s2
    # token order / duplicates must not matter (set semantics)
    shuffled = spark.createDataFrame(
        [(i, list(reversed(t)) + [t[0]]) for i, t in rows],
        "doc_id long, tokens array<string>",
    )
    s3 = {r["doc_id"]: r["sig"] for r in minhash_signature(shuffled).collect()}
    assert s1 == s3
    assert all(len(v) == 64 for v in s1.values())


def test_minhash_fold_matches_python_reference(spark):
    """The aggregate()-fold signature (md5 portable hash) must equal an
    exact pure-Python computation of the same math on randomized token
    multisets — pins the fold arithmetic independent of any Spark
    expression path."""
    import hashlib

    from entitymatch_spark.operators.blocking import MERSENNE_31, minhash_coeffs

    rng = random.Random(123)
    vocab = ["tok%d" % i for i in range(60)] + ["unié%d" % i for i in range(5)]
    rows = [
        (i, [rng.choice(vocab) for _ in range(rng.randrange(1, 25))])
        for i in range(120)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, tokens array<string>")
    got = {
        r["doc_id"]: r["sig"]
        for r in minhash_signature(docs, num_hashes=16, seed=7, token_hash="md5").collect()
    }

    coeffs = minhash_coeffs(16, 7)

    def py_sig(tokens):
        hs = [
            int(hashlib.md5(t.encode()).hexdigest()[:15], 16) % MERSENNE_31
            for t in dict.fromkeys(tokens)
        ]
        return [min((a * h + b) % MERSENNE_31 for h in hs) for a, b in coeffs]

    for i, toks in rows:
        assert got[i] == py_sig(toks), i


def test_simhash_fold_matches_explode_reference(spark):
    """The zero-shuffle per-row SimHash fold must equal the explode +
    64-column signed-sum aggregate it replaced, on randomized token
    multisets (duplicates included — tf weighting must survive)."""
    from entitymatch_spark.operators.dedup import simhash_signature

    rng = random.Random(321)
    vocab = ["w%d" % i for i in range(40)]
    rows = [
        (i, [rng.choice(vocab) for _ in range(rng.randrange(1, 30))])
        for i in range(150)
    ] + [(999, [])]
    docs = spark.createDataFrame(rows, "doc_id long, tokens array<string>")

    exploded = docs.select(
        F.col("doc_id"), F.explode("tokens").alias("token")
    ).withColumn("h", F.xxhash64("token"))
    sums = [
        F.sum(
            F.when(F.shiftright("h", i).bitwiseAND(F.lit(1)) == 1, F.lit(1))
            .otherwise(F.lit(-1))
        ).alias(f"b{i}")
        for i in range(64)
    ]
    agg = exploded.groupBy("doc_id").agg(*sums)
    sig = None
    for i in range(64):
        bit = F.when(
            F.col(f"b{i}") > 0, F.shiftleft(F.lit(1).cast("long"), i)
        ).otherwise(F.lit(0).cast("long"))
        sig = bit if sig is None else sig.bitwiseOR(bit)
    ref = {r["doc_id"]: r["s"] for r in agg.select("doc_id", sig.alias("s")).collect()}

    got = {r["doc_id"]: r["simhash"] for r in simhash_signature(docs).collect()}
    assert got == ref  # 999 (empty) absent from both


def test_minhash_similarity_correlation(spark):
    # identical token sets -> identical signatures; disjoint -> collide rarely
    docs = spark.createDataFrame(
        [
            (0, [f"a{i}" for i in range(20)]),
            (1, [f"a{i}" for i in range(20)]),                      # dup of 0
            (2, [f"a{i}" for i in range(16)] + [f"b{i}" for i in range(4)]),  # ~0.67 jacc
            (3, [f"c{i}" for i in range(20)]),                      # disjoint
        ],
        "doc_id long, tokens array<string>",
    )
    sig = {r["doc_id"]: r["sig"] for r in minhash_signature(docs).collect()}
    eq = lambda x, y: sum(a == b for a, b in zip(sig[x], sig[y])) / 64
    assert eq(0, 1) == 1.0
    assert eq(0, 2) > 0.4
    assert eq(0, 3) < 0.15
    # LSH band keys: dup pair collides on every band, disjoint on none
    keys = lsh_band_keys(minhash_signature(docs))
    k = keys.groupBy("key").agg(F.collect_set("doc_id").alias("ids")).collect()
    together01 = sum(1 for r in k if 0 in r["ids"] and 1 in r["ids"])
    together03 = sum(1 for r in k if 0 in r["ids"] and 3 in r["ids"])
    assert together01 == 16 and together03 == 0


def _uf_components(n, edges):
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    comp = {}
    for i in range(n):
        comp.setdefault(find(i), []).append(i)
    return {min(v): sorted(v) for v in comp.values()}


@pytest.fixture(params=["driver", "loop"])
def cc_path(request, spark):
    """Each side of connected_components' driver bound: 'loop' turns
    broadcasts off, so the large-star/small-star loop runs."""
    if request.param == "loop":
        with broadcast_off(spark):
            yield request.param
    else:
        yield request.param


def _components(e, path):
    comp = connected_components(e, "src", "dst")
    plan = comp._jdf.queryExecution().optimizedPlan().toString()
    assert ("LocalRelation" in plan) == (path == "driver"), plan
    return comp


def test_connected_components_vs_union_find(spark, cc_path):
    rng = random.Random(11)
    n = 400
    edges = [(rng.randrange(200), rng.randrange(200)) for _ in range(150)]
    edges += [(i, i + 1) for i in range(50, 80)]  # a long chain
    # a longer chain, ids descending: the driver finish's first hook
    # leaves a 149-link pointer chain, flattened in several jumps
    edges += [(i, i - 1) for i in range(399, 250, -1)]
    edges = [(u, v) for u, v in edges if u != v]
    e = spark.createDataFrame(edges, "src long, dst long")
    got_rows = _components(e, cc_path).collect()
    got = {}
    for r in got_rows:
        got.setdefault(r["component"], []).append(r["id"])
    got = {k: sorted(v) for k, v in got.items()}

    want_all = _uf_components(n, edges)
    touched = {x for uv in edges for x in uv}
    want = {
        k: sorted(x for x in v if x in touched)
        for k, v in want_all.items()
        if any(x in touched for x in v)
    }
    assert got == want
    # component id is the min member
    assert all(k == min(v) for k, v in got.items())


def test_connected_components_string_ids(spark, cc_path):
    # Spark orders strings by UTF-8 bytes: "Z" < "a" < "z" < "é"
    e = spark.createDataFrame(
        [("b", "c"), ("c", "d"), ("x", "y"), ("a", "Z"), ("é", "z"),
         ("éa", "za"), ("za", "Za")],
        "src string, dst string",
    )
    comp = {r["id"]: r["component"] for r in _components(e, cc_path).collect()}
    assert comp == {
        "b": "b", "c": "b", "d": "b", "x": "x", "y": "x", "a": "Z", "Z": "Z",
        "é": "z", "z": "z", "éa": "Za", "za": "Za", "Za": "Za",
    }
    docs = spark.createDataFrame([("b",), ("d",), ("é",), ("lonely",)], "doc_id string")
    cl = {r["doc_id"]: r["cluster_id"] for r in assign_clusters(docs, _components(e, cc_path)).collect()}
    assert cl == {"b": "b", "d": "b", "é": "z", "lonely": "lonely"}


def test_connected_components_empty(spark, cc_path):
    e = spark.createDataFrame([], "src long, dst long")
    assert _components(e, cc_path).count() == 0


def test_hot_key_block_purged(spark):
    """Zipf-hot key: purge drops it entirely."""
    rows = [(i, "hot") for i in range(500)] + [(i, f"cold{i % 5}") for i in range(20)]
    keys = spark.createDataFrame(rows, "doc_id long, key string")

    purged = candidate_pairs(keys, max_block=50)
    p_pairs = {(r["id_a"], r["id_b"]) for r in purged.collect()}
    # hot block gone; only the 5 cold blocks of 4 docs each -> 5 * C(4,2)
    assert len(p_pairs) == 30
    assert all(a < 20 and b < 20 for a, b in p_pairs)


def test_candidate_pairs_old_keys(spark):
    """candidate_pairs(new, old_keys=old), the grow's expansion, emits
    the pairs of candidate_pairs(old ∪ new) minus those of
    candidate_pairs(old), n_keys and payloads included — also when a
    block crosses the cap only at its union size, which both sides
    purge."""
    schema = "doc_id long, key string, simhash long"

    def check(old_rows, new_rows, max_block, payload_cols=()):
        old = spark.createDataFrame(old_rows, schema)
        new = spark.createDataFrame(new_rows, schema)

        def pairs(keys, **kw):
            df = candidate_pairs(keys, max_block, payload_cols=payload_cols, **kw)
            return {tuple(r) for r in df.collect()}

        got = pairs(new, old_keys=old)
        old_pairs = {r[:2] for r in pairs(old)}
        union = pairs(old.unionByName(new))
        assert got == {r for r in union if r[:2] not in old_pairs}
        return got

    # no block crosses the cap: 12 keys over 40 docs (old 0-29, new
    # 30-39), and a duplicate (key, id) row on each side
    rng = random.Random(5)
    sim = {i: i * 7919 % 65536 for i in range(40)}
    rows = sorted({(i, f"k{rng.randrange(12)}", sim[i]) for i in sim for _ in range(3)})
    old_rows = [r for r in rows if r[0] < 30] + [rows[0]]
    new_rows = [r for r in rows if r[0] >= 30] + [rows[-1]]
    assert max(Counter(k for _, k, _ in old_rows + new_rows).values()) <= 32
    got = check(old_rows, new_rows, 32, payload_cols=["simhash"])
    assert got and all(b >= 30 for _, b, *_ in got)
    assert all((sa, sb) == (sim[a], sim[b]) for a, b, _, sa, sb in got)

    # block "x" has 3 old members (under the cap of 4) and 5 at union
    # size: purged, so its batch docs pair only through "y" and "z"
    old_rows = [(0, "x", 0), (1, "x", 0), (2, "x", 0), (3, "y", 0)]
    new_rows = [(30, "x", 0), (31, "x", 0), (32, "y", 0), (30, "z", 0), (33, "z", 0)]
    assert check(old_rows, new_rows, 4) == {(3, 32, 1), (30, 33, 1)}


def test_block_cap_in_pass_bounded_plan(spark):
    """The block cap runs in the same pass as the block collect: its
    size filter sits BELOW the collect_list aggregate (no buffer ever
    holds more than max_block members), the window's exchange on key
    is reused by the block groupBy, and the plan stays two Exchanges
    with no join."""
    # one hot key (6 members, over the cap of 4) + normal blocks +
    # duplicate (key, id) rows which must count toward the cap: "c"
    # has 3 distinct ids but 5 rows, so it is over the cap too
    rows = (
        [("hot", i) for i in range(6)]
        + [("a", 1), ("a", 2), ("a", 3)]
        + [("b", 7), ("b", 8), ("b", 8)]
        + [("c", 10), ("c", 11), ("c", 11), ("c", 12), ("c", 12)]
    )
    keys = spark.createDataFrame(rows, "key string, doc_id long")
    pairs = candidate_pairs(keys, max_block=4)
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert sorted(map(tuple, pairs.collect())) == [
        (1, 2, 1), (1, 3, 1), (2, 3, 1), (7, 8, 2),
    ]
    assert " Join" not in plan and "Join " not in plan, plan[:2000]
    assert plan.count("Exchange") == 2, plan[:2000]
    lines = plan.splitlines()
    last_collect = max(i for i, l in enumerate(lines) if "collect_list" in l)
    cap = [i for i, l in enumerate(lines) if "Filter" in l and "<= 4" in l]
    assert cap and min(cap) > last_collect, plan[:2000]
