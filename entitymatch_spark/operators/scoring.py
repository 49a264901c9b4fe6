"""Batched pair scoring: Jaro-Winkler + Levenshtein + TF-IDF cosine.

Candidate pairs are hydrated with PER-DOC precomputed slices (prefix
strings, distinct token set, joined token string) via two equi-joins
against the docs table — docs << pairs, so anything computable per doc
is never recomputed per pair, and the per-pair projection stays
allocation-light (GC pressure from fat per-pair projections measurably
serializes an executor's task slots).

Feature split between JVM and Arrow:

- ``lev_sim``  — built-in BANDED ``levenshtein(a, b, band)`` on
  length-capped prefixes, whole-stage codegen, no Python. Cap and band
  mirror the reference's MAX_LEN=128 guard + Ukkonen band
  (ref: AutoComplete/Common/EditDistance.cs:13,31-103) — unbounded
  O(n^2) DP on web-page-sized strings would dominate the stage at
  100 TB; distances beyond the band score 0.0.
- ``jaccard``  — one array_intersect on pre-distinct sets; union size
  is arithmetic (|A|+|B|-|A∩B|), never a materialized array.
- ``jw``, ``cosine``, ``containment`` — ONE Arrow-batched pandas UDF
  returning a struct (one Python hop per batch, never per row). The
  IDF dictionary rides a Spark broadcast into the executors
  (north_star: broadcast IDF dictionary), created and released by the
  caller.

The combined score is a fixed affine blend (weights below, calibrated
on the labeled fixture — tests assert pairwise F1 >= 0.99); the
reference analog is the containment threshold at span finalization
(ref: Recognizer.cs:55-64).
"""

from __future__ import annotations

import pandas as pd
from pyspark import Broadcast
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from entitymatch_spark.functions.similarity import (
    jaro_profile,
    jaro_winkler_with_profile,
    tfidf_pair_from_profiles,
    tfidf_profile,
)

DEFAULT_WEIGHTS = {
    "cosine": 0.35,
    "jw": 0.20,
    "lev_sim": 0.15,
    "jaccard": 0.15,
    "containment": 0.15,
}
DEFAULT_THRESHOLD = 0.60
LEV_PREFIX = 128  # chars compared by the JVM levenshtein (ref MAX_LEN=128)
# Banded edit-distance bound (ref: the reference's own Ukkonen band,
# AutoComplete/Common/EditDistance.cs:31-103). Distances above the band
# score lev_sim = 0.0: true near-dups sit well inside it (sim >= 0.75
# at band 32 / prefix 128), and the JVM cost drops from O(len^2) to
# O(band*len) — measured 1.5x whole-stage throughput at sf0.1.
LEV_BAND = 32
JW_PREFIX = 256   # chars compared by Jaro-Winkler (O(n^2) window scan)


def _pair_udf(idf_bcast, default_idf: float = 1e-5):
    """Arrow payload: ids + prefix-capped texts + SPACE-JOINED token
    strings (split back in Python). A string column transfers as one
    contiguous buffer; an array<string> column materializes one child
    object per token on both sides of the Arrow boundary — measured
    ~1.8x whole-stage throughput difference at sf0.1. Tokens come from
    ``\\w+`` so they cannot contain whitespace; split() is lossless."""

    def batch(
        id_a: pd.Series,
        id_b: pd.Series,
        text_a: pd.Series,
        text_b: pd.Series,
        toks_a: pd.Series,
        toks_b: pd.Series,
    ) -> pd.DataFrame:
        idf = idf_bcast.value
        # Each doc appears in many candidate pairs; profile (token counts,
        # tf*idf weights, norms — and the jaro char-occurrence lists)
        # once per doc id per Arrow batch.
        profiles: dict = {}
        jprofiles: dict = {}

        def prof(doc_id, toks):
            p = profiles.get(doc_id)
            if p is None:
                p = tfidf_profile(toks.split() if toks else [], idf, default_idf)
                profiles[doc_id] = p
            return p

        def jprof(doc_id, text):
            p = jprofiles.get(doc_id)
            if p is None:
                p = jaro_profile(text)
                jprofiles[doc_id] = p
            return p

        jws, cosines, conts = [], [], []
        for ia, ib, ta, tb, ka, kb in zip(
            id_a, id_b, text_a, text_b, toks_a, toks_b
        ):
            ta = (ta or "")[:JW_PREFIX]
            tb = (tb or "")[:JW_PREFIX]
            # Jaro is symmetric: iterate the SHORTER string and profile
            # the longer — the char loop shrinks and the profile cache
            # serves a doc no matter which side of the pair it lands on
            # (ids repeat on both sides across a batch). Measured 1.08x
            # median (alternating-order, 6 rounds) on the JW leg over
            # sf0.1 norm texts; scores identical by symmetry.
            if len(ta) > len(tb):
                jws.append(jaro_winkler_with_profile(tb, ta, jprof(ia, ta)))
            else:
                jws.append(jaro_winkler_with_profile(ta, tb, jprof(ib, tb)))
            cos, cont = tfidf_pair_from_profiles(
                prof(ia, ka), prof(ib, kb), idf, default_idf
            )
            cosines.append(cos)
            conts.append(cont)
        return pd.DataFrame({"jw": jws, "cosine": cosines, "containment": conts})

    return F.pandas_udf(batch, "struct<jw:double,cosine:double,containment:double>")


def hydration_exprs(
    suffix: str,
    text_col: str = "norm_text",
    tokens_col: str = "tokens",
) -> list:
    """The four per-doc hydration columns score_hydrated consumes
    (``jwt_/levt_/toksj_/toksd_<suffix>``) as bare expressions. ONE
    place defines them: hydration_side below projects them from a docs
    table, and plans.pipeline.score_stage splices them into the
    streaming matcher's pair rows (a stream cannot be re-joined to
    itself, so its side cannot go through hydration_side) — a schema
    change here reaches both paths."""
    return [
        F.substring(text_col, 1, JW_PREFIX).alias(f"jwt_{suffix}"),
        F.substring(text_col, 1, LEV_PREFIX).alias(f"levt_{suffix}"),
        F.array_join(tokens_col, " ").alias(f"toksj_{suffix}"),
        F.array_distinct(tokens_col).alias(f"toksd_{suffix}"),
    ]


def hydration_side(docs: DataFrame, suffix: str) -> DataFrame:
    """Per-DOC precompute for one side of the pair scorer: prefix
    slices, distinct token set, joined token string (docs << pairs, so
    anything computable per doc is never recomputed per pair)."""
    return docs.select(F.col("doc_id").alias(f"id_{suffix}"), *hydration_exprs(suffix))


def score_pairs(
    pairs: DataFrame,
    docs: DataFrame,
    idf_bcast: Broadcast,
    weights: dict[str, float] | None = None,
    default_idf: float = 1e-5,
) -> DataFrame:
    """Score (id_a, id_b) candidate pairs against docs(doc_id,
    norm_text, tokens).

    ``idf_bcast``: the broadcast IDF dictionary (token -> idf), owned
    and destroyed by the caller (plans.pipeline.broadcast_idf_map).

    Returns pairs + feature columns + blended ``score``; the match cut
    is plans.pipeline.match_stage. All joins are equi-joins on the doc
    id.
    """
    sides = [hydration_side(docs, s) for s in ("a", "b")]
    hydrated = pairs.join(sides[0], "id_a").join(sides[1], "id_b")
    return score_hydrated(hydrated, idf_bcast, weights=weights, default_idf=default_idf)


def score_hydrated(
    hydrated: DataFrame,
    idf_bcast: Broadcast,
    weights: dict[str, float] | None = None,
    default_idf: float = 1e-5,
) -> DataFrame:
    """Feature + blend stage over an already-hydrated pair table
    (columns jwt_/levt_/toksj_/toksd_ per side — see hydration_side),
    reading the IDF dictionary from ``idf_bcast`` (see score_pairs).

    Split out from score_pairs so the STREAMING matcher can reuse the
    exact batch scorer: every expression here is per-row (narrow), so
    the same code path is valid in a Structured Streaming plan —
    batch/stream scoring parity is by construction, not by re-
    implementation.
    """
    weights = weights or DEFAULT_WEIGHTS

    maxlen = F.greatest(F.length("levt_a"), F.length("levt_b"))
    # 3-arg levenshtein (Spark >= 3.5) runs the banded DP and returns
    # -1 above the band -> similarity 0.0
    d = F.levenshtein(F.col("levt_a"), F.col("levt_b"), LEV_BAND)
    lev_sim = F.when(maxlen == 0, F.lit(1.0)).otherwise(
        F.when(d < 0, F.lit(0.0)).otherwise(1.0 - d / maxlen)
    )
    inter = F.size(F.array_intersect("toksd_a", "toksd_b"))
    union = F.size("toksd_a") + F.size("toksd_b") - inter
    jaccard = F.when(union == 0, F.lit(0.0)).otherwise(inter / union)

    udf = _pair_udf(idf_bcast, default_idf)
    # Trim the Arrow transfer JVM-side: texts cut to the JW prefix (not
    # whole web pages; the [:JW_PREFIX] in the UDF is then a no-op kept
    # as a guard), token arrays flattened to one joined string per side.
    feats = (
        hydrated.withColumn("lev_sim", lev_sim)
        .withColumn("jaccard", jaccard)
        .withColumn(
            "_s",
            udf("id_a", "id_b", "jwt_a", "jwt_b", "toksj_a", "toksj_b"),
        )
        .withColumn("jw", F.col("_s.jw"))
        .withColumn("cosine", F.col("_s.cosine"))
        .withColumn("containment", F.col("_s.containment"))
        .drop(
            "_s", "jwt_a", "jwt_b", "levt_a", "levt_b",
            "toksj_a", "toksj_b", "toksd_a", "toksd_b",
        )
    )
    score = sum(F.col(k) * F.lit(w) for k, w in weights.items())
    return feats.withColumn("score", score)
