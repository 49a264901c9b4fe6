"""Resumable variant of the match pipeline: every stage checkpointed.

Stage graph (each committed via CheckpointManager, so a kill at any
point resumes without redoing committed work; the scoring stage — the
expensive one at 100 TB — commits per hash bucket of the pair set, so
even a mid-stage kill loses at most one bucket):

    docs -> idf -> keys -> pairs -> scored[bucket 0..n) -> clusters

The workdir is a manifest store (plans/store.py) at any Hadoop path or
URI; every commit publishes one manifest generation.
"""

from __future__ import annotations

import dataclasses
import os
from functools import cache

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from entitymatch_spark.operators.posting import build_posting, token_idf
from entitymatch_spark.plans.checkpoint import CheckpointManager
from entitymatch_spark.plans.pipeline import (
    MatchConfig,
    blocking_keys,
    broadcast_idf_map,
    cluster_stage,
    match_stage,
    pair_stage,
    prepare_docs,
    score_stage,
)


def resumable_match_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    workdir: str | os.PathLike,
    cfg: MatchConfig | None = None,
    n_score_buckets: int = 16,
) -> dict[str, DataFrame]:
    cfg = cfg or MatchConfig()
    # EVERY config field is pinned in the workdir: a resume with a
    # changed threshold/num_hashes/weights/... would silently return
    # stages committed under the old semantics (the bucketing string
    # below guards only n_score_buckets)
    ck = CheckpointManager(spark, workdir, config=dataclasses.asdict(cfg))

    docs = ck.stage("docs", lambda: prepare_docs(pages, cfg))
    # the docs count runs inside the idf stage: a resumed run whose idf
    # is committed reads it back without counting the docs again
    idf = ck.stage(
        "idf", lambda: token_idf(build_posting(docs), n_docs=docs.count())
    )
    keys = ck.stage("keys", lambda: blocking_keys(docs, idf, cfg))
    # The scorer layout is baked into the WRITTEN parquet (writes
    # preserve per-partition order, and the bucket filter below
    # preserves file order), so every score bucket reads sorted runs of
    # id_a — no EliminateSorts exposure, the files themselves are sorted.
    pairs = ck.stage("pairs", lambda: pair_stage(keys, cfg))

    # LAZY and once: the IDF collect and broadcast run only when a
    # bucket actually needs scoring — a fully-resumed rerun (every
    # bucket committed) must not pay a vocabulary-sized driver collect
    # just to read parquet back — and every bucket shares the one
    # broadcast.
    idf_bcast = cache(lambda: broadcast_idf_map(idf, cfg))

    def _score_bucket(b: int) -> DataFrame:
        bucket = pairs.filter(
            F.pmod(F.xxhash64("id_a", "id_b"), F.lit(n_score_buckets)) == b
        )
        return score_stage(bucket, docs, *idf_bcast(), cfg)

    # the bucketing string pins n_score_buckets in the manifest: a
    # resume at a different count would silently lose or duplicate
    # pairs (old "done" buckets cover a different hash range), so the
    # manager raises on mismatch instead
    try:
        scored = ck.bucketed_stage(
            "scored",
            range(n_score_buckets),
            _score_bucket,
            bucketing=f"pmod(xxhash64(id_a,id_b), {n_score_buckets})",
        )
    finally:
        # the stage returns the committed parquet, which does not read
        # the broadcast
        if idf_bcast.cache_info().currsize:
            idf_bcast()[0].destroy()

    clusters = ck.stage(
        "clusters", lambda: cluster_stage(docs, match_stage(scored, cfg))
    )
    return {
        "docs": docs, "idf": idf, "keys": keys, "pairs": pairs,
        "scored": scored, "clusters": clusters, "checkpoints": ck,
    }
