"""The end-to-end record-linkage pipeline (BASELINE.json north_star).

    pages(url, warc_ts, html, text, lang)
      -> normalize/tokenize                 (columnar regex, M0)
      -> posting + IDF + totals             (posexplode + hash agg, M1)
      -> blocking keys: rare tokens ∪ LSH bands, block purging (M2)
      -> candidate pairs (single-pass bounded block expansion)
      -> batched Arrow pair scoring, IDF broadcast (M3)
      -> threshold -> matched pairs
      -> connected components -> stable cluster ids (M4)

Every stage is a DataFrame; `match_pipeline` wires them lazily so
Catalyst sees one plan per output. Checkpoint/resume for long jobs
(plans/resumable.py) commits these stages to a manifest store
(plans/checkpoint.py over plans/store.py).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark import Broadcast
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from entitymatch_spark.functions.text import normalize_text, tokenize
from entitymatch_spark.operators.blocking import (
    _check_band_geometry,
    candidate_pairs,
    lsh_band_keys,
    minhash_signature,
    token_blocking_keys_from_docs,
)
from entitymatch_spark.operators.clustering import assign_clusters, connected_components
from entitymatch_spark.operators.posting import (
    build_posting,
    collect_idf_map_bounded,
    token_idf,
)
from entitymatch_spark.operators.scoring import (
    DEFAULT_THRESHOLD,
    DEFAULT_WEIGHTS,
    hydration_exprs,
    hydration_side,
    score_hydrated,
    score_pairs,
)


@dataclass
class MatchConfig:
    min_idf: float = 1.0          # token blocking: rare-token floor
    max_block: int = 64           # block purging cap (operators/blocking.py)
    num_hashes: int = 64          # MinHash signature width
    bands: int = 16               # LSH bands (16 x 4: ~0.5 jaccard knee)
    rows_per_band: int = 4
    use_lsh: bool = True
    # hash choices: 'xxhash64' (fast, production) or the portable
    # 'md5'/'concat' pair that a relational oracle reproduces exactly
    # (see blocking.md5_token_hash) — lets the FULL pipeline incl. LSH
    # blocking be value-checked end-to-end.
    minhash_token_hash: str = "xxhash64"
    lsh_band_hash: str = "xxhash64"
    weights: dict = field(default_factory=lambda: dict(DEFAULT_WEIGHTS))
    threshold: float = DEFAULT_THRESHOLD
    # Cap on the broadcast IDF dictionary. At 10^12-doc scale the raw
    # web vocabulary does not fit in a broadcast; keep the top-K most
    # frequent tokens and score dropped (rare) tokens at the tail's
    # occurrence-weighted mean IDF — see
    # posting.collect_idf_map_bounded. ALWAYS BOUNDED, 2M entries by
    # default (~100-200 MB broadcast), so no path has an unbounded
    # driver-side collect; at test scale the vocabulary is far smaller
    # than the cap, so nothing is dropped and results are identical.
    idf_max_entries: int = 2_000_000
    seed: int = 42
    cache: bool = True  # persist docs + pairs (reused by several stages)
    id_col: str = "url"
    text_col: str = "text"

    def __post_init__(self):
        # fail at CONFIG time, not after the signature stage has run:
        # bands past the signature end would emit one constant key per
        # band (skew + zero recall after the purge — see blocking.py)
        if self.use_lsh:
            _check_band_geometry(self.bands, self.rows_per_band, self.num_hashes)


@dataclass
class MatchResult:
    """Every field is a lazy DataFrame except ``clusters``, which is
    computed ON FIRST ACCESS: connected components runs driver actions
    (the edge checksum, then either one collect for the driver finish
    of a graph under the broadcast bound, or a checksum and lineage cut
    per large-star/small-star round above it), so it cannot be a lazy
    plan — deferring it means a caller who stops at
    ``scored``/``matches`` never pays for clustering."""

    docs: DataFrame        # (id, norm_text, tokens)
    posting: DataFrame     # (id, pos, token)
    idf: DataFrame         # (token, df, idf)
    keys: DataFrame        # (id, key)
    pairs: DataFrame       # (id_a, id_b, n_keys)
    scored: DataFrame      # pairs + features + score
    matches: DataFrame     # scored, score >= threshold
    _clusters_fn: Callable[[], DataFrame] = field(repr=False)
    _idf_bcast: Broadcast | None = field(repr=False)
    _clusters: DataFrame | None = field(default=None, repr=False)

    @property
    def clusters(self) -> DataFrame:
        """docs + cluster_id (runs transitive clustering once, cached)."""
        if self._clusters is None:
            self._clusters = self._clusters_fn()
        return self._clusters

    def unpersist(self) -> None:
        """Drop this result's cached frames (``docs``, ``pairs`` —
        persisted when cfg.cache) and destroy the IDF broadcast its
        scorer reads. A long-lived application linking again and again
        should call this once it is done with a result, or dead cached
        partitions accumulate in executor storage, and one
        vocabulary-sized broadcast file per link in the driver's temp
        dir, for the session's lifetime.

        After it the scoring frames are unusable: running ``scored``,
        ``matches`` or a not yet computed ``clusters`` raises. Clusters
        computed before the call stay readable (they sit past a driver
        collect or a lineage cut, not over the scorer)."""
        for df in (self.docs, self.pairs):
            df.unpersist()
        if self._idf_bcast is not None:
            self._idf_bcast.destroy()
            self._idf_bcast = None


def prepare_docs(pages: DataFrame, cfg: MatchConfig) -> DataFrame:
    # Parquet cannot split below a row group, so a small input (one or
    # few files) would floor the whole narrow front of the pipeline —
    # normalize, tokenize, the MinHash fold — at one task per file
    # regardless of cluster size. Fan such a scan out to
    # defaultParallelism (a no-op at real corpus scale, where splits ≫
    # cores).
    floor = pages.sparkSession.sparkContext.defaultParallelism
    if pages.rdd.getNumPartitions() < floor:
        pages = pages.repartition(floor)
    return pages.select(
        F.col(cfg.id_col).alias("doc_id"),
        normalize_text(cfg.text_col).alias("norm_text"),
        tokenize(cfg.text_col).alias("tokens"),
    )


def blocking_keys(docs: DataFrame, idf: DataFrame, cfg: MatchConfig) -> DataFrame:
    """(doc_id, key): the pipeline's blocking-key table —
    rare-token keys (narrow per-doc array_distinct + broadcast IDF
    join, no global distinct shuffle) unioned with MinHash-LSH band
    keys when ``cfg.use_lsh``. THE one construction: the resumable,
    batch-incremental and streaming matchers call this too, so none
    of them can drift from what the pipeline runs (hash variants, band geometry, use_lsh gate). Every
    step is per-row, so ``docs`` may be a stream, and ``doc_id`` passes
    through untouched whatever its type.
    """
    keys = token_blocking_keys_from_docs(docs, idf, min_idf=cfg.min_idf)
    if cfg.use_lsh:
        keys = keys.unionByName(lsh_keys(docs, cfg))
    return keys


def lsh_keys(docs: DataFrame, cfg: MatchConfig) -> DataFrame:
    """(doc_id, key): the MinHash-LSH band keys of ``blocking_keys``."""
    sigs = minhash_signature(
        docs, id_col="doc_id", tokens_col="tokens",
        num_hashes=cfg.num_hashes, seed=cfg.seed,
        token_hash=cfg.minhash_token_hash,
    )
    return lsh_band_keys(
        sigs, bands=cfg.bands, rows_per_band=cfg.rows_per_band,
        band_hash=cfg.lsh_band_hash, sig_len=cfg.num_hashes,
    )


def pair_stage(
    keys: DataFrame, cfg: MatchConfig, old_keys: DataFrame | None = None
) -> DataFrame:
    """Candidate pairs under ``cfg``'s block cap, in the scorer's
    layout (``scorer_layout``). ``old_keys``: the grow's standing
    members of the batch's blocks (candidate_pairs), so the grow pairs
    its batch exactly as the link would."""
    return scorer_layout(
        candidate_pairs(keys, max_block=cfg.max_block, old_keys=old_keys)
    )


def scorer_layout(pairs: DataFrame) -> DataFrame:
    """The pair layout feeding the Arrow scorer: one hash partition per
    core (defaultParallelism, the floor prepare_docs uses too). AQE
    coalesces shuffle output by BYTES (advisory 64 MB), but the scoring
    stage's cost is rows x python-time — a few-MB pair table would
    coalesce to 1-2 partitions and the Python scorer run on 1-2 cores,
    so the count is pinned.

    One task per core and no more: every Arrow task pays a fixed cost
    (its hand-off to a Python worker, and a per-batch profile memo that
    starts cold), and at small sizes that is half the pass. Measured
    on a shared 4-core machine, 16 partitions against 4: the 400-doc,
    16,390-pair link's scoring pass 3.4 s against 2.3 s (traced), and
    the median link over 10 interleaved seeds 7.9 s against 6.2 s. At
    10x and 30x the corpus (4,000 and 12,000 docs) the link was no
    slower at 4 partitions than at 16.

    Hash-partition by id_a + local sort, NOT round-robin: the Arrow
    scorer memoizes per-doc tf-idf/Jaro profiles PER BATCH, and on a
    round-robin layout a doc's pairs scatter across all partitions so
    nearly every lookup misses (the memo dict also balloons to one
    entry per distinct doc per batch — GC pressure that grows with
    corpus size, not pair count). Sorted runs of id_a make the a-side
    profile a guaranteed hit and keep the working set small. Measured
    on a 105k-doc / 5.1M-pair synthetic corpus (the full pipeline,
    interleaved 3-round A/B): 50-56s sorted vs 105-122s round-robin —
    ~2x. Skew is bounded: max_block caps any one doc's pair count.

    CAVEAT: the local sort only materializes through a persist
    boundary (match_pipeline's cfg.cache=True, the default) — with
    cache=False Catalyst's EliminateSorts drops a Sort under the
    hydration joins as semantically unordered, leaving hash
    partitioning alone (still co-locates each doc's pairs; the
    per-batch hit rate just loses the contiguity bonus). The resumable
    path bakes the layout into written parquet instead, which has no
    such exposure (plans/resumable.py).
    """
    n_part = pairs.sparkSession.sparkContext.defaultParallelism
    return pairs.repartition(n_part, "id_a").sortWithinPartitions("id_a", "id_b")


def broadcast_idf_map(idf: DataFrame, cfg: MatchConfig) -> tuple[Broadcast, float]:
    """(idf_bcast, default_idf): the IDF dictionary the scorer reads,
    capped at ``cfg.idf_max_entries`` (see
    posting.collect_idf_map_bounded) and broadcast, and the IDF of
    tokens outside it. A driver-side collect — callers that may not
    need to score defer it (plans/resumable.py).

    The caller owns the broadcast. PySpark writes it as a pickle file
    in the driver's temp dir and deletes that file only on
    ``destroy()``, so destroy it once every frame scored with it is
    done (MatchResult.unpersist, incremental_match's scored cut, the
    resumable scored stage); a streaming query keeps it for its life."""
    idf_map, default_idf = collect_idf_map_bounded(idf, cfg.idf_max_entries)
    return idf.sparkSession.sparkContext.broadcast(idf_map), default_idf


def score_stage(
    pairs: DataFrame,
    docs: DataFrame,
    idf_bcast: Broadcast,
    default_idf: float,
    cfg: MatchConfig,
    stream_side: str | None = None,
) -> DataFrame:
    """THE scorer call: ``pairs`` + features + ``score`` under ``cfg``'s
    blend weights, each side hydrated from ``docs``, IDF read from
    ``idf_bcast`` (``broadcast_idf_map``).

    ``stream_side``: the streaming matcher's form. Names a struct
    column on ``pairs`` holding the id_a side's ``norm_text`` and
    ``tokens``; that side is hydrated in place, because a stream cannot
    be re-joined to itself, and only id_b joins ``docs``.
    """
    if stream_side is None:
        return score_pairs(
            pairs, docs, idf_bcast, weights=cfg.weights, default_idf=default_idf
        )
    hydrated = pairs.select(
        *[c for c in pairs.columns if c != stream_side],
        *hydration_exprs("a", f"{stream_side}.norm_text", f"{stream_side}.tokens"),
    ).join(hydration_side(docs, "b"), "id_b")
    return score_hydrated(
        hydrated, idf_bcast, weights=cfg.weights, default_idf=default_idf
    )


def match_stage(scored: DataFrame, cfg: MatchConfig) -> DataFrame:
    """THE match predicate: the scored pairs whose blend clears
    ``cfg.threshold``. A calibrated logistic model is one such cut too
    (incremental.rethreshold translates it into ``cfg``), so every path
    that turns scores into edges calls this."""
    return scored.filter(F.col("score") >= cfg.threshold)


def cluster_stage(docs: DataFrame, edges: DataFrame) -> DataFrame:
    """(doc_id, cluster_id) for every ``docs`` id: connected components
    over the match ``edges`` (id_a, id_b), the cluster id being the
    component's min member id (a doc on no edge is its own cluster).
    The link, the grow's merge, the delete and rethreshold call it."""
    components = connected_components(
        edges.select("id_a", "id_b"), src="id_a", dst="id_b"
    )
    return assign_clusters(docs.select("doc_id"), components)


def match_pipeline(
    pages: DataFrame, cfg: MatchConfig | None = None, idf: DataFrame | None = None
) -> MatchResult:
    """``idf``: optional external dictionary (token, df, idf) — e.g. a
    snapshot computed over a reference corpus, the contract that makes
    batch-incremental growth exact (plans/incremental.py). Default
    (None) computes IDF over ``pages`` itself, unchanged."""
    cfg = cfg or MatchConfig()
    docs = prepare_docs(pages, cfg)
    if cfg.cache:
        docs = docs.persist()
    n_docs = docs.count()

    posting = build_posting(docs, id_col="doc_id")
    if idf is None:
        idf = token_idf(posting, n_docs=n_docs)

    keys = blocking_keys(docs, idf, cfg)

    # No keys persist: candidate_pairs is single-pass (one groupBy over
    # the key table), so there is no multi-reference recompute to avoid
    # and nothing to leak from the cache.
    pairs = pair_stage(keys, cfg)
    if cfg.cache:
        pairs = pairs.persist()
    idf_bcast, default_idf = broadcast_idf_map(idf, cfg)
    scored = score_stage(pairs, docs, idf_bcast, default_idf, cfg)
    matches = match_stage(scored, cfg)

    return MatchResult(
        docs=docs, posting=posting, idf=idf, keys=keys,
        pairs=pairs, scored=scored, matches=matches,
        _clusters_fn=lambda: cluster_stage(docs, matches), _idf_bcast=idf_bcast,
    )
