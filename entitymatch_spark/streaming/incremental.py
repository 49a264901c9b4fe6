"""Structured Streaming: incremental corpus ingestion.

The reference's incremental patterns are per-character autocomplete
state (ref: EditTrie/Trie.cs:221-282) and resumable keyset-paginated
scans (ref: extract/Program.cs:69-79) — both single-process. The
streaming analog for this engine is incremental *index maintenance*:
as new pages arrive, emit their normalized fingerprints / MinHash
blocking keys so the batch pipeline's state tables stay current, and
keep watermarked event-time aggregates for monitoring.

The matchers here run the batch pipeline's own stages
(plans/pipeline.py) under the index's MatchConfig, and every stream-side
step of those stages is a stateless per-row expression, so batch/stream
parity is by construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from entitymatch_spark.functions.text import normalize_text, tokenize
from entitymatch_spark.plans.pipeline import (
    MatchConfig,
    blocking_keys,
    broadcast_idf_map,
    lsh_keys,
    score_stage,
)


def incremental_fingerprints(pages_stream: DataFrame) -> DataFrame:
    """Streaming (url, warc_ts, fingerprint): exact-dedup keys for new
    pages; downstream sinks join against the historical fingerprint
    table to drop already-seen content."""
    return pages_stream.select(
        "url",
        "warc_ts",
        F.md5(normalize_text("text")).alias("fingerprint"),
    )


def incremental_minhash_keys(
    pages_stream: DataFrame, cfg: MatchConfig | None = None
) -> DataFrame:
    """Streaming (doc_id, key): the pipeline's LSH blocking keys
    (plans.pipeline.lsh_keys under ``cfg``) for newly arrived pages.
    Every step is a per-row expression, so the stream needs no state.
    """
    cfg = cfg or MatchConfig()
    docs = pages_stream.select(
        F.col(cfg.id_col).alias("doc_id"), tokenize(cfg.text_col).alias("tokens")
    )
    return lsh_keys(docs, cfg)


def incremental_match(
    pages_stream: DataFrame,
    static_docs: DataFrame,
    static_keys: DataFrame,
    idf: DataFrame,
    cfg: MatchConfig | None = None,
    dedup_within_watermark: bool = False,
) -> DataFrame:
    """Streaming record linkage: score newly arrived pages against the
    already-indexed corpus. (Stream-vs-static scoring only; for BATCH
    corpus growth that also merges cluster state and proves equality
    with a full recompute, see plans/incremental.py's function of the
    same name.) Runs the batch pipeline's own stages under the index's
    ``cfg`` — blocking_keys, broadcast_idf_map, score_stage — so
    batch/stream parity holds by shared code, not by re-implementation.

    Plan (all stream-side steps are stateless/narrow, so the query is a
    valid append-mode Structured Streaming plan):

      new page -> normalize/tokenize, packed into a struct that serves
      as the page's doc id (a stream cannot be re-joined to itself, so
      the page's text rides along to the scorer)
      -> blocking_keys: rare-token keys (broadcast IDF membership) UNION
         MinHash band keys — per-row expressions, no state, since each
         url arrives once per the source contract
      -> stream-static equi-join against the PRE-PURGED static key
         table (block purging needs global key counts, a batch-side
         property of the index)
      -> stateful dropDuplicates on (id_a, id_b): a pair is scored at
         most once per stream lifetime (set dedup_within_watermark and
         put a watermark on the stream to bound that state in a
         long-running job)
      -> score_stage: the stream side hydrated in place, the indexed
         side joined from static docs (stream-static), the batch
         scorer's feature + blend stage.

    static_docs: (doc_id, norm_text, tokens) of the indexed corpus.
    static_keys: (doc_id, key) — purged blocking keys of that corpus.
    idf: the index's IDF table; the scorer's dictionary and its
    default for tokens outside it derive from it as in the batch path.

    Emits (id_a = new page id, id_b = indexed doc, features..., score)
    for every candidate pair.
    """
    cfg = cfg or MatchConfig()
    # the event-time (watermark) column, the pages schema's warc_ts,
    # must ride along when bounded dedup state is requested — fail fast
    # here rather than let dropDuplicatesWithinWatermark error obscurely
    # downstream
    if dedup_within_watermark:
        if "warc_ts" not in pages_stream.columns:
            raise ValueError(
                "dedup_within_watermark=True needs the event-time column "
                f"'warc_ts' on the stream (have: {pages_stream.columns})"
            )
        extra = ["warc_ts"]
    else:
        extra = []
    idf_bcast, default_idf = broadcast_idf_map(idf, cfg)
    page = pages_stream.select(
        F.col(cfg.id_col).alias("id"),
        normalize_text(cfg.text_col).alias("norm_text"),
        tokenize(cfg.text_col).alias("tokens"),
        *extra,
    )
    new_docs = page.select(F.struct(*page.columns).alias("doc_id"), "tokens")
    cand = (
        blocking_keys(new_docs, idf, cfg)
        .join(static_keys.select(F.col("doc_id").alias("id_b"), "key"), "key")
        .select(
            F.col("doc_id.id").alias("id_a"), "id_b",
            F.col("doc_id").alias("page"),
            *[F.col(f"doc_id.{c}").alias(c) for c in extra],
        )
        .filter(F.col("id_a") != F.col("id_b"))
    )
    if dedup_within_watermark:
        cand = cand.dropDuplicatesWithinWatermark(["id_a", "id_b"])
    else:
        cand = cand.dropDuplicates(["id_a", "id_b"])
    return score_stage(cand, static_docs, idf_bcast, default_idf, cfg, stream_side="page")


def streaming_event_counts(
    events_stream: DataFrame,
    window: str = "5 minutes",
    slide: str | None = None,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Watermarked windowed counts over an event stream (late data
    handled by the watermark; append-mode compatible)."""
    win = F.window("ts", window, slide) if slide else F.window("ts", window)
    return (
        events_stream.withWatermark("ts", watermark)
        .groupBy(win.alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("total"))
        .select(
            F.col("w.start").alias("win_start"),
            F.col("w.end").alias("win_end"),
            "event_type", "n", "total",
        )
    )
