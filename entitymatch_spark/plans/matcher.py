"""The reference's flagship query, end to end: Matcher.Interpretations.

ref: EntityMatch/EntityMatch/Matcher.cs:43-51 — tokenize -> expand each
token through the alternatives chain (spelling within edit distance 1
at weight 1/(1+d) with exact short-circuit, then synonyms with
multiplicative weights; TestMatcher/Program.cs:262-273 wiring) ->
recognize spans (posting lookup with weight = altWeight x IDF, maximal
adjacent runs, score = weight / entity total, threshold) -> top-k spans
per (type, start).

Batch-of-queries semantics: instead of one utterance per call, the
whole `queries(query_id, text)` DataFrame flows through at once — the
per-query loop of the reference becomes one relational plan.

The index is resident: ``build_matcher_index`` persists and
materializes its tables once, the posting pre-joined with everything a
request reads of an entity and hash-partitioned by entity id. A request
is the stream-vs-static shape of a lookup join: its few hundred
expanded query tokens are broadcast into that index, the span stage
runs on the index's own partitioning, and the plan's one shuffle is
``topk_spans``' grouping by (query, type, start).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from entitymatch_spark.functions.text import tokenize
from entitymatch_spark.operators.alternatives import spelling_alternatives
from entitymatch_spark.operators.posting import (
    build_posting,
    token_idf,
    total_token_weight,
)
from entitymatch_spark.operators.spans import island_spans, topk_spans


@dataclass
class MatcherIndex:
    """Build-time artifacts (AddEntities + Compute, Matcher.cs:28-41).

    Every table but ``entities`` (the caller's frame) is persisted and
    materialized by ``build_matcher_index``; ``unpersist`` releases them.
    """

    entities: DataFrame   # (entity_id, type, phrase)
    posting: DataFrame    # (entity_id, pos, token)
    idf: DataFrame        # (token, df, idf)
    totals: DataFrame     # (entity_id, total_weight)
    vocab: DataFrame      # (token) — the spelling trie's vocabulary
    # (entity_id, epos, token, idf, total_weight, type, phrase),
    # hash-partitioned by entity_id: what a request probes
    weighted_posting: DataFrame

    def unpersist(self) -> None:
        """Release every table ``build_matcher_index`` persisted."""
        for df in (self.posting, self.idf, self.totals, self.vocab,
                   self.weighted_posting):
            df.unpersist()


def build_matcher_index(entities: DataFrame) -> MatcherIndex:
    toks = entities.select("entity_id", tokenize("phrase").alias("tokens"))
    posting = build_posting(toks, id_col="entity_id").persist()
    n = entities.count()
    idf = token_idf(posting, n_docs=n).persist()
    totals = total_token_weight(posting, idf, "entity_id").persist()
    vocab = idf.select("token").persist()  # idf holds one row per token
    weighted = (
        posting.withColumnRenamed("pos", "epos")
        .join(F.broadcast(idf.select("token", "idf")), "token")
        .join(totals, "entity_id")
        .join(entities.select("entity_id", "type", "phrase"), "entity_id")
        .repartition(
            entities.sparkSession.sparkContext.defaultParallelism, "entity_id"
        )
        .persist()
    )
    for df in (posting, idf, totals, vocab, weighted):
        df.count()
    return MatcherIndex(entities, posting, idf, totals, vocab, weighted)


def interpret(
    queries: DataFrame,
    index: MatcherIndex,
    synonyms: DataFrame | None = None,
    spans_per_position: int = 1,
    threshold: float = 0.25,
    max_edit: int = 1,
) -> DataFrame:
    """(query_id, entity_id, type, phrase, start, length, score).

    Defaults mirror the reference REPL (spansPerPosition=1,
    threshold=0.25; TestMatcher/Program.cs:39-40).
    """
    qtok = queries.select(
        "query_id", F.posexplode(tokenize("text")).alias("qpos", "token")
    )
    # --- alternatives chain (SynonymAlternatives(SpellingAlternatives(Base)))
    alts = spelling_alternatives(qtok, index.vocab, max_edit=max_edit)
    if synonyms is not None:
        # SynonymAlternatives is the OUTERMOST expander and *replaces* a
        # spelling alternative with its mapped synonyms, weights
        # multiplied (ref: Alternatives.cs:43-59 — a token present in
        # the map yields only the mapped alternatives, so the map must
        # contain the identity to keep it, exactly as the reference's
        # own example does: mouse -> {mouse 1.0, mice 0.9},
        # TestMatcher/Program.cs:279). Duplicate alternatives of one
        # query token are left to island_spans' max-weight dedup.
        syn = synonyms.select(
            F.col("token").alias("__k"),
            F.col("alt_token").alias("__syn"),
            F.col("weight").alias("__w"),
        )
        mapped = F.col("__k").isNotNull()
        alts = alts.join(
            F.broadcast(syn), F.col("alt_token") == F.col("__k"), "left"
        ).select(
            "query_id",
            "qpos",
            F.when(mapped, F.col("__syn"))
            .otherwise(F.col("alt_token"))
            .alias("alt_token"),
            F.when(mapped, F.col("weight") * F.col("__w"))
            .otherwise(F.col("weight"))
            .alias("weight"),
        )
    expanded = alts.select(
        "query_id", "qpos", F.col("alt_token").alias("token"), "weight"
    )
    hits = index.weighted_posting.join(F.broadcast(expanded), "token")
    spans = island_spans(hits, threshold, entity_cols=("type", "phrase"))
    return topk_spans(
        spans,
        k=spans_per_position,
        partition_cols=("query_id", "type", "start"),
    ).select("query_id", "entity_id", "type", "phrase", "start", "length", "score")
