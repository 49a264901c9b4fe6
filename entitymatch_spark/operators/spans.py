"""Span recognition — the reference's flagship query, as relational ops.

The reference extends spans with a co-sequential sorted merge over
posting lists (ref: EntityMatch/EntityMatch/Recognizer.cs:197-300): a
span over query positions extends to the next query token iff the
matched entity token is *adjacent* in the entity
((qpos - span.start) + span.entity_start == entity_pos, Recognizer.cs:255-268).

That invariant means every maximal span lies on a constant diagonal
``diag = qpos - epos``, and its query positions are consecutive. So the
whole iterative scan collapses to a **gap-and-island window query** —
no loop, no driver iteration, fully parallel:

    candidates = query_tokens ⋈ posting ON token        (the blocking join)
    island     = qpos - row_number() OVER (PARTITION BY qid, entity, diag
                                           ORDER BY qpos)
    span       = GROUP BY qid, entity, diag, island
                 → start = min(qpos), length = count, weight = sum(token idf)

Scoring (ref: Recognizer.cs:55-64): score = span_weight / entity_total,
dropped below threshold. Top-k per (type, start) ordered by score desc
(ref: Recognizer.cs:24-46) is a row_number window.

``island_spans`` is that gap-and-island query and its scoring, the one
implementation behind both ``extend_spans`` and the matcher's
``interpret``. Its two groupings and its window are all keyed on
(query, entity, ...), so input already partitioned by entity id — the
matcher's resident index — reaches them with no exchange; only
``topk_spans``, grouping by (query, type, start), shuffles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def island_spans(
    hits: DataFrame,
    threshold: float = 0.0,
    query_id: str = "query_id",
    entity_id: str = "entity_id",
    entity_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Scored maximal spans from token hits.

    hits: (query_id, entity_id, qpos, epos, weight, idf, total_weight,
           *entity_cols) — one row per query token alternative matching
           an entity token; ``total_weight`` and ``entity_cols`` depend
           on the entity alone.

    Returns (query_id, entity_id, *entity_cols, start, length, score).

    The per-entity columns ride in the grouping keys, not in first()
    buffers: they add nothing to a group, keep both aggregates hash
    aggregates, and leave any partitioning on the entity id satisfying
    every grouping.
    """
    carried = ["total_weight", *entity_cols]
    diag = [query_id, entity_id, "diag"]
    cand = hits.select(
        query_id,
        entity_id,
        *carried,
        "qpos",
        (F.col("qpos") - F.col("epos")).alias("diag"),
        (F.col("weight") * F.col("idf")).alias("wtok"),
    )
    # A query token may match the same (entity, epos) via several
    # alternatives: keep max weight (ref: Recognizer.cs:135-194 UnionSorted).
    cand = cand.groupBy(*diag, "qpos", *carried).agg(F.max("wtok").alias("wtok"))
    w = Window.partitionBy(*diag).orderBy("qpos")
    spans = (
        cand.withColumn("island", F.col("qpos") - F.row_number().over(w))
        .groupBy(*diag, "island", *carried)
        .agg(
            F.min("qpos").alias("start"),
            F.count("*").alias("length"),
            F.sum("wtok").alias("span_weight"),
        )
    )
    out = spans.select(
        query_id,
        entity_id,
        *entity_cols,
        "start",
        "length",
        (F.col("span_weight") / F.col("total_weight")).alias("score"),
    )
    if threshold > 0.0:
        out = out.filter(F.col("score") >= threshold)
    return out


def extend_spans(
    query_tokens: DataFrame,
    posting: DataFrame,
    idf: DataFrame,
    totals: DataFrame,
    threshold: float = 0.0,
    query_id: str = "query_id",
    entity_id: str = "entity_id",
) -> DataFrame:
    """Maximal adjacent-run spans of query tokens inside entities.

    query_tokens: (query_id, qpos, token [, weight])   weight defaults 1.0
    posting:      (entity_id, pos, token)
    idf:          (token, idf)
    totals:       (entity_id, total_weight)

    Returns (query_id, entity_id, start, length, score).

    The entity-side posting is the big table; idf and totals are
    vocabulary/entity-count sized and broadcast. The token equi-join
    shuffles both sides unless one is small enough to broadcast, and
    ``island_spans`` then regroups by (query, entity).
    """
    q = query_tokens
    if "weight" not in q.columns:
        q = q.withColumn("weight", F.lit(1.0))
    hits = (
        q.join(posting.withColumnRenamed("pos", "epos"), "token")
        .join(F.broadcast(idf.select("token", "idf")), "token")
        .join(F.broadcast(totals.select(entity_id, "total_weight")), entity_id)
    )
    return island_spans(hits, threshold, query_id=query_id, entity_id=entity_id)


def topk_spans(
    spans: DataFrame,
    k: int,
    partition_cols: tuple[str, ...] = ("type", "start"),
    order_col: str = "score",
    tiebreak_cols: tuple[str, ...] = ("entity_id",),
) -> DataFrame:
    """Top-k spans per group, score desc (ref: Recognizer.cs:24-46).

    Deterministic: ties broken by tiebreak_cols asc. The window's
    row_number is rank-limited, so Spark applies a per-partition
    top-k sort (no global sort).

    The default group ('type', 'start') is the reference's typed-span
    shape — extend_spans' RAW output has no 'type', and a multi-query
    frame needs 'query_id' IN the group (matcher.py passes
    ('query_id', 'type', 'start')) or one query's high scorers evict
    another's. Missing group columns raise here by name rather than
    deep in the window plan.
    """
    missing = [c for c in partition_cols if c not in spans.columns]
    if missing:
        raise ValueError(
            f"partition_cols {missing} not in spans columns "
            f"{spans.columns}; pass partition_cols= matching your "
            "frame (multi-query frames need 'query_id' in the group)"
        )
    order = [F.desc(order_col)] + [F.asc(c) for c in tiebreak_cols]
    w = Window.partitionBy(*partition_cols).orderBy(*order)
    return (
        spans.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )
