"""Transitive clustering: iterative DataFrame connected components.

Matched pairs form an undirected graph; entity clusters are its
connected components with the stable cluster id = min member id
(min works on any orderable id type — urls included — so no
collision-prone hashing of string keys into longs is needed).

Algorithm: alternating **large-star / small-star** (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SOCC'14) — converges in
O(log n) rounds on pathological graphs (vs O(diameter) for naive label
propagation), each round a pair of groupBy/join stages:

- large-star: bidirect edges, per node u attach every *larger* neighbor
  to m = min(N(u) ∪ {u}).
- small-star: orient edges to the smaller endpoint, per node u attach
  all (smaller) neighbors and u itself to m = min(N(u) ∪ {u}).

Convergence: the edge multiset stops changing (checked by count +
order-insensitive hash checksum — one cheap agg per round, no join).
Each round ends in a lineage cut (iterative plans otherwise grow
exponentially and re-execute history every action): a lazy
``localCheckpoint``.

The reference has no clustering (spans are per-query); this implements
the north_star's transitive-closure stage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _large_star(edges: DataFrame) -> DataFrame:
    # Per-node min via a WINDOW over the bidirected edges — one shuffle
    # (partitionBy u), where the groupBy-mins + join-back form paid two
    # (aggregate shuffle + re-shuffle of the edge side). Same math:
    # m = min(N(u) ∪ {u}); every larger neighbor attaches to m.
    #
    # NO output distinct: duplicate (v, m) rows (several u attaching
    # the same v to the same m) can't change any window-MIN downstream,
    # and _small_star's output distinct dedupes the round. Dropping it
    # removes an O(E)-byte shuffle per round — the small-star window
    # then shuffles O(E) instead of O(V) rows, so total round bytes
    # strictly shrink (E + V -> E).
    bidir = edges.select(F.col("u"), F.col("v")).union(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    w = Window.partitionBy("u")
    return (
        bidir.withColumn("m", F.least(F.min("v").over(w), F.col("u")))
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    # Window form of the same trick; the self-row {u} joins the
    # neighbor list via the explicit union. Duplicate self-rows (one
    # per oriented edge of u, not distinct-ed — that distinct was a
    # third per-round shuffle) are harmless: they don't move the
    # window min, and the emitted duplicates collapse in the round's
    # single output distinct below.
    oriented = edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    )
    nbrs = oriented.unionByName(oriented.select("u", F.col("u").alias("v")))
    w = Window.partitionBy("u")
    return (
        nbrs.withColumn("m", F.min("v").over(w))
        .filter(F.col("v") != F.col("m"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .distinct()
    )


def _checksum(edges: DataFrame) -> tuple[int, int]:
    # bit_xor is order-insensitive and overflow-free under ANSI mode;
    # the edge set is distinct, so xor-cancellation of duplicates can't occur.
    row = edges.agg(
        F.count("*").alias("n"),
        F.coalesce(F.bit_xor(F.xxhash64("u", "v")), F.lit(0)).alias("h"),
    ).collect()[0]
    return row["n"], row["h"]


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 30,
) -> DataFrame:
    """(id, component) for every node appearing in ``edges``.

    component = min id of the node's connected component. Callers
    handle singletons (nodes with no edges) with a left join +
    coalesce(component, id).
    """

    def cut(df: DataFrame) -> DataFrame:
        # localCheckpoint can be LAZY: its blocks are saved as a side
        # effect of the next action — the per-round checksum — so each
        # round runs ONE job instead of two.
        return df.localCheckpoint(eager=False)

    # The init cut is load-bearing, not just hygiene: A/B'd removing it
    # (iterating straight over the caller's lineage) and round 0 went
    # 0.8s -> 5-12s at bench scale — the un-cut multi-referenced input
    # re-executes through the upstream plan instead of reading
    # materialized blocks. The init DISTINCT also right-sizes the
    # iteration's partitioning: AQE coalesces its shuffle output by
    # bytes, so a small edge set iterates over a few partitions (128
    # inherited map partitions cost ~1.3s/round in task overhead)
    # while a 10^12-doc edge set keeps byte-proportional parallelism.
    e = cut(
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    prev: tuple[int, int] | None = _checksum(e)
    for _ in range(max_iter):
        e = cut(_small_star(_large_star(e)))
        cur = _checksum(e)
        if cur == prev:
            break
        prev = cur
    else:
        raise RuntimeError(f"connected_components did not converge in {max_iter} rounds")
    # Fixpoint edges are (node -> root). Roots map to themselves.
    members = e.select(F.col("u").alias("id"), F.col("v").alias("component"))
    roots = e.select(F.col("v").alias("id")).distinct().withColumn(
        "component", F.col("id")
    )
    return members.unionByName(roots).distinct()


def assign_clusters(
    docs: DataFrame, components: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """docs + cluster_id (= component root, or the doc's own id for
    singletons)."""
    comp = components.withColumnRenamed("id", id_col)
    return (
        docs.join(comp, id_col, "left")
        .withColumn("cluster_id", F.coalesce("component", F.col(id_col)))
        .drop("component")
    )
