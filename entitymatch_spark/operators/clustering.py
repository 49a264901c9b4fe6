"""Transitive clustering: DataFrame connected components.

Matched pairs form an undirected graph; entity clusters are its
connected components with the stable cluster id = min member id
(min works on any orderable id type — urls included — so no
collision-prone hashing of string keys into longs is needed).

Every call starts with one lineage cut of the distinct edge set and a
checksum of it (edge count + order-insensitive hash). The count picks
one of two finishes:

- **Driver finish** (at or under the bound): the edge set is collected
  once as Arrow, numpy labels the nodes (ids ranked by ``np.unique``,
  then min-label hooking plus pointer jumping until no label moves),
  and ``(id, component)`` goes back as a local relation. Spark knows
  its size, so ``assign_clusters``' join broadcasts it with no hint
  and the docs side is never shuffled. The bound is the edge count
  whose node map (at most two nodes per edge, each row sized as Spark
  estimates a local row) fits ``spark.sql.autoBroadcastJoinThreshold``;
  a negative threshold (broadcast off) turns the driver finish off.
- **Loop** (above the bound): alternating **large-star / small-star**
  (Kiveris et al., "Connected Components in MapReduce and Beyond",
  SOCC'14) — converges in O(log n) rounds on pathological graphs (vs
  O(diameter) for naive label propagation), each round a pair of
  window stages:

  - large-star: bidirect edges, per node u attach every *larger*
    neighbor to m = min(N(u) ∪ {u}).
  - small-star: orient edges to the smaller endpoint, per node u attach
    all (smaller) neighbors and u itself to m = min(N(u) ∪ {u}).

  Convergence: the edge set stops changing (the same checksum — one
  cheap agg per round, no join). Each round ends in a lineage cut
  (iterative plans otherwise grow exponentially and re-execute history
  every action): a lazy ``localCheckpoint``.

The reference has no clustering (spans are per-query); this implements
the north_star's transitive-closure stage.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

# large-star/small-star rounds before the loop gives up
_MAX_ROUNDS = 30


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


def _driver_bound(edges: DataFrame) -> int:
    """The most (u, v) edges the driver finish takes: their node map,
    at most two nodes per edge, fits the broadcast join threshold. A
    local relation's row is estimated at 8 bytes plus each column's
    default size (8 for a long id, 20 for a string). A negative
    threshold gives a negative bound, so the loop always runs."""
    threshold = edges.sparkSession._jconf.autoBroadcastJoinThreshold()
    row = 8 + 2 * edges._jdf.schema().apply("u").dataType().defaultSize()
    return threshold // (2 * row)


def _components_on_driver(edges: DataFrame) -> DataFrame:
    """(id, component) of a distinct (u, v) edge set small enough to
    collect: one Arrow collect, numpy labelling, and a local relation
    back, typed as the edge ids."""
    t = edges.toArrow()
    ids = pa.chunked_array(t["u"].chunks + t["v"].chunks, type=t.schema.field("u").type)
    # Ranks follow the id order Spark's min uses: numbers by value,
    # strings by code point (= UTF-8 bytes, Spark's binary order).
    _, first, rank = np.unique(ids.to_numpy(), return_index=True, return_inverse=True)
    # both directions of each edge: a[i] -- b[i] (the roll swaps the halves)
    a, b = rank, np.roll(rank, t.num_rows)
    # Min-label hooking: each root takes the least label next to it, so a
    # label only falls and never cycles; pointer jumping then flattens
    # the trees back to stars. At the fixpoint every edge joins equal
    # labels, each the least rank (= least id) of its component.
    lab = np.arange(len(first))
    while True:
        nxt = lab.copy()
        np.minimum.at(nxt, lab[a], lab[b])
        while not np.array_equal(nxt[nxt], nxt):
            nxt = nxt[nxt]
        if np.array_equal(nxt, lab):
            break
        lab = nxt
    nodes = ids.take(first)
    id_type = edges.schema["u"].dataType
    return edges.sparkSession.createDataFrame(
        pa.table([nodes, nodes.take(lab)], names=["id", "component"]),
        StructType([StructField("id", id_type), StructField("component", id_type)]),
    )


def connected_components(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """(id, component) for every node appearing in ``edges``.

    component = min id of the node's connected component. Callers
    handle singletons (nodes with no edges) with a left join +
    coalesce(component, id). Under the driver bound the result is a
    local relation that a join broadcasts; above it, the loop's
    checkpointed edges.
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
    prev = _checksum(e)
    if prev[0] <= _driver_bound(e):
        return _components_on_driver(e)
    for _ in range(_MAX_ROUNDS):
        e = cut(_small_star(_large_star(e)))
        cur = _checksum(e)
        if cur == prev:
            break
        prev = cur
    else:
        raise RuntimeError(
            f"connected_components did not converge in {_MAX_ROUNDS} rounds"
        )
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
