"""Batch-incremental record linkage: grow a matched corpus without
rescoring it.

At 10^12-document scale (BASELINE.json north_star) the corpus is never
re-matched from scratch — a crawl lands as a batch of new pages and the
pipeline must (a) score only pairs that TOUCH the batch, (b) leave
every already-scored old-old pair alone, and (c) update cluster ids
only for clusters the new matches actually reach. This module does
exactly that over a persisted :class:`MatchState`.

Per-batch cost (B = batch docs, C = corpus docs):

- blocking keys: O(B) narrow column work (token keys + the MinHash
  fold are per-row expressions, zero shuffle);
- old-side lookups: ONE semi-join of the corpus key table against the
  batch's distinct keys. While those fit the broadcast threshold it
  is planned as a broadcast of the batch keys over the stored key
  table's scan, so the corpus side never shuffles (plan-asserted) —
  never a scan of old pairs;
- scoring: only new-new and new-old candidate pairs, through the same
  Arrow scorer as the full pipeline;
- clustering: connected components over (new match edges ∪ the star
  edges of AFFECTED prior clusters only) — clusters untouched by any
  new edge keep their rows verbatim via an anti-join.

Exactness contract (tested in tests/test_incremental_batch.py and
value-checked against the full-recompute DuckDB oracle by the
``incremental_match`` contract query): with the IDF dictionary held
fixed (an external snapshot passed to :func:`initial_state` — the
realistic deployment, where the dictionary comes from a reference
corpus and is refreshed on its own cadence, NOT from each batch),

    incremental_match(initial_state(base), batch).state.clusters
        == match_pipeline(base ∪ batch).clusters

row for row, PROVIDED no blocking key crosses the ``max_block`` purge
cap between the base and the union corpus (blocks only ever gain
members; a key that crosses would retroactively purge base-base pairs
the incremental run has already matched — transitive clustering is
monotone and never retracts). New pairs are purged at UNION block
sizes, exactly like the full run: the semi-join pulls every old member
of each batch-touched key, so the block cap sees the whole block. The
grow reaches the cap and the block expansion through
``operators/blocking.candidate_pairs(old_keys=)``, the one the full
run calls.

The reference has no incremental mode (TestMatcher/Program.cs rebuilds
its index per run); this implements the north_star's "resumes without
rescoring completed partitions" requirement at the corpus-growth level.

Relation to streaming/incremental.py: the streaming function of the
same name scores a micro-batched page STREAM against a static indexed
corpus (stream-vs-static joins, no cluster updates); this module is
the batch form that also grows the state — keys, docs, and merged
cluster ids — with a provable full-recompute equivalence.
"""

from __future__ import annotations

import math
import uuid
from dataclasses import asdict, dataclass, fields, replace

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from entitymatch_spark.plans.pipeline import (
    MatchConfig,
    blocking_keys,
    broadcast_idf_map,
    cluster_stage,
    match_pipeline,
    match_stage,
    pair_stage,
    prepare_docs,
    score_stage,
)
from entitymatch_spark.plans.store import _StateDir


@dataclass
class MatchState:
    """The persisted artifacts a grown corpus carries between batches.

    ``keys`` is the RAW (un-purged) blocking-key table: the purge cap
    is a property of a block's CURRENT size, so it is re-evaluated per
    batch over union blocks, never baked into the state.

    ``cfg`` is the state's one match predicate (``score`` over its
    ``weights`` >= its ``threshold``, plans.pipeline.match_stage): it
    decided ``clusters``, every grow and delete re-derives edges with
    it, and it is saved with the state. A ``CalibratedModel`` applied
    by rethreshold(model=) rides it as the equivalent affine blend.
    """

    docs: DataFrame      # (doc_id, norm_text, tokens)
    keys: DataFrame      # (doc_id, key) — raw, pre-purge
    idf: DataFrame       # (token, df, idf) — frozen external dictionary
    clusters: DataFrame  # (doc_id, cluster_id), cluster_id = min member id
    cfg: MatchConfig
    # (id_a, id_b, features..., score): every candidate pair ever
    # scored — what makes recalibration FREE of the Arrow scorer: a new
    # threshold or blend re-derives matches with pure column math over
    # this table (see rethreshold()), and what remove_docs re-derives
    # surviving edges from. Disjoint across batches by construction: a
    # pair is generated only when a block gains its first batch member,
    # and both endpoints are corpus members from the next batch on
    # (old-old pairs are never re-emitted).
    scored: DataFrame
    # (qualified path, lineage) set by load_state: the lineage starts
    # with the id of the manifest read, and each grow appends a fresh
    # id, the one its commit publishes. None (remove_docs, rethreshold,
    # upsert_pages) commits as a full snapshot. See commit_increment.
    source: tuple[str, tuple[str, ...]] | None = None


@dataclass
class IncrementalResult:
    state: MatchState     # the grown state (docs/keys/clusters updated)
    new_docs: DataFrame   # prepared batch docs
    new_keys: DataFrame   # the batch's blocking keys — the keys-table delta
    pairs: DataFrame      # candidate pairs touching the batch
    scored: DataFrame     # pairs + features + score — the scored-table delta
    matches: DataFrame    # scored >= threshold
    # the clusters-table delta pair: prior clusters a new edge reached
    # (cluster_id) and their recomputed rows (doc_id, cluster_id)
    affected_clusters: DataFrame
    cluster_changed: DataFrame

    def unpersist(self) -> None:
        """Drop this result's cached frames (``new_docs``, ``pairs`` —
        persisted when cfg.cache). A long-lived driver looping
        incremental_match over many batches should call this after
        committing each batch, or dead cached partitions accumulate in
        executor storage for the session's lifetime.

        The scorer's IDF broadcast is not among them: ``scored`` is a
        local checkpoint, and incremental_match destroys the broadcast
        as soon as that cut is taken, so the scoring frames (``scored``,
        ``matches``, the cluster deltas) stay readable after this."""
        for df in (self.new_docs, self.pairs):
            df.unpersist()


def initial_state(
    pages: DataFrame, cfg: MatchConfig | None = None, idf: DataFrame | None = None
) -> MatchState:
    """Full pipeline over the starting corpus, packaged as a state.

    ``idf``: the external dictionary all subsequent batches will be
    scored under. None computes it from ``pages`` — fine operationally,
    but then a later full recompute (which would see batch tokens in
    its own IDF) is no longer the bit-exact oracle of the incremental
    result; pass a fixed snapshot when that equivalence matters.

    The link is scored ONCE, as incremental_match scores a batch: the
    clusters and save_state's ``scored`` read one lineage cut, and the
    link's caches and IDF broadcast are released once it is taken
    (``docs`` and ``keys`` stay lazy over ``pages``).
    """
    cfg = cfg or MatchConfig()
    res = match_pipeline(pages, cfg, idf=idf)
    scored = res.scored.localCheckpoint(eager=True)
    clusters = cluster_stage(res.docs, match_stage(scored, cfg))
    res.unpersist()
    return MatchState(
        docs=res.docs, keys=res.keys, idf=res.idf,
        clusters=clusters, cfg=cfg, scored=scored,
    )


def incremental_match(state: MatchState, new_pages: DataFrame) -> IncrementalResult:
    """Match a batch of new pages against the state without touching
    old-old pairs. See the module docstring for cost and exactness."""
    cfg = state.cfg
    new_docs = prepare_docs(new_pages, cfg)
    if cfg.cache:
        new_docs = new_docs.persist()

    # THE pipeline key construction: the incremental == full-recompute
    # exactness contract REQUIRES batch keys built exactly like
    # full-run keys
    new_keys = blocking_keys(new_docs, state.idf, cfg)

    # Blocks that can produce a NEW pair are exactly the blocks holding
    # >= 1 batch doc. The semi-join pulls every old member of those
    # keys, so block sizes (and therefore the max_block purge) are
    # evaluated at UNION size — identical to a full recompute — and
    # only new-old and new-new pairs are generated.
    batch_block_keys = new_keys.select("key").distinct()
    old_in_blocks = state.keys.join(batch_block_keys, "key", "semi")
    pairs = pair_stage(new_keys, cfg, old_keys=old_in_blocks)
    if cfg.cache:
        pairs = pairs.persist()

    # Hydration runs against the full doc table: the scorer's equi-joins
    # on id_a/id_b already touch only docs that appear in a pair, so a
    # prune-first semi-join would just add a pass (measured: a semi-join
    # "optimization" here cost 9.8s vs 3.7s without, re-evaluated once
    # per hydration side). The stored docs part has no bucket spec, so
    # at 10^12 docs this join shuffles the docs side; locally the docs
    # side broadcasts.
    docs_union = state.docs.unionByName(new_docs)

    # scored ONCE: the match edges, the cluster merge and the commit's
    # scored delta read this cut instead of re-running the scorer. The
    # cut has no lineage above it, so nothing reads the IDF broadcast
    # after it: destroy it here, whether or not the caller unpersists.
    idf_bcast, default_idf = broadcast_idf_map(state.idf, cfg)
    scored = score_stage(
        pairs, docs_union, idf_bcast, default_idf, cfg
    ).localCheckpoint(eager=True)
    idf_bcast.destroy()
    matches = match_stage(scored, cfg)

    clusters, affected, changed = _merge_clusters(state.clusters, matches, new_docs)

    source = state.source
    if source is not None:
        source = (source[0], (*source[1], uuid.uuid4().hex))
    new_state = MatchState(
        docs=docs_union,
        keys=state.keys.unionByName(new_keys),
        idf=state.idf,
        clusters=clusters,
        cfg=cfg,
        scored=state.scored.unionByName(scored),
        source=source,
    )
    return IncrementalResult(
        state=new_state, new_docs=new_docs, new_keys=new_keys, pairs=pairs,
        scored=scored, matches=matches,
        affected_clusters=affected, cluster_changed=changed,
    )


def _merge_clusters(
    prior: DataFrame, matches: DataFrame, new_docs: DataFrame
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Fold new match edges into prior clusters, touching only clusters
    a new edge reaches.

    Prior clusters enter connected components as STAR edges
    (member -> cluster_id): stars preserve both connectivity and the
    component minimum (cluster_id IS the min member id), so CC over
    (affected stars ∪ new edges) reproduces the full-graph components
    for the affected subgraph — in ~1 round, since stars are already
    collapsed. Unaffected clusters never enter the plan: their rows
    pass through an anti-join verbatim.

    ``matches`` is referenced by several branches here (endpoints,
    affected set, CC input); it filters the scored cut incremental_match
    takes, so each branch re-reads materialized rows, never the scorer.
    ``affected`` is cut once more: it is read by three branches and
    sits atop a scan of ``prior``. ``prior`` itself is deliberately NOT
    cached — at corpus scale it is a stored table, and the few narrow
    scans of it here are the honest cost (measured: without these cuts
    the bench's incremental leg re-ran the scorer 4x, 63s for a batch
    whose single-pass cost is a few seconds).
    """
    new_edges = matches.select("id_a", "id_b")
    endpoint_ids = (
        new_edges.select(F.col("id_a").alias("doc_id"))
        .unionByName(new_edges.select(F.col("id_b").alias("doc_id")))
        .distinct()
    )
    affected = (
        prior.join(endpoint_ids, "doc_id", "semi")
        .select("cluster_id")
        .distinct()
        .localCheckpoint(eager=True)
    )
    affected_members = prior.join(affected, "cluster_id", "semi")
    stars = affected_members.filter(F.col("doc_id") != F.col("cluster_id")).select(
        F.col("doc_id").alias("id_a"), F.col("cluster_id").alias("id_b")
    )
    changed_ids = affected_members.select("doc_id").unionByName(
        new_docs.select("doc_id")
    )
    changed = cluster_stage(changed_ids, stars.unionByName(new_edges))
    unchanged = prior.join(affected, "cluster_id", "left_anti")
    return unchanged.unionByName(changed), affected, changed


# --- state persistence -------------------------------------------------

_PARTS = ("docs", "keys", "idf", "clusters", "scored")


def _manifest(state: MatchState, generation: int, base: dict | None = None) -> dict:
    """The manifest publishing ``state``, listing ``base``'s parts (none
    by default): its commit id is the last of its lineage (the one a
    grow of it names as its base), or fresh."""
    src = state.source
    return {
        "generation": generation, "id": src[1][-1] if src else uuid.uuid4().hex,
        "config": asdict(state.cfg), "parts": base["parts"] if base else {},
        "schemas": base["schemas"] if base else {},
    }


def save_state(state: MatchState, path: str) -> None:
    """Persist the state under ``path``, any Hadoop path or URI
    (relative ones resolve against the filesystem's working
    directory), as a full snapshot: every part goes to fresh
    directories that one manifest rename publishes as the next
    generation (:class:`_StateDir`), so a kill leaves the previous
    generation and saving over the path the state was loaded from is
    safe. The MatchConfig persists with the state, and
    :func:`load_state` loads under it: reloaded with the default one, a
    state built under other blocking parameters would compute batch
    keys in the wrong key space (missed matches, no error), and a
    recalibrated one would grow under the old match predicate. A
    ``CalibratedModel`` applied by rethreshold(model=) is saved as that
    config's blend and threshold.

    ``clusters`` is an iterative result (connected components), so the
    write doubles as its durable materialization — the natural batch
    boundary a nightly-crawl job commits at.

    ``scored`` persists alongside — it is what makes post-hoc
    recalibration free of the Arrow scorer (see rethreshold()).
    """
    d = _StateDir(state.docs.sparkSession, path)
    top = d.manifest()
    m = _manifest(state, top["generation"] + 1 if top else 1)
    for part in _PARTS:
        d.write(m, part, getattr(state, part))
    d.publish(m)


def load_state(spark: SparkSession, path: str) -> MatchState:
    """Load a :func:`save_state` save (exactly what the newest manifest
    lists), stamped with its ``source``, under the config it was saved
    with — the state's one match predicate, a model applied by
    rethreshold(model=) included. Saved options MatchConfig no longer
    has are dropped."""
    d = _StateDir(spark, path)
    m = d.manifest()
    if m is None:
        raise ValueError(f"no state manifest (manifest-*.json) under {path!r}")
    known = {f.name for f in fields(MatchConfig)}
    cfg = MatchConfig(**{k: v for k, v in m["config"].items() if k in known})
    return MatchState(
        **{part: d.read(m, part) for part in _PARTS}, cfg=cfg,
        source=(d.root, (m["id"],)),
    )


def commit_increment(result: IncrementalResult, path: str) -> None:
    """Commit an :func:`incremental_match` result IN PLACE at ``path``
    with O(batch) writes — the nightly-crawl commit.

    :func:`save_state` rewrites every part: O(corpus) per batch, which
    at 10^12 docs dwarfs the batch's own compute. The grow step only
    adds rows, except to clusters, so when the result's base is the
    commit stored at ``path`` (the last but one id of
    ``result.state.source``'s lineage) this writes:

    - ``docs`` / ``keys`` / ``scored``: the batch deltas (``new_docs``,
      ``new_keys``, ``scored``) — O(batch);
    - ``idf``: nothing — it is the frozen external dictionary the
      state was built under (see :func:`initial_state`);
    - ``clusters``: the merged clusters, the one part with in-place
      mutations. Still O(corpus), but the narrowest part (two ids per
      doc).

    All of them go to fresh directories, and one manifest publish adds
    the deltas to the base's lists and replaces the clusters list; a
    kill at any write leaves the base.

    If ``path`` holds a commit outside the result's lineage (another
    commit landed after the base was loaded) this refuses: a delta
    would lose that commit's rows, and so would a snapshot. Any other
    result commits as a full snapshot through :func:`save_state`: one
    with no ``source`` (upsert_pages, a remove_docs or rethreshold
    base), one loaded elsewhere, or the last of several grows of which
    the earlier ones were never committed. A publish keeps only what
    the two newest generations list, so re-load the state after a
    commit.
    """
    state, src = result.state, result.state.source
    d = _StateDir(state.docs.sparkSession, path)
    base = d.manifest()
    if src is None or src[0] != d.root or base is None:
        return save_state(state, path)
    if base["id"] not in src[1]:
        raise ValueError(
            f"{path!r} holds commit {base['id']} (generation "
            f"{base['generation']}), which this result does not build on: "
            "another commit landed after the base was loaded. Load the "
            "state again and re-run the batch."
        )
    if src[1][-2:-1] != (base["id"],):  # an ancestor further back
        return save_state(state, path)
    m = _manifest(state, base["generation"] + 1, base)
    for part, delta in (("docs", result.new_docs), ("keys", result.new_keys),
                        ("scored", result.scored)):
        d.write(m, part, delta, append=True)
    d.write(m, "clusters", state.clusters)
    d.publish(m)


def rethreshold(
    state: MatchState,
    threshold: float | None = None,
    weights: dict[str, float] | None = None,
    model=None,
) -> MatchState:
    """Re-derive matches and clusters from the stored scored-pair table
    WITHOUT re-running blocking or the Arrow scorer.

    Recalibration is the routine operational event this exists for:
    ``operators.calibrate.calibrate_from_labeled_pairs`` hands back a
    new threshold (or a whole new blend over the same five features),
    and applying it is pure column math over ``state.scored`` plus one
    connected-components pass over the resulting edge set. Candidate
    generation is threshold-independent, so the result equals a full
    pipeline re-run at the new setting row for row (value-checked by
    the ``rethreshold_clusters`` contract query; same purge-cap caveat
    as the module contract). Cost at 10^12 docs: one scan of the
    stored scored-pair table + CC over the matches — no doc-table,
    key-table, or Python touch.

    Exactly one calibration shape:
      - ``threshold``: new cut on the existing affine ``score``;
      - ``weights`` (+ optional ``threshold``): re-blend the stored
        feature columns, cut at the new/current threshold;
      - ``model``: an ``operators.calibrate.CalibratedModel``. Its
        logistic cut ``sigmoid(bias + w·f) >= p`` holds exactly when
        ``w·f >= logit(p) - bias``, so it runs as the ``weights`` shape
        with ``weights = model.weights`` and ``threshold = logit(p) -
        bias``; ``p`` must lie in (0, 1).

    The returned state's ``cfg`` and ``scored.score`` carry the new
    blend, so a model or weights ride the saved config: a later grow,
    delete or reload matches under the predicate that decided its
    clusters.

    Retention dial: the scored table is the recalibration asset and
    grows with every batch. If recalibration below some floor will
    never happen, persist ``state.scored.filter(score >= floor)``
    before save_state — every rethreshold at or above the floor stays
    exact (re-BLENDS need the full table: a new weighting can lift a
    pair from any score).
    """
    if model is not None:
        if threshold is not None or weights is not None:
            raise ValueError("pass either model= or threshold=/weights=, not both")
        p = model.threshold
        if not 0.0 < p < 1.0:
            raise ValueError(
                f"model threshold {p!r} is a probability and must lie in (0, 1)"
            )
        weights, threshold = model.weights, math.log(p / (1.0 - p)) - model.bias
    cfg = state.cfg
    if threshold is not None:
        cfg = replace(cfg, threshold=threshold)
    scored = state.scored
    if weights is not None:
        cfg = replace(cfg, weights=dict(weights))
        blend = sum((F.col(k) * F.lit(w) for k, w in weights.items()), F.lit(0.0))
        scored = scored.withColumn("score", blend)
    return MatchState(
        docs=state.docs, keys=state.keys, idf=state.idf,
        clusters=cluster_stage(state.docs, match_stage(scored, cfg)),
        cfg=cfg, scored=scored,
    )


def remove_docs(state: MatchState, doc_ids: DataFrame) -> MatchState:
    """Delete docs from the state without rescoring anything — the
    take-down / expired-crawl half of the state lifecycle
    (incremental_match grows it, this shrinks it).

    ``doc_ids``: one-column DataFrame of ids to drop (column name is
    taken as the id; extra columns rejected to catch mistakes).

    Every table shrinks by anti-join; clusters are re-derived ONLY for
    clusters that lose a member: surviving match edges inside those
    clusters (pure column math over the stored scored-pair table — no
    blocking, no Arrow scorer) go through one connected-components
    pass, and every untouched cluster's rows pass through an anti-join
    verbatim. Cost at 10^12 docs: anti-joins against a broadcastable
    delete set + CC over the affected subgraph only.

    Exactness (mirror of the module's grow-side contract, same frozen
    IDF requirement): ``remove_docs(state, D).clusters ==
    match_pipeline(corpus \\ D).clusters`` row for row, PROVIDED no
    blocking key crosses the ``max_block`` purge cap DOWNWARD — blocks
    only lose members on delete, and a block purged in the original
    run that falls back under the cap would contribute pairs the state
    never scored (the full run would score them). Tested in
    tests/test_incremental_batch.py including min-member deletion
    (cluster ids re-anchor to the new min) and whole-cluster deletion.
    """
    if len(doc_ids.columns) != 1:
        raise ValueError(f"doc_ids must be one column, got {doc_ids.columns}")
    cfg = state.cfg
    gone = (
        doc_ids.select(F.col(doc_ids.columns[0]).alias("doc_id"))
        .distinct()
        .localCheckpoint(eager=True)  # read by 5 anti/semi branches
    )
    gone_a = gone.select(F.col("doc_id").alias("id_a"))
    gone_b = gone.select(F.col("doc_id").alias("id_b"))

    docs = state.docs.join(gone, "doc_id", "anti")
    keys = state.keys.join(gone, "doc_id", "anti")
    scored = (
        state.scored.join(gone_a, "id_a", "anti").join(gone_b, "id_b", "anti")
    )

    prior = state.clusters
    affected = (
        prior.join(gone, "doc_id", "semi")
        .select("cluster_id")
        .distinct()
        .localCheckpoint(eager=True)  # read by 2 branches, sits atop prior
    )
    # Remaining members of affected clusters. Surviving match edges are
    # intra-cluster by construction (matches are transitively connected),
    # so membership of id_a alone decides whether an edge is affected.
    remaining = (
        prior.join(affected, "cluster_id", "semi")
        .join(gone, "doc_id", "anti")
        .select("doc_id")
    )
    edges = (
        match_stage(scored, cfg)
        .select("id_a", "id_b")
        .join(remaining.withColumnRenamed("doc_id", "id_a"), "id_a", "semi")
    )
    changed = cluster_stage(remaining, edges)
    unchanged = prior.join(affected, "cluster_id", "left_anti")
    return MatchState(
        docs=docs, keys=keys, idf=state.idf,
        clusters=unchanged.unionByName(changed), cfg=cfg, scored=scored,
    )


def upsert_pages(state: MatchState, pages: DataFrame) -> IncrementalResult:
    """Re-crawl upsert: pages whose id already exists in the state are
    REPLACED (their old text, keys, scored pairs, and cluster edges are
    retired), then the whole batch is matched in as new — equal to a
    full recompute over ``(corpus \\ re-crawled ids) ∪ batch`` under
    the same frozen-IDF + purge-cap contracts as remove_docs and
    incremental_match. This is the nightly-crawl shape for a corpus
    keyed by url: the same url at a newer ``warc_ts`` supersedes.
    """
    idc = state.cfg.id_col
    # dedup WITHIN the batch first: a nightly crawl can carry the same
    # url twice — unfiltered, both copies match in as new docs and the
    # state gains duplicate doc_id rows every later batch compounds.
    # Newest warc_ts wins (the exact "supersedes" promise), ties broken
    # by text hash for determinism; without a warc_ts column duplicate
    # ids are ambiguous, so refuse loudly.
    if "warc_ts" in pages.columns:
        from pyspark.sql import Window

        order = [F.desc("warc_ts")]
        if state.cfg.text_col in pages.columns:
            order.append(F.desc(F.md5(F.col(state.cfg.text_col))))
        w = Window.partitionBy(idc).orderBy(*order)
        pages = (
            pages.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
    elif (
        pages.groupBy(idc).count().filter(F.col("count") > 1).limit(1).count()
        > 0
    ):
        raise ValueError(
            f"batch contains duplicate {idc!r} values and no warc_ts "
            "column to pick the newest — dedup the batch first"
        )

    ids = pages.select(F.col(idc).alias("doc_id"))
    present = state.docs.join(ids, "doc_id", "semi").select("doc_id")
    # remove_docs clears the state's source, so the result commits as a
    # full snapshot: its deltas retire stored rows, not only add them
    return incremental_match(remove_docs(state, present), pages)
