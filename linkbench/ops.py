"""The benchmark's Spark side: session lifetime, the timed operations
through the engine's public entry points, and their traced walks.

Spans are recorded here, around each call into a layer; the engine
itself carries no tracing. A traced walk records two kinds of root span:
the operation itself, under the operation id, doing the same work as the
untraced operation but one stage at a time; and side measurements, under
``<op>-side``, that re-run a stage on its own to time it. Only the
operation's spans enter self time and tracing overhead.
"""

from __future__ import annotations

import os
import tempfile
import time
from pathlib import Path

from pyspark.sql import functions as F

from entitymatch_spark.functions.text import tokenize
from entitymatch_spark.operators.alternatives import spelling_alternatives
from entitymatch_spark.operators.evaluate import (
    blocking_stats,
    cluster_stats,
    pair_metrics,
)
from entitymatch_spark.operators.posting import build_posting, token_idf
from entitymatch_spark.plans.incremental import (
    commit_increment,
    incremental_match,
    initial_state,
    load_state,
    save_state,
)
from entitymatch_spark.plans.matcher import build_matcher_index, interpret
from entitymatch_spark.plans.pipeline import MatchConfig, match_pipeline, prepare_docs
from linkbench.helpers import Tracer, bytes_written, file_sizes

# local[k] with k = the cores this process may use, at most 4: the
# machine the sizes in README.md were measured on has 4
CPUS = min(4, len(os.sched_getaffinity(0)))


def start_session(work: Path):
    """A local Spark session whose scratch files all stay under ``work``."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    # the gateway handshake and the engine's worker zip go through
    # tempfile; python workers inherit TMPDIR from the JVM
    tempfile.tempdir = str(tmp)
    os.environ["TMPDIR"] = str(tmp)
    from entitymatch_spark.session import get_spark

    return get_spark(
        "linkbench",
        cpus=CPUS,
        extra_conf={
            "spark.driver.memory": "1g",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": str(work / "spark-local"),
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
            ),
        },
    )


def jvm_pid(spark) -> int:
    return spark.sparkContext._gateway.proc.pid


def stop_session(spark) -> None:
    """Stop Spark and wait until the driver JVM (and with it every
    python worker it forked) has exited."""
    proc = spark.sparkContext._gateway.proc
    try:
        spark.stop()
    finally:
        # the gateway JVM exits when its stdin closes
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def to_spark(spark, df, schema: str):
    return spark.createDataFrame(df, schema=schema)


PAGES_SCHEMA = (
    "url string, warc_ts timestamp, html binary, text string, lang string, "
    "cluster_id long"
)
LABELS_SCHEMA = "url_a string, url_b string, is_match boolean, block_key string"
ENTITIES_SCHEMA = "entity_id long, type string, phrase string"
SYNONYMS_SCHEMA = "token string, alt_token string, weight double"


def clusters_rows(df) -> list[tuple[str, str]]:
    return sorted((r["doc_id"], r["cluster_id"]) for r in df.collect())


def _dur(span) -> float:
    return span.end - span.start


# --- full link ----------------------------------------------------------


def link(pages, cfg: MatchConfig):
    """One full link, pages to materialized clusters. Returns the result
    and its cluster count."""
    res = match_pipeline(pages, cfg)
    n = res.clusters.select("cluster_id").distinct().count()
    return res, n


def link_f1(res, labels) -> float:
    lab = labels.select(
        F.col("url_a").alias("id_a"), F.col("url_b").alias("id_b"), "is_match"
    )
    return float(pair_metrics(res.matches, lab).collect()[0]["f1"])


def traced_link(tr: Tracer, op: str, pages, cfg: MatchConfig):
    """The work of :func:`link`, materialized one ``MatchResult`` field at
    a time in dependency order, each in its own span. Returns the
    per-layer metrics and the result.

    Each stage is cached as it is counted, so the next stage reads it
    instead of computing it again: ``docs`` and ``idf`` are built here
    with the pipeline's own plans, which the pipeline's ``docs.persist``
    and IDF-map collect then find in the cache; ``keys`` and ``scored``
    are cached for ``pairs`` and for ``matches`` and the clustering.
    """
    m = {}
    with tr.span("bench.full_link", op=op):
        with tr.span("functions.text.prepare_docs") as s:
            docs = prepare_docs(pages, cfg).persist()
            m["text.docs"] = docs.count()
        m["text.prepare_s"] = _dur(s)
        with tr.span("operators.posting.token_idf") as s:
            idf = token_idf(build_posting(docs, id_col="doc_id"), n_docs=m["text.docs"])
            m["posting.vocab"] = idf.persist().count()
        m["posting.idf_s"] = _dur(s)
        # the call's eager work is the (cached) docs count and the
        # collect of the bounded IDF map
        with tr.span("plans.pipeline.match_pipeline") as s:
            res = match_pipeline(pages, cfg)
        m["posting.idf_collect_s"] = _dur(s)
        with tr.span("operators.blocking.blocking_keys") as s:
            m["blocking.keys"] = res.keys.persist().count()
        m["blocking.keys_s"] = _dur(s)
        with tr.span("operators.blocking.candidate_pairs") as s:
            m["blocking.pairs"] = res.pairs.count()
        m["blocking.pairs_s"] = _dur(s)
        with tr.span("operators.scoring.score_pairs") as s:
            res.scored.persist().count()
        m["scoring.score_s"] = _dur(s)
        with tr.span("operators.scoring.threshold"):
            m["clustering.matches"] = res.matches.count()
        with tr.span("operators.clustering.connected_components") as s:
            m["clustering.clusters"] = res.clusters.select("cluster_id").distinct().count()
        m["clustering.cc_s"] = _dur(s)
    purged = blocking_stats(res.keys, max_block=cfg.max_block).agg(
        F.sum("n_purged")
    ).collect()[0][0]
    biggest = cluster_stats(res.clusters).agg(F.max("cluster_size")).collect()[0][0]
    m["blocking.pairs_per_doc"] = m["blocking.pairs"] / m["text.docs"]
    m["blocking.purged_blocks"] = int(purged or 0)
    m["scoring.pairs_per_s"] = m["blocking.pairs"] / m["scoring.score_s"]
    m["scoring.match_ratio"] = m["clustering.matches"] / max(1, m["blocking.pairs"])
    m["clustering.max_cluster"] = int(biggest)
    return m, res


# --- grow batch ---------------------------------------------------------


def frozen_idf(pages, cfg: MatchConfig, n_docs: int):
    """The IDF dictionary of the whole corpus: the frozen snapshot the
    standing state is built and grown under."""
    return token_idf(
        build_posting(prepare_docs(pages, cfg), id_col="doc_id"), n_docs=n_docs
    )


def build_state(base, cfg: MatchConfig, idf, path: Path) -> None:
    save_state(initial_state(base, cfg, idf=idf), str(path))


def grow(spark, path: Path, batch):
    """Load the stored state, match the batch in, commit it in place and
    read the grown clusters back. Returns the grown clusters frame."""
    res = incremental_match(load_state(spark, str(path)), batch)
    commit_increment(res, str(path))
    res.unpersist()
    grown = load_state(spark, str(path)).clusters
    grown.count()
    return grown


def traced_grow(tr: Tracer, op: str, spark, path: Path, batch, batch_bytes: int) -> dict:
    """The work of :func:`grow`, each public call in its own span.
    ``incremental_match`` runs the batch's pair generation, scoring and
    cluster merge inside one call, so after the operation a side span
    re-runs each of those on its own to time it."""
    m = {}
    with tr.span("bench.grow_batch", op=op):
        with tr.span("plans.incremental.load_state") as s:
            st = load_state(spark, str(path))
        m["incremental.load_s"] = _dur(s)
        with tr.span("plans.incremental.incremental_match") as s:
            res = incremental_match(st, batch)
        m["incremental.match_s"] = _dur(s)
        before = file_sizes(path)
        with tr.span("plans.incremental.commit_increment") as s:
            commit_increment(res, str(path))
        m["incremental.commit_s"] = _dur(s)
        m["incremental.bytes_written"] = bytes_written(before, file_sizes(path))
        with tr.span("plans.incremental.load_state"):
            load_state(spark, str(path)).clusters.count()
    with tr.span("bench.side", op=f"{op}-side"):
        with tr.span("plans.incremental.candidate_pairs") as s:
            res.pairs.unpersist()
            m["incremental.batch_pairs"] = res.pairs.persist().count()
        m["incremental.pairs_s"] = _dur(s)
        with tr.span("operators.scoring.score_pairs") as s:
            res.scored.write.format("noop").mode("overwrite").save()
        m["incremental.score_s"] = _dur(s)
        with tr.span("plans.incremental.merge_clusters") as s:
            m["incremental.affected_clusters"] = res.affected_clusters.count()
            res.cluster_changed.count()
        m["incremental.merge_s"] = _dur(s)
    res.unpersist()
    m["incremental.write_amp"] = m["incremental.bytes_written"] / batch_bytes
    return m


# --- lookup -------------------------------------------------------------


def build_index(entities):
    """The matcher index, materialized: its tables are cached and counted
    so requests read them instead of re-deriving them."""
    index = build_matcher_index(entities)
    for part in ("posting", "idf", "totals", "vocab"):
        getattr(index, part).persist().count()
    return index


def _queries(spark, request):
    return spark.createDataFrame(
        [(x.query_id, x.text) for x in request], "query_id long, text string"
    )


def lookup(spark, index, synonyms, request) -> list:
    return interpret(_queries(spark, request), index, synonyms=synonyms).collect()


def traced_lookup(tr: Tracer, op: str, spark, index, synonyms, request) -> dict:
    """The work of :func:`lookup` in spans; then, as a side measurement,
    the size of the request's spelling expansion."""
    m = {}
    with tr.span("bench.lookup", op=op):
        q = _queries(spark, request)
        with tr.span("plans.matcher.interpret") as s:
            rows = interpret(q, index, synonyms=synonyms).collect()
        m["matcher.interpret_s"] = _dur(s)
    m["matcher.spans_out"] = len(rows)
    with tr.span("bench.side", op=f"{op}-side"):
        with tr.span("operators.alternatives.spelling_alternatives"):
            probe = q.select(F.explode(tokenize("text")).alias("token")).distinct()
            m["matcher.alternatives"] = spelling_alternatives(
                probe, index.vocab, max_edit=1
            ).count()
    return m


# --- spark job counts ---------------------------------------------------


def job_counts(spark, group: str) -> tuple[int, int, int]:
    """(jobs, completed tasks, failed tasks) of one job group, read from
    the status tracker once every job of the group has finished."""
    st = spark.sparkContext.statusTracker()
    deadline = time.monotonic() + 10
    while True:
        infos = [st.getJobInfo(j) for j in st.getJobIdsForGroup(group)]
        done = all(i is not None and i.status in ("SUCCEEDED", "FAILED") for i in infos)
        if done or time.monotonic() > deadline:
            break
        time.sleep(0.05)
    stages = {sid for i in infos if i is not None for sid in i.stageIds}
    tasks = failed = 0
    for sid in stages:
        info = st.getStageInfo(sid)
        if info is not None:
            tasks += info.numCompletedTasks
            failed += info.numFailedTasks
    return len(infos), tasks, failed
