#!/usr/bin/env python3
"""Run one workload of the entity-matching benchmark.

    python3 linkbench/run.py --workload full_link --seed 1 --seconds 25 --trace 0

Prints a report line (the workload's metrics under their own names, with
unit and direction), then as its last line one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones of BENCHMARK.json; with ``--trace 1`` the
per-layer ones, from traced operations (spans are written to
``.linkbench_out/``). See linkbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent

# Sizes, measured at local[4] (see README.md). A link of 400 docs takes
# 8-12 s warm and twice that in a cold JVM; scoring is its largest
# layer. A lookup request costs 3.5-6 s whatever its size: that is fixed
# Spark job overhead. A run is sized to take about a minute, of which
# about 20 s are timed operations.
N_DOCS = 400           # pages linked by full_link
BATCH_DOCS = 40        # pages of the grow batch: 10%, whole clusters
WARMUP_DOCS = 40       # pages of the untimed warm-up link
PER_REQUEST = 64       # queries per lookup request
N_REQUESTS = 64        # requests generated; the timed loop cycles through them
# untimed requests after the index build: the first takes twice as long
# as the next, and they keep getting faster for a few more
WARMUP_REQUESTS = 2
# operations timed at least, even when they outlast --seconds: two
# links for the cross-repetition check, three requests for a median
MIN_OPS = {"full_link": 2, "lookup": 3}
WORKLOADS = tuple(MIN_OPS)

LAYERS = (
    "bench", "functions.text", "operators.posting", "plans.pipeline",
    "operators.blocking", "operators.scoring", "operators.clustering",
    "plans.incremental", "plans.matcher",
)
LAYER_METRICS = {
    "text.prepare_s": "s", "text.docs": "count",
    "posting.idf_s": "s", "posting.vocab": "count", "posting.idf_collect_s": "s",
    "blocking.keys_s": "s", "blocking.keys": "count",
    "blocking.pairs_s": "s", "blocking.pairs": "count",
    "blocking.pairs_per_doc": "ratio", "blocking.purged_blocks": "count",
    "scoring.score_s": "s", "scoring.pairs_per_s": "1/s",
    "scoring.match_ratio": "ratio",
    "clustering.cc_s": "s", "clustering.matches": "count",
    "clustering.clusters": "count", "clustering.max_cluster": "count",
    "incremental.grow_s": "s", "incremental.load_s": "s",
    "incremental.match_s": "s", "incremental.pairs_s": "s",
    "incremental.batch_pairs": "count", "incremental.score_s": "s",
    "incremental.merge_s": "s", "incremental.affected_clusters": "count",
    "incremental.commit_s": "s", "incremental.bytes_written": "B",
    "incremental.write_amp": "ratio",
    "matcher.index_s": "s", "matcher.interpret_s": "s",
    "matcher.alternatives": "count", "matcher.spans_out": "count",
    "spark.jobs": "count", "spark.tasks": "count", "spark.failed_tasks": "count",
    "trace.overhead_s": "s", "trace.grow_overhead_s": "s",
    **{f"self_s.{layer}": "s" for layer in LAYERS},
}


class Tally:
    """Operations attempted and failed. A failed output check counts as
    a failed operation."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def run(self, fn, *args):
        """Call ``fn``; on an exception print it, count a failure and
        return None."""
        self.attempted += 1
        try:
            return fn(*args)
        except Exception:
            traceback.print_exc()
            self.failed += 1
            return None

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            print(f"check failed: {what}", file=sys.stderr)
            self.failed += 1


def timed(fn, *args):
    t = time.perf_counter()
    out = fn(*args)
    return out, time.perf_counter() - t


class Run:
    """One workload in its own Spark session: ``setup`` (timed as
    setup_s), then either the measured loop or the traced operations."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, work: Path):
        from linkbench import ops
        from linkbench.helpers import make_inputs

        self.ops = ops
        self.workload, self.seed, self.seconds, self.work = workload, seed, seconds, work
        self.trace = trace
        self.tally = Tally()
        self.inputs = make_inputs(seed, N_DOCS, BATCH_DOCS, N_REQUESTS, PER_REQUEST)
        self.spark = None

    # --- setup ---------------------------------------------------------

    def setup(self) -> None:
        from entitymatch_spark.plans.pipeline import MatchConfig

        self.spark = self.ops.start_session(self.work)
        self.cfg = MatchConfig()
        getattr(self, f"_setup_{self.workload}")()
        self.spark.catalog.clearCache()

    def _setup_full_link(self) -> None:
        ops, inp = self.ops, self.inputs
        self.pages = ops.to_spark(self.spark, inp.pages, ops.PAGES_SCHEMA)
        self.labels = ops.to_spark(self.spark, inp.labels, ops.LABELS_SCHEMA)
        if self.trace:
            # building the state is a link of 90% of the corpus, which
            # also warms the JVM
            self._setup_grow()
        else:
            # a cold JVM links at about half speed, whatever the corpus size
            warm = ops.to_spark(self.spark, inp.pages.iloc[:WARMUP_DOCS], ops.PAGES_SCHEMA)
            ops.link(warm, self.cfg)

    def _setup_grow(self) -> None:
        """The nightly grow's inputs: the batch, and a saved standing
        state of the rest of the corpus built under the whole corpus's
        IDF, frozen. That IDF is the one ``match_pipeline(pages)``
        computes, so a link of the whole corpus is the grow's oracle."""
        ops, inp = self.ops, self.inputs
        mask = inp.batch_mask
        base = ops.to_spark(self.spark, inp.pages[~mask], ops.PAGES_SCHEMA)
        self.batch = ops.to_spark(self.spark, inp.pages[mask], ops.PAGES_SCHEMA)
        self.batch_docs = int(mask.sum())
        self.batch_bytes = sum(len(t.encode()) for t in inp.pages[mask]["text"])
        idf = ops.frozen_idf(self.pages, self.cfg, N_DOCS).persist()
        self.saved = self.work / "state_saved"
        ops.build_state(base, self.cfg, idf, self.saved)

    def _setup_lookup(self) -> None:
        ops, inp = self.ops, self.inputs
        entities = ops.to_spark(self.spark, inp.entities, ops.ENTITIES_SCHEMA)
        self.synonyms = ops.to_spark(
            self.spark, inp.synonyms, ops.SYNONYMS_SCHEMA
        ).persist()
        self.index, self.index_s = timed(ops.build_index, entities)
        for req in self.inputs.requests[-WARMUP_REQUESTS:]:
            ops.lookup(self.spark, self.index, self.synonyms, req)

    # --- one operation -------------------------------------------------

    def op(self, i: int) -> float | None:
        """Run operation ``i`` of the workload, check its output, and
        return its wall time (None when it raised)."""
        return getattr(self, f"_op_{self.workload}")(i)

    def _op_full_link(self, i: int) -> float | None:
        # MatchResult has no unpersist: drop the previous link's cache
        self.spark.catalog.clearCache()
        out = self.tally.run(timed, self.ops.link, self.pages, self.cfg)
        if out is None:
            return None
        (res, n), dt = out
        self.n_clusters = getattr(self, "n_clusters", n)
        self.tally.check(n == self.n_clusters, f"cluster count {n} != {self.n_clusters}")
        self.last_link = res
        return dt

    def _op_lookup(self, i: int) -> float | None:
        from linkbench.helpers import recall_hits

        req = self.inputs.requests[i % (N_REQUESTS - WARMUP_REQUESTS)]
        out = self.tally.run(
            timed, self.ops.lookup, self.spark, self.index, self.synonyms, req
        )
        if out is None:
            return None
        rows, dt = out
        self.hits = getattr(self, "hits", 0) + recall_hits(req, rows)
        self.queries = getattr(self, "queries", 0) + len(req)
        return dt

    # --- measured loop -------------------------------------------------

    def measure(self) -> tuple[dict, dict]:
        """Time operations back to back: as many as fit in ``seconds``
        judging by the last one, and at least MIN_OPS. Returns (report,
        end-to-end metrics): the report names each metric as README.md
        does, the metrics use the names BENCHMARK.json shares across
        workloads."""
        from linkbench.helpers import TAIL_BEYOND, tail_percentile

        times, i, last = [], 0, 0.0
        t_end = time.perf_counter() + self.seconds
        while i < MIN_OPS[self.workload] or time.perf_counter() + last <= t_end:
            t = time.perf_counter()
            dt = self.op(i)
            last = time.perf_counter() - t
            if dt is not None:
                times.append(dt)
            i += 1
        if not times:
            raise RuntimeError("no operation succeeded")
        p50 = statistics.median(times)
        if self.workload == "full_link":
            f1 = self.ops.link_f1(self.last_link, self.labels)
            self.tally.check(f1 >= 0.99, f"link F1 {f1} < 0.99")
            report = {
                "link_s": (p50, "s", "lower"),
                "link_docs_per_s": (N_DOCS / p50, "docs/s", "higher"),
                "link_f1": (f1, "ratio", "higher"),
            }
            work, quality = "link_docs_per_s", "link_f1"
        else:
            report = {
                "lookup_p50_s": (p50, "s", "lower"),
                "lookups_per_s": (self.queries / sum(times), "queries/s", "higher"),
                "lookup_recall": (self.hits / self.queries, "ratio", "higher"),
            }
            work, quality = "lookups_per_s", "lookup_recall"
            if len(times) > TAIL_BEYOND:
                pct, tail = tail_percentile(times)
                report["lookup_tail_s"] = (tail, "s", "lower")
                report["lookup_tail_pct"] = (pct, "%", None)
        report["samples"] = (len(times), "count", None)
        report["times_s"] = (times, "s", None)
        metrics = {
            "op_p50_s": (p50, "s"),
            "work_per_s": (report[work][0], "1/s"),
            "quality": report[quality][:2],
        }
        return report, metrics

    # --- traced operations ---------------------------------------------

    def traced(self) -> tuple[dict, dict]:
        """The workload's operation untraced (with its Spark job counts)
        and then traced, on the same input. ``full_link`` then does the
        same for the nightly grow: the batch's whole clusters held out
        of the linked corpus, grown into a saved state of the rest. The
        spans go to ``.linkbench_out/``."""
        from linkbench.helpers import Tracer, self_times

        ops, spark = self.ops, self.spark
        tr, op = Tracer(), f"{self.workload}-{self.seed}"
        group = f"{op}-untraced"
        spark.sparkContext.setJobGroup(group, group)
        dt = self.op(0)
        jobs, tasks, failed = ops.job_counts(spark, group)
        spark.sparkContext.setJobGroup("traced", "traced")
        spark.catalog.clearCache()
        report = {}
        if self.workload == "full_link":
            out = self.tally.run(ops.traced_link, tr, op, self.pages, self.cfg)
            m = None
            if out is not None:
                m, res = out
                m.update(self._traced_grow(tr, ops.clusters_rows(res.clusters), report))
        else:
            req = self.inputs.requests[0]
            m = self.tally.run(
                ops.traced_lookup, tr, op, spark, self.index, self.synonyms, req
            )
            if m is not None:
                m["matcher.index_s"] = self.index_s
        if m is None or dt is None:
            raise RuntimeError("the traced or the untraced operation failed")
        tr.write(ROOT / ".linkbench_out" / f"spans-{op}.jsonl")
        roots = {s.op: s for s in tr.spans if s.parent is None}
        m["trace.overhead_s"] = (roots[op].end - roots[op].start) - dt
        m.update({"spark.jobs": jobs, "spark.tasks": tasks, "spark.failed_tasks": failed})
        selfs = self_times([s for s in tr.spans if not s.op.endswith("-side")])
        for layer in LAYERS:
            m[f"self_s.{layer}"] = selfs.get(layer, 0.0)
        # a layer this workload never calls is measured as doing nothing
        metrics = {k: (m.get(k, 0), unit) for k, unit in LAYER_METRICS.items()}
        return report, metrics

    def _traced_grow(self, tr, oracle: list, report: dict) -> dict:
        """Grow a fresh copy of the saved state by the batch untraced and
        check the grown clusters against ``oracle``, the clusters of a
        full link (the exactness contract of plans.incremental); then
        grow another fresh copy traced."""
        from linkbench.helpers import reset_state_copy

        ops, spark, saved = self.ops, self.spark, self.saved
        spark.catalog.clearCache()
        path = reset_state_copy(saved, self.work / "state_run")
        out = self.tally.run(timed, ops.grow, spark, path, self.batch)
        if out is None:
            return {}
        grown, dt = out
        rows = ops.clusters_rows(grown)
        exact = sum(a == b for a, b in zip(rows, oracle)) / len(oracle)
        self.tally.check(rows == oracle, "grown clusters != full recompute")
        report.update({
            "grow_s": (dt, "s", "lower"),
            "grow_docs_per_s": (self.batch_docs / dt, "docs/s", "higher"),
            "grow_exact": (exact, "ratio", "higher"),
        })

        spark.catalog.clearCache()
        path = reset_state_copy(saved, self.work / "state_run")
        gop = f"grow_batch-{self.seed}"
        m = self.tally.run(
            ops.traced_grow, tr, gop, spark, path, self.batch, self.batch_bytes
        )
        if m is None:
            return {}
        root = next(s for s in tr.spans if s.op == gop and s.parent is None)
        m["incremental.grow_s"] = dt
        m["trace.grow_overhead_s"] = (root.end - root.start) - dt
        return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not (ROOT / "entitymatch_spark" / "__init__.py").is_file():
        print(f"engine package entitymatch_spark not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from linkbench.helpers import PeakRss

    work = ROOT / ".linkbench_work" / f"{args.workload}-{args.seed}"
    shutil.rmtree(work, ignore_errors=True)
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace), work)
    t0 = time.perf_counter()
    try:
        run.setup()
        setup_s = time.perf_counter() - t0
        if args.trace:
            report, metrics = run.traced()
        else:
            # the workload's operations only, not the set-up before them
            with PeakRss(run.ops.jvm_pid(run.spark)) as rss:
                report, metrics = run.measure()
            report["setup_s"] = metrics["setup_s"] = (setup_s, "s")
            report["peak_rss_mb"] = metrics["peak_rss_mb"] = (rss.peak_kb / 1024, "MB")
    finally:
        if run.spark is not None:
            run.ops.stop_session(run.spark)
        shutil.rmtree(work, ignore_errors=True)
        if work.parent.is_dir() and not any(work.parent.iterdir()):
            work.parent.rmdir()
    print(json.dumps({"workload": args.workload, "seed": args.seed, "report": {
        k: {"value": v[0], "unit": v[1], "better": v[2] if len(v) > 2 else "lower"}
        for k, v in report.items()
    }}))
    print(json.dumps({
        "correct": run.tally.failed == 0,
        "attempted": run.tally.attempted,
        "failed": run.tally.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
