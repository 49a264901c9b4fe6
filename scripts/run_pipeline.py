#!/usr/bin/env python
"""spark-submit entry point for the record-linkage pipeline and its
state lifecycle.

One-shot run (the original surface):

    spark-submit --py-files entitymatch_spark.zip scripts/run_pipeline.py \
        --input /path/to/pages_parquet --output /path/to/out \
        [--no-lsh] [--threshold 0.6] [--idf-max-entries 2000000] \
        [--resume-dir /path/to/ckpt]

State lifecycle (plans/incremental.py — the nightly-crawl deployment):

    ... run_pipeline.py --mode build  --input pages  --output out --state-out st
    ... run_pipeline.py --mode grow   --input batch  --output out \
            --state-dir st               # score only batch-touching pairs
    ... run_pipeline.py --mode upsert --input recrawl --output out \
            --state-dir st               # same-url fresher-crawl replace
    ... run_pipeline.py --mode remove --delete-ids ids_parquet --output out \
            --state-dir st               # take-down / expiry
    ... run_pipeline.py --mode rethreshold --threshold 0.7 --output out \
            --state-dir st               # recalibrate, no rescoring

Every mode writes (url, cluster_id) parquet under --output plus a
metrics.json. State modes load the state under the MatchConfig saved
with it; --no-lsh, --idf-max-entries and --threshold may only restate
it (in rethreshold, --threshold is the new threshold). They commit the
successor state to --state-out, which defaults to --state-dir: in
place. Both take any Hadoop path or URI (local, file://, hdfs://); a
relative one such as ``st`` resolves against the filesystem's working
directory. A stored state is a set of immutable part directories made
visible by one manifest rename, so a kill mid-commit leaves the
previous generation. grow and upsert commit through commit_increment
(grow as O(batch) delta writes when the target holds its base);
remove and rethreshold save the whole state. On a cluster,
master/executor sizing come from spark-submit flags; this script only
declares plans.

The --py-files zip is optional: ensure_workers_can_import() zips and
ships the package to executor python workers automatically (works for
local and cluster masters alike).
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))


def build_parser() -> argparse.ArgumentParser:
    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--mode",
        choices=["run", "build", "grow", "upsert", "remove", "rethreshold"],
        default="run",
        help="run = one-shot pipeline (default); the rest operate on a "
        "persisted MatchState (plans/incremental.py)",
    )
    ap.add_argument("--input", default=None, help="pages parquet dir")
    ap.add_argument("--output", required=True, help="output dir")
    ap.add_argument("--threshold", type=float, default=None)
    ap.add_argument("--no-lsh", action="store_true")
    ap.add_argument("--idf-max-entries", type=int, default=None)
    ap.add_argument("--resume-dir", default=None,
                    help="checkpoint workdir, any Hadoop path or URI "
                    "(local, file://, hdfs://): enables manifest "
                    "commit/resume (mode=run only)")
    ap.add_argument("--state-dir", default=None,
                    help="existing MatchState, any Hadoop path or URI, "
                    "relative ones included (grow/upsert/remove/"
                    "rethreshold)")
    ap.add_argument("--state-out", default=None,
                    help="where to commit the successor state, any Hadoop "
                    "path or URI, relative ones included (build/grow/"
                    "upsert/remove/rethreshold); default --state-dir")
    ap.add_argument("--delete-ids", default=None,
                    help="one-column parquet of ids to retire (mode=remove)")
    return ap


def run(args, spark) -> dict:
    from entitymatch_spark.plans.incremental import (
        commit_increment,
        incremental_match,
        initial_state,
        load_state,
        remove_docs,
        rethreshold,
        save_state,
        upsert_pages,
    )
    from entitymatch_spark.plans.pipeline import MatchConfig, match_pipeline
    from entitymatch_spark.session import ensure_workers_can_import

    ensure_workers_can_import(spark)

    # the MatchConfig fields the caller's flags set; the rest keep
    # MatchConfig's defaults (idf_max_entries: its bounded default)
    flags = {
        "--no-lsh": ("use_lsh", False if args.no_lsh else None),
        "--idf-max-entries": ("idf_max_entries", args.idf_max_entries),
        "--threshold": (
            "threshold", args.threshold if args.mode != "rethreshold" else None
        ),
    }
    passed = {flag: fv for flag, fv in flags.items() if fv[1] is not None}
    cfg = MatchConfig(**dict(passed.values()))

    needs_input = args.mode in ("run", "build", "grow", "upsert")
    if needs_input and not args.input:
        raise SystemExit(f"--input is required for mode={args.mode}")
    state_out = args.state_out or args.state_dir
    if args.mode not in ("run", "build") and args.state_dir is None:
        raise SystemExit(f"--state-dir is required for mode={args.mode}")
    if args.mode == "build" and state_out is None:
        raise SystemExit("--state-out is required for mode=build")
    if args.mode == "remove" and not args.delete_ids:
        raise SystemExit("--delete-ids is required for mode=remove")

    t0 = time.time()
    metrics: dict = {"mode": args.mode}

    if args.mode == "run":
        pages = spark.read.parquet(args.input)
        if args.resume_dir:
            from entitymatch_spark.plans.resumable import resumable_match_pipeline

            res = resumable_match_pipeline(spark, pages, args.resume_dir, cfg)
            clusters, docs, pairs = res["clusters"], res["docs"], res["pairs"]
        else:
            res = match_pipeline(pages, cfg)
            clusters, docs, pairs = res.clusters, res.docs, res.pairs
        clusters.write.mode("overwrite").parquet(f"{args.output}/clusters")
        metrics.update(n_docs=docs.count(), n_pairs=pairs.count())
    else:
        if args.mode == "build":
            state = initial_state(spark.read.parquet(args.input), cfg)
        else:
            # under the config saved with it: flags may restate it,
            # never change it (batch keys would fall in another key
            # space; rethreshold changes the threshold)
            st = load_state(spark, args.state_dir)
            clash = [
                f"{flag} ({field}={value!r}, saved {getattr(st.cfg, field)!r})"
                for flag, (field, value) in passed.items()
                if getattr(st.cfg, field) != value
            ]
            if clash:
                raise SystemExit(
                    f"{args.state_dir} keeps the config it was built with; "
                    f"these flags differ from it: {', '.join(clash)}"
                )
        if args.mode in ("grow", "upsert"):
            grow = incremental_match if args.mode == "grow" else upsert_pages
            res = grow(st, spark.read.parquet(args.input))
            metrics["n_batch_pairs"] = res.pairs.count()
            metrics["n_batch_matches"] = res.matches.count()
            commit_increment(res, state_out)
        else:
            if args.mode == "remove":
                state = remove_docs(st, spark.read.parquet(args.delete_ids))
            elif args.mode == "rethreshold":
                state = rethreshold(st, threshold=args.threshold)
            save_state(state, state_out)
        # the commit materialized the clusters: copy the stored ones
        # instead of re-running the CC plan
        stored = load_state(spark, state_out)
        stored.clusters.write.mode("overwrite").parquet(f"{args.output}/clusters")
        metrics.update(
            n_docs=stored.docs.count(), n_clusters_rows=stored.clusters.count()
        )

    metrics["wall_sec"] = round(time.time() - t0, 2)
    out = Path(args.output) / "metrics.json"
    out.parent.mkdir(parents=True, exist_ok=True)
    out.write_text(json.dumps(metrics))
    return metrics


def main() -> None:
    args = build_parser().parse_args()

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("entitymatch-pipeline").getOrCreate()
    print(json.dumps(run(args, spark)))
    spark.stop()


if __name__ == "__main__":
    main()
