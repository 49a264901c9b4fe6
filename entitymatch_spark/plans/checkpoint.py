"""Manifest-based stage checkpointing: resumable multi-stage jobs.

north_star requirement: every stage persists its output and enough
manifest state that a killed job resumes mid-stage without rescoring
completed work. The reference's analog is the keyset-paginated
resumable scan (ref: extract/Program.cs:69-79 — resume filter computed
from the last persisted row).

Design: a workdir is one manifest store (``plans/store.py``, the same
one a stored match state uses), so it takes any Hadoop path or URI
(local, ``file://``, ``hdfs://``).

- ``CheckpointManager(spark, workdir, config)`` owns a workdir of
  stages. ``config`` (e.g. the MatchConfig as a dict) is recorded in
  the manifest on the first commit; a later manager given another
  config refuses the workdir.
- ``stage(name, fn)``: compute-once. The output is written to a fresh
  directory and committed by publishing the next manifest generation,
  whose stage record holds the row count, per-file row lineage, schema,
  duration and completion flag. Re-running a committed stage just
  reads it back — lineage is cut, no recompute.
- ``bucketed_stage(name, bucket_ids, fn)``: partition-level resume. The
  work is split into deterministic buckets (e.g. hash ranges of the
  pair ids); each bucket writes its own directory and commits its own
  generation. A kill mid-stage loses only the in-flight bucket; rerun
  executes missing buckets only ("without rescoring completed
  partitions").
- per-stage metrics (rows, seconds, buckets) are read from the stage
  records as a DataFrame via ``metrics_df``.
"""

from __future__ import annotations

import json
import os
import time
from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from entitymatch_spark.plans.store import _StateDir


class CheckpointManager:
    def __init__(
        self, spark: SparkSession, workdir: str | os.PathLike, config: dict | None = None
    ):
        self.spark = spark
        self.store = _StateDir(spark, str(workdir))
        # JSON-normalized, so it compares equal to the manifest's copy
        self.config = json.loads(json.dumps(config, default=str))
        top = self.store.manifest()
        if config is not None and top is not None and top["config"] != self.config:
            raise ValueError(
                f"checkpoint workdir {self.store.root} was built with "
                f"{top['config']}; this run uses {self.config}. Resuming "
                "committed stages under a changed configuration silently "
                "returns stale results — use a fresh workdir"
            )

    def _next(self) -> dict:
        """The newest manifest as the draft of the next generation."""
        m = self.store.manifest() or {
            "generation": 0, "config": self.config,
            "parts": {}, "schemas": {}, "stages": {},
        }
        m["generation"] += 1
        return m

    def _publish(self, m: dict) -> dict:
        """Commit ``m``; returns it as the draft of the next generation."""
        self.store.publish(m)
        m["generation"] += 1
        return m

    def manifest(self, name: str) -> dict | None:
        """The committed record of stage ``name``, or None."""
        return (self.store.manifest() or {"stages": {}})["stages"].get(name)

    # -- whole-stage checkpoint ----------------------------------------------
    def stage(self, name: str, fn: Callable[[], DataFrame]) -> DataFrame:
        """Compute-once stage: runs ``fn`` only if not already committed."""
        m = self._next()
        if m["stages"].get(name, {}).get("complete"):
            return self.store.read(m, name)
        t0 = time.perf_counter()
        rel = self.store.write(m, name, fn())
        persisted = self.store.read(m, name)
        # per-partition lineage: row count per output file in one pass
        # (file name = the physical partition the rows landed in)
        by_file = {
            r["f"].rsplit("/", 1)[-1]: r["n"]
            for r in persisted.groupBy(F.input_file_name().alias("f"))
            .agg(F.count("*").alias("n"))
            .collect()
        }
        files = sorted(n for n in self.store.ls(rel) if n.endswith(".parquet"))
        m["stages"][name] = {
            "stage": name,
            "complete": True,
            "rows": sum(by_file.values()),
            "n_files": len(files),
            "files": files,
            "rows_by_file": {f: by_file.get(f, 0) for f in files},
            "schema": persisted.schema.simpleString(),
            "seconds": round(time.perf_counter() - t0, 3),
            "ts": time.time(),
        }
        self.store.publish(m)
        return persisted

    # -- partition-level (bucketed) checkpoint --------------------------------
    def bucketed_stage(
        self,
        name: str,
        bucket_ids: Sequence[int],
        fn: Callable[[int], DataFrame],
        bucketing: str | None = None,
    ) -> DataFrame:
        """Resume-mid-stage checkpoint: one commit per bucket.

        ``fn(bucket_id)`` computes that bucket's slice (caller guarantees
        buckets are disjoint and deterministic, e.g. pmod(hash(key), n)).
        Completed buckets are never recomputed on rerun.

        ``bucketing`` describes the bucketing FUNCTION (e.g.
        "pmod(xxhash64(id_a,id_b), 16)") and is recorded in the
        manifest on first run; a resume whose ``bucketing`` differs
        raises instead of silently mixing incompatible slices — a
        16-bucket run resumed with 8 buckets would skip "done" buckets
        whose old slices do not cover the new ones (lost rows), and the
        reverse would double-cover (duplicated rows).
        """
        m = self._next()
        rec = m["stages"].setdefault(name, {
            "stage": name, "complete": False, "buckets_done": [],
            "rows_by_bucket": {}, "seconds_by_bucket": {}, "ts_by_bucket": {},
            "dir_by_bucket": {},
        })
        # a record change that no bucket commit has published yet
        pending = bucketing is not None and "bucketing" not in rec
        if pending:
            rec["bucketing"] = bucketing
        elif bucketing is not None and rec["bucketing"] != bucketing:
            raise ValueError(
                f"bucketed stage {name!r} was checkpointed with "
                f"bucketing={rec['bucketing']!r} but is being resumed with "
                f"bucketing={bucketing!r}; resume with the original "
                f"bucketing or use a fresh workdir to recompute"
            )
        wanted = set(bucket_ids)
        for b in bucket_ids:
            if b in rec["buckets_done"]:
                continue
            t0 = time.perf_counter()
            rel = self.store.write(m, name, fn(b), append=True)
            rows = self.store.read(m, name, [rel]).count()
            rec["buckets_done"] = sorted({*rec["buckets_done"], b})
            rec["complete"] = wanted <= set(rec["buckets_done"])
            rec["rows_by_bucket"][str(b)] = rows
            rec["seconds_by_bucket"][str(b)] = round(time.perf_counter() - t0, 3)
            rec["ts_by_bucket"][str(b)] = time.time()
            rec["dir_by_bucket"][str(b)] = rel
            m, pending = self._publish(m), False  # commit after EVERY bucket
        # 'complete' is relative to the most recently requested bucket set
        # (a killed run can't know the full universe it never saw).
        complete = wanted <= set(rec["buckets_done"])
        if pending or rec["complete"] != complete:
            # publish NOW even when no bucket ran: resuming an
            # already-complete stage would otherwise record the
            # bucketing in memory only and the guard never arms
            rec["complete"] = complete
            self._publish(m)
        # return the REQUESTED buckets (all done by this point), not
        # every historically-done bucket — a subset request must yield
        # only that subset's rows
        return self.store.read(
            m, name, [rec["dir_by_bucket"][str(b)] for b in sorted(wanted)]
        )

    METRICS_SCHEMA = "ts double, stage string, bucket long, rows long, seconds double"

    def metrics_df(self) -> DataFrame:
        """One row per committed stage, and per committed bucket of a
        bucketed stage (``bucket`` null for whole stages)."""
        stages = (self.store.manifest() or {"stages": {}})["stages"]
        rows = [
            (r["ts"], name, None, r["rows"], r["seconds"])
            for name, r in stages.items() if "rows" in r
        ] + [
            (r["ts_by_bucket"][b], name, int(b), n, r["seconds_by_bucket"][b])
            for name, r in stages.items()
            for b, n in r.get("rows_by_bucket", {}).items()
        ]
        return self.spark.createDataFrame(rows, self.METRICS_SCHEMA)
