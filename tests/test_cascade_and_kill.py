"""A real SIGKILL mid-stage, then resume."""

from __future__ import annotations

import signal
import subprocess
import sys
import textwrap
from pathlib import Path

from entitymatch_spark.plans.checkpoint import CheckpointManager


REPO = str(Path(__file__).resolve().parents[1])

_KILL_SCRIPT = textwrap.dedent(
    """
    import sys, os
    sys.path.insert(0, sys.argv[3])  # the checkout under test
    from entitymatch_spark.session import get_spark
    from entitymatch_spark.plans.pipeline import MatchConfig
    from entitymatch_spark.plans.resumable import resumable_match_pipeline
    from entitymatch_spark.sources.synthetic import corpus_to_spark, generate_corpus
    import entitymatch_spark.plans.store as store

    workdir = sys.argv[1]
    die_after = int(sys.argv[2])  # SIGKILL self after N scored buckets

    def n_done(m):
        return len((m or {"stages": {}})["stages"].get("scored", {}).get("buckets_done", []))

    orig = store._StateDir.publish
    state = {"n": 0}
    def wrapped(self, manifest):
        before = n_done(self.manifest())
        orig(self, manifest)
        if n_done(manifest) > before:  # a scored-bucket commit
            state["n"] += 1
            if state["n"] == die_after:
                os.kill(os.getpid(), 9)  # hard kill, no cleanup
    store._StateDir.publish = wrapped

    spark = get_spark("killrun", cpus=4, shuffle_partitions=8)
    pages = corpus_to_spark(spark, generate_corpus(n_clusters=25, seed=17))["pages"]
    res = resumable_match_pipeline(spark, pages, workdir, MatchConfig(), n_score_buckets=4)
    import hashlib
    out = sorted((r["doc_id"], r["cluster_id"]) for r in res["clusters"].collect())
    digest = hashlib.md5(repr(out).encode()).hexdigest()
    print("CLUSTERS", len(out), digest)
    print("BUCKET_COMMITS", state["n"])
    spark.stop()
    """
)


def test_sigkill_mid_scoring_then_resume(spark, tmp_path):
    """First run is SIGKILLed after 2 of 4 scoring buckets commit; the
    rerun completes only the missing buckets and produces the same
    result as an uninterrupted run."""
    script = tmp_path / "killrun.py"
    script.write_text(_KILL_SCRIPT)
    work = tmp_path / "wk"

    p = subprocess.run(
        [sys.executable, str(script), str(work), "2", REPO],
        capture_output=True, text=True, timeout=420,
    )
    assert p.returncode == -signal.SIGKILL or p.returncode == 137, p.returncode
    m = CheckpointManager(spark, work).manifest("scored")
    done_before = list(m["buckets_done"])
    assert 0 < len(done_before) < 4  # died mid-stage

    p2 = subprocess.run(
        [sys.executable, str(script), str(work), "-1", REPO],
        capture_output=True, text=True, timeout=420,
    )
    assert p2.returncode == 0, p2.stderr[-2000:]
    resumed = [l for l in p2.stdout.splitlines() if l.startswith("CLUSTERS")][0]

    m2 = CheckpointManager(spark, work).manifest("scored")
    assert m2["complete"] and m2["buckets_done"] == [0, 1, 2, 3]
    for b in done_before:  # completed buckets were not rescored
        assert m2["rows_by_bucket"][str(b)] == m["rows_by_bucket"][str(b)]
        assert m2["dir_by_bucket"][str(b)] == m["dir_by_bucket"][str(b)]
    # the resumed run commits only the missing buckets (no redo)
    assert f"BUCKET_COMMITS {4 - len(done_before)}" in p2.stdout.splitlines()

    p3 = subprocess.run(
        [sys.executable, str(script), str(tmp_path / "fresh"), "-1", REPO],
        capture_output=True, text=True, timeout=420,
    )
    assert p3.returncode == 0
    fresh = [l for l in p3.stdout.splitlines() if l.startswith("CLUSTERS")][0]
    assert resumed == fresh  # identical output to an uninterrupted run
