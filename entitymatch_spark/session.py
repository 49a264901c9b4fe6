"""SparkSession factory tuned for this engine.

Local mode is the test/bench stand-in for a multi-executor cluster; the
settings below are the ones that matter at 100 TB too: AQE (runtime
re-plan + skew-join splitting), Arrow for every pandas UDF hop, and a
shuffle-partition count sized to the parallelism rather than the 200
default.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import tempfile
import time
from pathlib import Path

from pyspark.sql import SparkSession

_PKG_ROOT = Path(__file__).resolve().parent.parent
# a shipped zip of another checkout unused this long is removed
_ZIP_MAX_AGE_S = 7 * 24 * 3600


def ensure_workers_can_import(spark: SparkSession) -> None:
    """Ship the entitymatch_spark package to executor python workers.

    Needed whenever the driver wasn't launched from the repo root (the
    grading driver, spark-submit without --py-files): pandas UDF
    closures unpickle on workers and import this package. Zips the
    package once and addPyFile()s it — works in local and cluster mode.
    """
    sc = spark.sparkContext
    if getattr(sc, "_entitymatch_pyfile_added", False):
        return
    # One STABLE per-user dir (mkdtemp leaked a new directory + zip per
    # SparkContext); the zip is CONTENT-ADDRESSED so two concurrent
    # sessions from different checkouts write different names instead
    # of racing to overwrite one path (the loser's executors would
    # import the other checkout's code), and the atomic rename keeps
    # any reader seeing a complete archive.
    base = Path(tempfile.gettempdir()) / f"em_pyfiles_{os.getuid()}"
    base.mkdir(parents=True, exist_ok=True, mode=0o700)
    if base.stat().st_uid != os.getuid():
        # a pre-created dir owned by someone else could swap the zip
        # between rename and addPyFile -> their code in our executors
        raise RuntimeError(
            f"{base} exists but is not owned by uid {os.getuid()}; "
            "remove it or point tempfile.gettempdir() elsewhere"
        )
    # build in a private directory (mkdtemp: created 0o700, name not
    # guessable), so no other process can pre-place or race the archive
    # before it is renamed into place
    build = Path(tempfile.mkdtemp(dir=base))
    try:
        made = Path(shutil.make_archive(
            str(build / "pkg"), "zip",
            root_dir=str(_PKG_ROOT), base_dir="entitymatch_spark",
        ))
        digest = hashlib.md5(made.read_bytes()).hexdigest()[:12]
        final = base / f"entitymatch_spark-{digest}.zip"
        made.replace(final)
    finally:
        shutil.rmtree(build, ignore_errors=True)
    # mark this zip in use; drop other digests' zips unused that long
    final.touch()
    for old in base.glob("entitymatch_spark-*.zip"):
        try:
            if old != final and old.stat().st_mtime < time.time() - _ZIP_MAX_AGE_S:
                old.unlink()
        except FileNotFoundError:  # a concurrent session pruned it first
            pass
    sc.addPyFile(str(final))
    sc._entitymatch_pyfile_added = True


def get_spark(
    app_name: str = "entitymatch_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    cpus: parallelism for local mode; defaults to $SPARK_GRAFT_CPUS or '*'.
    shuffle_partitions: defaults to 2x cpus (good spill behavior locally;
    on a real cluster this is sized to executors x cores x ~2-3).
    """
    if cpus is None:
        env = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{env}]" if env else "local[*]"
        # '*' is a valid master setting but not a parallelism number
        n = int(env) if env and env.isdigit() else (os.cpu_count() or 8)
    else:
        master = f"local[{cpus}]"
        n = cpus
    if shuffle_partitions is None:
        shuffle_partitions = max(8, 2 * n)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 40k rows/batch (vs 10k default): fewer Arrow batch boundaries
        # means fewer worker-pipeline fill/drain bubbles and better
        # per-batch doc-profile cache hits in the pair scorer; pair rows
        # are ~1 KB so a batch stays in the tens of MB. Measured best
        # scoring-stage scaling efficiency of {2k,10k,25k,40k,100k} in
        # two independent sessions.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "40000")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    # Make the package importable by executor python workers even when
    # the driver process was started outside the repo root.
    existing = os.environ.get("PYTHONPATH", "")
    if str(_PKG_ROOT) not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{_PKG_ROOT}{os.pathsep}{existing}" if existing else str(_PKG_ROOT)
        )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    ensure_workers_can_import(spark)
    return spark
