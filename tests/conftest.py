from __future__ import annotations

import sys
from contextlib import contextmanager
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

from entitymatch_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark("entitymatch-tests", cpus=8, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return "/root/testdata/sf0.001"


@contextmanager
def broadcast_off(spark):
    """Broadcast joins off for the block (threshold -1), which also turns
    off connected_components' driver finish, so its loop runs."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        yield
    finally:
        spark.conf.set(key, old)


def shuffles(node) -> list:
    """The shuffle exchanges of an executed plan, not counting those
    inside cached tables."""
    kind = node.getClass().getSimpleName()
    if kind == "AdaptiveSparkPlanExec":
        return shuffles(node.executedPlan())
    if kind in ("InMemoryTableScanExec", "TableCacheQueryStageExec"):
        return []
    if kind.endswith("QueryStageExec"):
        return shuffles(node.plan())
    own = [node] if kind == "ShuffleExchangeExec" else []
    ch = node.children()
    return own + [x for i in range(ch.size()) for x in shuffles(ch.apply(i))]
