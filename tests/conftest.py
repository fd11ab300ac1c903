from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from polygon_algotrading_env_spark.session import get_spark
from polygon_algotrading_env_spark.streaming.statev2 import (
    ensure_protobuf_runtime,
)

# Must run at import time — BEFORE any SparkSession (JVM) exists — so the
# protobuf fallback lands on PYTHONPATH and executor Python workers inherit
# it (transformWithState v2's state protocol is protobuf-framed). No-op
# when protobuf is installed; harmless when no fallback exists.
ensure_protobuf_runtime()

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="polygon-algotrading-env-spark-tests", master="local[4]",
                  shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


def _sql_status(spark):
    """The SQL status store, with every queued listener event applied."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    return spark._jsparkSession.sharedState().statusStore()


def _newest_execution_id(sql) -> int:
    n = sql.executionsCount()
    return sql.executionsList(n - 1, 1).apply(0).executionId() if n else -1


@pytest.fixture()
def scanned_rows(spark):
    """``scanned_rows(node_name)``: rows emitted by the plan nodes named
    ``node_name`` in the SQL executions run since the fixture was set up,
    read from the SQL status store as ``perfbench/spans.py`` reads them.
    The store keeps only the newest executions, so the walk starts from
    the newest and stops at the first one older than the fixture."""
    mark = _newest_execution_id(_sql_status(spark))

    def rows(node_name: str) -> int:
        sql = _sql_status(spark)
        total = 0
        for i in range(sql.executionsCount() - 1, -1, -1):
            eid = sql.executionsList(i, 1).apply(0).executionId()
            if eid <= mark:
                break
            values = sql.executionMetrics(eid)
            nodes = sql.planGraph(eid).allNodes()
            for j in range(nodes.size()):
                node = nodes.apply(j)
                if node.name() != node_name:
                    continue
                metrics = node.metrics()
                for k in range(metrics.size()):
                    m = metrics.apply(k)
                    v = values.get(m.accumulatorId())
                    if m.name() == "number of output rows" and v.isDefined():
                        total += int(v.get().replace(",", ""))
        return total

    return rows
