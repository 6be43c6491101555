from __future__ import annotations

import pytest

from pregel_golang_implementation_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="pregel-spark-tests", cores=4, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture
def executed_plans(spark):
    """``executed_plans(fn)`` calls ``fn`` and returns the physical plan of
    every SQL execution it ran (for adaptive plans, the final one), as the
    session's SQL status store recorded them."""
    store = spark._jsparkSession.sharedState().statusStore()
    bus = spark.sparkContext._jsc.sc().listenerBus()

    def executions():
        bus.waitUntilEmpty()
        it = store.executionsList().iterator()
        out = {}
        while it.hasNext():
            e = it.next()
            out[e.executionId()] = e.physicalPlanDescription()
        return out

    def run(fn):
        last = max(executions(), default=-1)
        fn()
        return [plan for i, plan in sorted(executions().items()) if i > last]

    return run
