"""Round-5 fix: pre-shuffle message counting on an empty final
frontier."""

from __future__ import annotations


def _path_edges(spark, n=20):
    return spark.createDataFrame(
        [(i, i + 1, 1.0) for i in range(n)], "src long, dst long, weight double"
    )


def test_slim_shuffle_empty_final_frontier_counts_zero(spark):
    """The convergence superstep of frontier SSSP sends ZERO messages; AQE
    folds the empty message subtree out of the final plan, taking the
    CollectMetrics with it — the runner must report 0, not crash
    (regression: Py4JJavaError in Observation.get, r5)."""
    from pregel_golang_implementation_spark.operators.sssp import sssp

    res = sssp(spark, _path_edges(spark), source=0)
    assert res.converged
    assert res.metrics[-1].messages_sent == 0
    assert res.total_messages == 20
