"""Single-source shortest paths — semantic parity with the reference.

The reference's only wired-in algorithm (Vertex.go:68-88 + bootstrap
Worker.go:466-475, source hardcoded to 1 at Worker.go:873):

  value_0(v)   = 0 if v == source else +Inf
  value_t+1(v) = min(value_t(v), min over msgs m of (m.value + w(m.from→v)))
  scatter new value to ALL out-neighbors only when improved (Vertex.go:82-85)
  halt when no messages in flight (Master.go:1044-1063)

Differences kept deliberately (SURVEY.md §7 hard parts (f)):
  - weight is the EDGE's weight w(src→dst), not the receiver-side lookup
    v.edges[msg.From] (Vertex.go:74) — identical on the reference's
    symmetric fixtures, correct on asymmetric graphs too;
  - no superstep-2 force-compute quirk (Worker.go:703) — that was a
    workaround for their init race, not semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pregel_golang_implementation_spark.plans.runner import PregelResult, PregelRunner
from pregel_golang_implementation_spark.plans.spec import AlgorithmSpec

INF = float("inf")


def sssp_spec(source: int, max_supersteps: int = 200) -> AlgorithmSpec:
    def init_fn(vertices: DataFrame) -> DataFrame:
        # only the source is active at superstep 1 — replaces the kickoff
        # message (0 → source, value 0.0) at Worker.go:466-475
        return vertices.select(
            "id",
            F.when(F.col("id") == source, 0.0).otherwise(F.lit(INF)).alias("value"),
            (F.col("id") == source).alias("active"),
        )

    def msg_fn(value, weight):
        return value + weight

    def apply_fn(old, msg, g):
        return F.least(old, F.coalesce(msg, old))

    def active_fn(old, new, msg):
        return new < old

    return AlgorithmSpec(
        name="sssp",
        init_fn=init_fn,
        msg_fn=msg_fn,
        combiner="min",
        apply_fn=apply_fn,
        active_fn=active_fn,
        use_frontier=True,
        max_supersteps=max_supersteps,
        params={"source": source},
    )


def sssp(
    spark: SparkSession,
    edges: DataFrame,
    source: int,
    max_supersteps: int = 200,
    **runner_kwargs,
) -> PregelResult:
    """Result state: (id, value=distance; +Inf = unreached, matching the
    reference's math.Inf init, Vertex.go:39)."""
    runner = PregelRunner(spark, sssp_spec(source, max_supersteps), **runner_kwargs)
    return runner.run(edges)
