"""Temporal earliest-arrival reachability — time-respecting paths.

A temporal edge (u, v, t) is usable only by a walker already at u no
later than t; the earliest arrival at v through it is t itself (contact
networks: Holme & Saramäki 2012, "Temporal networks").  Earliest
arrivals are monotone non-increasing under relaxation, so this is the
same min-propagation family as SSSP with one twist: the message is the
EDGE time, sent only when the sender's arrival makes the edge usable.

  value_0(v)   = 0 if v == source else +Inf
  msg over (u,v,t) = t   if value(u) <= t   else +Inf (never improves)
  value_t+1(v) = min(value_t(v), min msgs)

Frontier correctness: arrivals only decrease, and a decrease can only
ENLARGE the sender's usable edge set — re-scattering exactly the
improved vertices (use_frontier=True) is sound, the same argument as
SSSP.  Fixed-iteration runs equal the full-relaxation unrolled SQL twin
because re-sent minima are idempotent under min-apply.

Reference parity: the fifth distinct vertex program on the unchanged
runner (Compute() extension point, Vertex.go:68-88); scatter-on-improve
is the reference's own SSSP discipline (Vertex.go:82-85).

Scale notes: identical plan shape to SSSP — one combine Exchange per
superstep, co-partitioned scatter/apply joins; the time axis rides the
edge weight column, adding zero shuffle width.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pregel_golang_implementation_spark.plans.runner import PregelResult, PregelRunner
from pregel_golang_implementation_spark.plans.spec import AlgorithmSpec

INF = float("inf")


def earliest_arrival_spec(source: int, max_supersteps: int = 64) -> AlgorithmSpec:
    def init_fn(vertices: DataFrame) -> DataFrame:
        return vertices.select(
            "id",
            F.when(F.col("id") == source, 0.0).otherwise(F.lit(INF)).alias("value"),
            (F.col("id") == source).alias("active"),
        )

    def msg_fn(value, weight):
        # weight column carries the edge TIME; unusable edges ship +Inf,
        # which min-apply discards — same no-op as an unsent message
        return F.when(value <= weight, weight).otherwise(F.lit(INF))

    def apply_fn(old, msg, g):
        return F.least(old, F.coalesce(msg, old))

    def active_fn(old, new, msg):
        return new < old

    return AlgorithmSpec(
        name="earliest_arrival",
        init_fn=init_fn,
        msg_fn=msg_fn,
        combiner="min",
        apply_fn=apply_fn,
        active_fn=active_fn,
        use_frontier=True,
        max_supersteps=max_supersteps,
        params={"source": source},
    )


def earliest_arrival(
    spark: SparkSession,
    temporal_edges: DataFrame,
    source: int,
    max_supersteps: int = 64,
    **runner_kwargs,
) -> PregelResult:
    """``temporal_edges``: (src, dst, weight=time).  Result state value =
    earliest arrival time (+Inf = temporally unreachable)."""
    runner = PregelRunner(
        spark, earliest_arrival_spec(source, max_supersteps), **runner_kwargs
    )
    return runner.run(temporal_edges)
