"""Synchronous label propagation clustering (LPA).

Same superstep skeleton (SURVEY.md §2.3) with a mode-combiner: each vertex
adopts the most frequent label among ALL its neighbors, deterministic ties
→ smallest label; halt when no label changed or at the iteration cap
(synchronous LPA can oscillate on bipartite structures — capped and
documented; the reference has no LPA to contradict, SURVEY.md §7 (b)).

``use_frontier=False`` is load-bearing: the mode must be taken over every
neighbor's current label, so all vertices scatter every superstep —
frontier messaging would compute the mode over changed neighbors only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pregel_golang_implementation_spark.plans.runner import PregelResult, PregelRunner
from pregel_golang_implementation_spark.plans.spec import AlgorithmSpec
from pregel_golang_implementation_spark.operators.connected_components import symmetrize


def lpa_spec(max_supersteps: int = 20) -> AlgorithmSpec:
    def init_fn(vertices: DataFrame) -> DataFrame:
        return vertices.select("id", F.col("id").cast("double").alias("value"))

    def msg_fn(value, weight):
        return value

    def apply_fn(old, msg, g):
        # isolated vertices (no neighbors → no msg) keep their own label
        return F.coalesce(msg, old)

    return AlgorithmSpec(
        name="label_propagation",
        init_fn=init_fn,
        msg_fn=msg_fn,
        combiner="mode",
        apply_fn=apply_fn,
        use_frontier=False,
        max_supersteps=max_supersteps,
    )


def label_propagation(
    spark: SparkSession,
    edges: DataFrame,
    max_supersteps: int = 20,
    directed: bool = False,
    **runner_kwargs,
) -> PregelResult:
    """Result state: (id, value=cluster label)."""
    e = edges if directed else symmetrize(edges)
    runner = PregelRunner(spark, lpa_spec(max_supersteps), **runner_kwargs)
    return runner.run(e)


def seeded_label_spread(
    und_edges: DataFrame,
    seeds: DataFrame,
    rounds: int,
) -> DataFrame:
    """Semi-supervised label spreading: ``seeds`` (id, lbl) are FIXED
    ground-truth labels; every other vertex repeatedly adopts the mode
    of its labeled neighbors (ties → smallest label) for ``rounds``
    synchronous rounds.  The semi-supervised counterpart of LPA — where
    LPA discovers communities from scratch, this EXPANDS known labels
    (a trusted domain list, human topic tags, spam verdicts) across the
    link graph.

    Returns (id, label) for every vertex labeled by round ``rounds``;
    vertices the labels never reached are omitted, never guessed.

    Scale shape per round: one labeled-frontier ⋈ edges join + one
    (id, lbl)-keyed count with map-side partials + the windowless
    algebraic argmax (max over (cnt, -lbl) structs — no per-id Window,
    the r5 LPA combine discipline), then a co-partitioned merge join.
    Seeds never recompute: the CASE keeps them pinned.
    """
    e = und_edges.select("src", "dst")
    state = (
        e.select(F.col("src").alias("id"))
        .union(e.select(F.col("dst").alias("id")))
        .distinct()
        .join(
            seeds.select("id", F.col("lbl").cast("long").alias("lbl")),
            "id",
            "left",
        )
        .withColumn("seed", F.col("lbl").isNotNull())
    )
    for _ in range(rounds):
        state = state.localCheckpoint(eager=False)
        votes = (
            state.filter(F.col("lbl").isNotNull())
            .join(e, state["id"] == e["src"])
            .groupBy(F.col("dst").alias("id"), "lbl")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        winner = (
            votes.groupBy("id")
            .agg(F.max(F.struct(F.col("cnt"), (-F.col("lbl")).alias("nl"))).alias("w"))
            .select("id", (-F.col("w.nl")).alias("new_lbl"))
        )
        state = state.join(winner, "id", "left").select(
            "id",
            F.when(F.col("seed"), F.col("lbl"))
            .otherwise(F.coalesce(F.col("new_lbl"), F.col("lbl")))
            .alias("lbl"),
            "seed",
        )
    return state.filter(F.col("lbl").isNotNull()).select(
        "id", F.col("lbl").alias("label")
    )
