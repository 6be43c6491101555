"""Greedy graph coloring by iterated Luby MIS.

Classic parallel coloring (Luby 1986 §4; Jones & Plassmann 1993 discuss
the same reduction): repeatedly take a maximal independent set of the
still-uncolored subgraph and give the whole set the next color.  Every
color class is an independent set by construction, so the coloring is
proper; the residual graph shrinks every outer round because Luby's
globally-smallest undecided priority always joins.

This composes the existing MIS vertex program (operators/mis.py) — the
reference exposes exactly this composition point: any ``Compute()``
implementation re-runs on a new graph each job (Vertex.go:68-88,
Master.go:810-832); here each outer round is one Pregel job over the
residual edge set.

Scale notes (100 TB stance):
  - the residual edge set is built with two semi-joins on the uncolored
    id list — both key-partitioned on the join column, no broadcast of
    anything unbounded;
  - the uncolored frontier is lazily localCheckpointed per round so the
    outer loop's plan depth stays O(1) instead of doubling (the repo's
    standard plan-doubling guard, plans/runner.py);
  - inner MIS rounds are fixed, not run to convergence, so the unrolled
    SQL oracle is finite; vertices still undecided after the last color
    round surface honestly as color = -1 (never silently dropped).

Determinism: priorities are the md5-derived integers of operators/mis.py,
identical across engines and across outer rounds (fixed priorities keep
Luby correct — the progress argument only needs a strict local minimum).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pregel_golang_implementation_spark.operators.mis import mis_spec, mis_status
from pregel_golang_implementation_spark.plans.runner import PregelRunner


def greedy_coloring(
    spark: SparkSession,
    edges: DataFrame,
    colors: int = 3,
    inner_rounds: int = 3,
    make_runner: Callable[[object], PregelRunner] | None = None,
) -> DataFrame:
    """Color an UNDIRECTED (pre-symmetrized) edge list.

    Returns (id BIGINT, color BIGINT): color ∈ [0, colors) assigned by
    the outer round whose MIS the vertex joined, or -1 if the vertex is
    still uncolored after ``colors`` rounds.  Proper by construction —
    no edge joins two vertices of the same non-negative color.

    ``make_runner(spec)`` lets callers inject runner config (partitions,
    checkpointing); defaults to a plain PregelRunner.
    """
    if make_runner is None:
        make_runner = lambda spec: PregelRunner(spark, spec)  # noqa: E731

    # probed by two semi-joins + the runner's edge prep EVERY color round
    # — persist for the call; released after the colored result (≤ V
    # rows) is materialized below (r6)
    edges = edges.select(
        F.col("src").cast("long").alias("src"), F.col("dst").cast("long").alias("dst")
    ).persist()
    vertices = (
        edges.select(F.col("src").alias("id"))
        .unionByName(edges.select(F.col("dst").alias("id")))
        .distinct()
    )

    spec = mis_spec()
    uncolored = vertices.localCheckpoint(eager=False)
    assigned: list[DataFrame] = []
    for c in range(colors):
        residual = edges.join(
            uncolored.select(F.col("id").alias("src")), "src", "left_semi"
        ).join(uncolored.select(F.col("id").alias("dst")), "dst", "left_semi")
        # vertices passed explicitly: an uncolored vertex whose neighbors
        # are all colored is isolated in the residual graph, receives no
        # message, and joins the set in inner round 1 (mis.py apply_fn's
        # msg-NULL branch) — the SQL twin reproduces this with a LEFT JOIN.
        res = make_runner(spec).run(
            residual, vertices=uncolored, max_supersteps=inner_rounds
        )
        newly = (
            mis_status(res.state)
            .filter(F.col("status") == "in")
            .select("id", F.lit(c).cast("long").alias("color"))
        )
        assigned.append(newly)
        uncolored = uncolored.join(
            newly.select("id"), "id", "left_anti"
        ).localCheckpoint(eager=False)

    out = assigned[0]
    for frame in assigned[1:]:
        out = out.unionByName(frame)
    leftover = uncolored.select("id", F.lit(-1).cast("long").alias("color"))
    try:
        return out.unionByName(leftover).localCheckpoint(eager=True)
    finally:
        edges.unpersist()
