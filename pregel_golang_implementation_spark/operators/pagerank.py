"""PageRank as a Pregel spec: sum-combine + damping apply + 1e-6 halt.

The reference wires only SSSP into its vertex program (Vertex.go:68-88);
PageRank reuses the identical superstep skeleton (O4-O13 in SURVEY.md §2.1)
with (init=1/N, msg=rank/outdeg, combine=sum, apply=(1-d)/N + d·sum,
halt=max|Δ|<tol).  Dangling-node mass (no analogue in the reference) follows
the standard published treatment: redistribute uniformly each superstep via
a scalar global aggregate — never a driver-side collect of state.

Scale notes:
  - the graph is laid out once: the runner's one edge shuffle (hash by
    src) also carries the dedup and 1/outdeg (``rank_flow``), and one
    more job checkpoints the vertex set and observes N.
  - 1/outdeg is baked into the edge weight once, so the per-superstep
    message expression is a single multiply inside whole-stage codegen.
  - the dangling mass is one scalar per superstep, piggybacked on the
    runner's metrics aggregation (zero extra jobs).
  - full scatter every superstep (power iteration) — frontier execution
    would change the fixed point, so ``use_frontier=False``.
"""

from __future__ import annotations

import contextlib
from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pregel_golang_implementation_spark.plans.runner import PregelResult, PregelRunner
from pregel_golang_implementation_spark.plans.spec import AlgorithmSpec


def pagerank_spec(num_vertices: int, damping: float = 0.85, tol: float = 1e-6) -> AlgorithmSpec:
    n = float(num_vertices)
    d = float(damping)

    def init_fn(vertices: DataFrame) -> DataFrame:
        # uniform start 1/N; dangling flag is static per vertex
        return vertices.select(
            "id", F.lit(1.0 / n).alias("value"), F.col("is_dangling")
        )

    def msg_fn(value, weight):
        # weight was pre-baked to 1/outdeg(src): msg = rank/outdeg
        return value * weight

    def apply_fn(old, msg, g):
        # g["dangling_mass"] arrives as a Column: the previous
        # superstep's dangling mass as a literal
        dm = g.get("dangling_mass", F.lit(0.0))
        return F.lit((1.0 - d) / n) + F.lit(d) * (
            F.coalesce(msg, F.lit(0.0)) + dm / F.lit(n)
        )

    def active_fn(old, new, msg):
        return F.abs(new - old) > F.lit(tol)

    return AlgorithmSpec(
        name="pagerank",
        init_fn=init_fn,
        msg_fn=msg_fn,
        combiner="sum",
        apply_fn=apply_fn,
        active_fn=active_fn,
        static_cols=("is_dangling",),
        use_frontier=False,
        global_aggs={
            "dangling_mass": F.sum(
                F.when(F.col("is_dangling"), F.col("value")).otherwise(F.lit(0.0))
            )
        },
        max_supersteps=100,
        params={"damping": damping, "tol": tol, "num_vertices": num_vertices},
    )


def personalized_pagerank_spec(damping: float = 0.85, tol: float = 1e-6) -> AlgorithmSpec:
    """PageRank with a personalization (teleport) vector: restarts land on
    the source set instead of uniformly, rank' = (1-d)·p(v) + d·(Σ msgs +
    dangling_mass·p(v)).  Dangling mass teleports back to the source set —
    the standard treatment.  The vertices frame must carry ``p`` (teleport
    weight, summing to 1) alongside ``is_dangling``; with p ≡ 1/N this
    reduces exactly to standard PageRank.  Same skeleton, same combine —
    the personalization rides as a static column."""
    d = float(damping)

    def init_fn(vertices: DataFrame) -> DataFrame:
        return vertices.select(
            "id", F.col("p").cast("double").alias("value"),
            "is_dangling", F.col("p").cast("double").alias("_p"),
        )

    def msg_fn(value, weight):
        return value * weight

    def apply_fn(old, msg, g):
        dm = g.get("dangling_mass", F.lit(0.0))
        return F.lit(1.0 - d) * F.col("_p") + F.lit(d) * (
            F.coalesce(msg, F.lit(0.0)) + dm * F.col("_p")
        )

    def active_fn(old, new, msg):
        return F.abs(new - old) > F.lit(tol)

    return AlgorithmSpec(
        name="personalized_pagerank",
        init_fn=init_fn,
        msg_fn=msg_fn,
        combiner="sum",
        apply_fn=apply_fn,
        active_fn=active_fn,
        static_cols=("is_dangling", "_p"),
        use_frontier=False,
        global_aggs={
            "dangling_mass": F.sum(
                F.when(F.col("is_dangling"), F.col("value")).otherwise(F.lit(0.0))
            )
        },
        max_supersteps=100,
        params={"damping": damping, "tol": tol, "personalized": True},
    )


def rank_flow(edges: DataFrame, weighted: bool) -> DataFrame:
    """(src, dst, weight) hash-partitioned by src → the PageRank edge
    list: duplicate edges collapsed, weight = the fraction of src's rank
    shipped along the edge.  Keyed by src (the dedup's (src, dst) keys
    include it, the out-degree window is partitioned by it), so neither
    step shuffles again — the one place the weight formula lives.

    Weighted: an edge whose collapsed weight is ≤ 0 (or null) has no
    rank-flow interpretation — dividing by a ≤ 0 weight sum would send
    NaN/Inf through every rank — so it gets weight 0 and carries no
    rank.  It stays in the list, which keeps its endpoints vertices of
    the graph (see ``_vertex_set``)."""
    per_src = Window.partitionBy("src")
    if weighted:
        e = edges.groupBy("src", "dst").agg(F.sum("weight").alias("_w"))
        w = F.when(F.col("_w") > 0, F.col("_w"))
        weight = F.coalesce(w / F.sum(w).over(per_src), F.lit(0.0))
    else:
        e = edges.select("src", "dst").dropDuplicates()
        weight = F.lit(1.0) / F.count(F.lit(1)).over(per_src)
    return e.select("src", "dst", weight.alias("weight"))


def _vertex_set(pr_edges: DataFrame) -> DataFrame:
    """vertices(id, is_dangling) as one aggregate over ``rank_flow``'s
    edges: every endpoint is a vertex, dangling unless it is the src of
    an edge that carries rank (weight > 0)."""
    return (
        pr_edges.select(F.col("src").alias("id"), (F.col("weight") <= 0).alias("is_dangling"))
        .union(pr_edges.select(F.col("dst").alias("id"), F.lit(True).alias("is_dangling")))
        .groupBy("id")
        .agg(F.bool_and("is_dangling").alias("is_dangling"))
    )


def prepare_pagerank_graph(
    edges: DataFrame, weighted: bool = False
) -> tuple[DataFrame, DataFrame]:
    """Normalize a directed edge list for PageRank, lazily.

    Returns (pr_edges, vertices):
      pr_edges(src, dst, weight) — duplicate edges collapsed; weight is the
        fraction of src's rank shipped along the edge: 1/outdeg(src) by
        default, or weight_ij / Σ_j weight_ij when ``weighted=True``
        (edge-weight-proportional rank flow; rows still sum to 1 per src,
        so the same spec/dangling treatment applies unchanged)
      vertices(id, is_dangling)

    Weighted path: rank flow is a probability split, so an edge whose
    collapsed weight is ≤ 0 carries no rank (weight 0, ``rank_flow``).  A
    source whose entire outflow is non-positive is marked dangling (its
    mass redistributes), exactly like a vertex that never had out-edges;
    the vertex itself stays in the graph.
    """
    cols = [F.col("src").cast("long"), F.col("dst").cast("long")]
    if weighted:
        cols.append(F.col("weight").cast("double"))
    pr_edges = rank_flow(edges.select(*cols).repartition("src"), weighted)
    return pr_edges, _vertex_set(pr_edges)


@contextlib.contextmanager
def _pagerank_graph(
    spark: SparkSession,
    edges: DataFrame,
    weighted: bool,
    runner_kwargs: dict,
    make_spec: Callable[[int], AlgorithmSpec],
    *aggs: Column,
):
    """Lay the PageRank graph out once for a runner: yields ``(runner,
    layout, vertices, row)``, where one job checkpointed the vertex set
    and observed N (``row["_n"]``) and ``aggs`` over it, and the runner's
    spec is ``make_spec(N)``.  The runner's run releases the vertex
    checkpoint once its initial state is stored; the layout is released
    on the way out, as the result state is a checkpoint of its own."""
    if weighted and "weight" not in edges.columns:
        # the layout would default it to 1.0, silently unweighting the run
        raise ValueError("weighted PageRank needs a weight column")
    # laying out and checkpointing read no spec; it is set below, once N
    # is known and before the runner is handed out
    runner = PregelRunner(spark, None, **runner_kwargs)
    lay = runner.layout(edges, lambda e: rank_flow(e, weighted))
    try:
        vertices, row = runner.checkpoint(
            _vertex_set(lay.edges), lay, F.count(F.lit(1)).alias("_n"), *aggs,
        )
        try:
            runner.spec = make_spec(row["_n"])
            yield runner, lay, vertices, row
        finally:
            PregelRunner.release(vertices)  # if no run released it
    finally:
        lay.unpersist()


def pagerank(
    spark: SparkSession,
    edges: DataFrame,
    damping: float = 0.85,
    tol: float = 1e-6,
    max_supersteps: int = 100,
    weighted: bool = False,
    **runner_kwargs,
) -> PregelResult:
    """Run PageRank to the 1e-6 fixed point (BASELINE.json criterion).

    ``weighted=True`` distributes rank proportionally to edge weights
    instead of uniformly over out-edges.
    Result state: (id, value=rank, ...); ranks sum to 1 (±fp error).
    """
    spec = lambda n: pagerank_spec(n, damping=damping, tol=tol)  # noqa: E731
    with _pagerank_graph(spark, edges, weighted, runner_kwargs, spec) as (
        runner, lay, vertices, _,
    ):
        return runner.run(lay, vertices=vertices, max_supersteps=max_supersteps)


def personalized_pagerank(
    spark: SparkSession,
    edges: DataFrame,
    source_ids: list[int],
    damping: float = 0.85,
    tol: float = 1e-6,
    max_supersteps: int = 100,
    **runner_kwargs,
) -> PregelResult:
    """Personalized PageRank from a source set (uniform teleport over it).
    Result state: (id, value=rank); ranks sum to 1 (±fp error).

    Every source id must exist in the edge-derived vertex set: a missing
    source would silently shrink the teleport vector below 1 and the ranks
    would no longer sum to 1 despite this docstring's claim — the present
    sources are counted on the job that builds the vertex set, and a
    shortfall is raised loudly instead."""
    if not source_ids:
        raise ValueError(
            "personalized_pagerank needs a non-empty source_ids — the "
            "teleport vector must sum to 1"
        )
    srcs = sorted({int(s) for s in source_ids})
    is_source = F.col("id").isin(srcs)
    present = F.count(F.when(is_source, F.lit(1))).alias("_present")
    spec = lambda n: personalized_pagerank_spec(damping=damping, tol=tol)  # noqa: E731
    with _pagerank_graph(spark, edges, False, runner_kwargs, spec, present) as (
        runner, lay, vertices, row,
    ):
        if row["_present"] != len(srcs):
            raise ValueError(
                f"personalized_pagerank: {len(srcs) - row['_present']} of {len(srcs)} "
                "source_ids are not vertices of the graph — the teleport vector "
                "would sum below 1; pass only ids that appear in the edge table"
            )
        k = float(len(srcs))
        vertices = vertices.withColumn(
            "p", F.when(is_source, F.lit(1.0 / k)).otherwise(F.lit(0.0))
        )
        return runner.run(lay, vertices=vertices, max_supersteps=max_supersteps)


def incremental_pagerank(
    spark: SparkSession,
    edges: DataFrame,
    prior_ranks: DataFrame,
    max_supersteps: int,
    damping: float = 0.85,
    tol: float = 1e-12,
    **runner_kwargs,
):
    """Warm-started PageRank: re-run the power iteration on the CURRENT
    graph seeded from a previous run's ranks (vertices the prior never
    saw start at 1/N) — the rank-maintenance analogue of
    ``incremental_connected_components``.  Power iteration converges to
    the damping-determined fixed point from ANY non-degenerate start, so
    a warm start after a small graph delta is semantically free and
    saves most of the supersteps a cold 1/N start would need.

    ``prior_ranks``: (id, value).  Note the seeded vector is not
    re-normalized — after K steps the result is the exact K-step
    recurrence from that seed (what the oracle unrolls); running to
    convergence yields the standard PageRank.
    """
    spec = lambda n: pagerank_spec(n, damping=damping, tol=tol)  # noqa: E731
    with _pagerank_graph(spark, edges, False, runner_kwargs, spec) as (
        runner, lay, vertices, row,
    ):
        n = row["_n"]
        seeded = vertices.join(
            prior_ranks.select("id", F.col("value").alias("_p")), "id", "left"
        ).select(
            F.col("id").cast("long"),
            F.coalesce(F.col("_p"), F.lit(1.0 / n)).cast("double").alias("value"),
            F.lit(True).alias("active"),
            F.col("is_dangling"),
        )
        return runner.run(lay, state=seeded, max_supersteps=max_supersteps)
