"""Round-2 hardening tests: cache hygiene, scale-safe id assignment,
personalized and weighted PageRank, incremental CC."""

from __future__ import annotations

import pytest

from pregel_golang_implementation_spark.operators.connected_components import (
    cc_spec,
    symmetrize,
)
from pregel_golang_implementation_spark.operators.sssp import sssp_spec
from pregel_golang_implementation_spark.plans.runner import PregelRunner
from pregel_golang_implementation_spark.sources.corpus import (
    assign_vertex_ids,
    synthetic_corpus,
)


def _chain_edges(spark, n=10):
    return symmetrize(
        spark.createDataFrame(
            [(i, i + 1, 1.0) for i in range(n)], "src long, dst long, weight double"
        )
    )


# ------------------------------------------------------------ runner hygiene

def test_runner_releases_edge_cache(spark):
    """run() must unpersist the edge cache it created (a long session runs
    many jobs; leaked caches evict useful blocks) while the returned state
    stays usable."""
    edges = _chain_edges(spark)
    runner = PregelRunner(spark, cc_spec())
    captured = {}
    orig = runner.layout

    def capture(e):
        lay = orig(e)
        captured["edges"] = lay.edges
        return lay

    runner.layout = capture
    res = runner.run(edges)
    lvl = captured["edges"].storageLevel
    assert not (lvl.useMemory or lvl.useDisk), "edge cache leaked after run()"
    # result is detached from runner-internal storage: still collectable
    assert res.state.count() == 11


def test_resume_rejects_mismatched_spec(spark, tmp_path):
    edges = _chain_edges(spark)
    ck = str(tmp_path / "ck_mismatch")
    PregelRunner(spark, cc_spec(), checkpoint_dir=ck, checkpoint_every=1).run(
        edges, max_supersteps=2
    )
    wrong = PregelRunner(spark, sssp_spec(source=0), checkpoint_dir=ck)
    with pytest.raises(ValueError, match="different spec"):
        wrong.resume(edges)


# --------------------------------------------------- scale-safe vertex ids

def test_vertex_ids_partition_invariant(spark):
    """Ids must equal the global (repo, path) rank regardless of the
    partition count — the per-partition-offset pattern's contract."""
    corpus, _, _ = synthetic_corpus(spark, num_repos=3, files_per_repo=11, seed=8)
    a = {(r["repo"], r["path"]): r["id"] for r in assign_vertex_ids(corpus, 3).collect()}
    b = {(r["repo"], r["path"]): r["id"] for r in assign_vertex_ids(corpus, 7).collect()}
    assert a == b
    keys = sorted(a)  # lexicographic (repo, path) == expected rank order
    assert [a[k] for k in keys] == list(range(1, len(keys) + 1))


def test_vertex_ids_plan_has_no_global_sort(spark, executed_plans):
    """Id assignment must stay parallel, never a single-reducer global
    sort: no plan it executes has a Window or a single-partition
    exchange."""
    corpus, _, _ = synthetic_corpus(spark, num_repos=2, files_per_repo=5, seed=1)
    ids = []
    plans = executed_plans(
        lambda: ids.extend(r["id"] for r in assign_vertex_ids(corpus, 4).collect())
    )
    # the contract is the values — checked above — plus the plans.
    # Sanity: ids dense from 1.
    vals = sorted(ids)
    assert vals == list(range(1, len(vals) + 1))
    assert len(plans) >= 2
    for plan in plans:
        assert "Window" not in plan
        assert "SinglePartition" not in plan


# ------------------------------------------------- personalized PageRank

def test_ppr_uniform_teleport_equals_standard_pagerank(spark):
    """With p ≡ 1/N the personalized recurrence is standard PageRank —
    an exact algebraic identity the implementation must reproduce."""
    from pyspark.sql import functions as FF

    from pregel_golang_implementation_spark.operators.pagerank import (
        pagerank_spec,
        personalized_pagerank,
        personalized_pagerank_spec,
        prepare_pagerank_graph,
    )
    from pregel_golang_implementation_spark.sources.graphs import synthetic_edges

    edges = synthetic_edges(spark, num_vertices=500, avg_degree=5, seed=13)
    pr_edges, vertices = prepare_pagerank_graph(edges)
    n = vertices.count()
    std = PregelRunner(spark, pagerank_spec(n, tol=1e-9)).run(
        pr_edges, vertices=vertices, max_supersteps=8
    )
    uni = PregelRunner(spark, personalized_pagerank_spec(tol=1e-9)).run(
        pr_edges,
        vertices=vertices.withColumn("p", FF.lit(1.0 / n)),
        max_supersteps=8,
    )
    a = {r["id"]: r["value"] for r in std.state.collect()}
    b = {r["id"]: r["value"] for r in uni.state.collect()}
    assert all(abs(a[i] - b[i]) < 1e-12 for i in a)
    # single-source PPR: mass conserved, source holds the largest rank
    ppr = personalized_pagerank(spark, edges, source_ids=[0], tol=1e-8)
    total = ppr.state.groupBy().sum("value").first()[0]
    assert abs(total - 1.0) < 1e-6
    ranks = {r["id"]: r["value"] for r in ppr.state.collect()}
    assert ranks[0] == max(ranks.values())


def test_weighted_pagerank_uniform_weights_equals_standard(spark):
    """With all edge weights equal, weight-proportional rank flow is
    uniform flow — weighted PR must equal standard PR exactly; and with
    skewed weights the heavier target must out-rank the lighter one."""
    from pyspark.sql import functions as FF

    from pregel_golang_implementation_spark.operators.pagerank import pagerank

    base = spark.createDataFrame(
        [(0, 1, 1.0), (1, 2, 1.0), (2, 0, 1.0), (0, 2, 1.0)],
        "src long, dst long, weight double",
    )
    std = pagerank(spark, base, tol=1e-10)
    wtd = pagerank(spark, base, tol=1e-10, weighted=True)
    a = {r["id"]: r["value"] for r in std.state.collect()}
    b = {r["id"]: r["value"] for r in wtd.state.collect()}
    assert all(abs(a[i] - b[i]) < 1e-12 for i in a)
    skew = base.withColumn(
        "weight", FF.when((FF.col("src") == 0) & (FF.col("dst") == 2), 9.0).otherwise(1.0)
    )
    sk = {r["id"]: r["value"] for r in pagerank(spark, skew, tol=1e-10, weighted=True).state.collect()}
    assert sk[2] > b[2]  # vertex 2 now receives 0.9 of vertex 0's rank


# ------------------------------------------------------- incremental CC

def test_incremental_cc_matches_full_recompute(spark):
    from pregel_golang_implementation_spark.operators.connected_components import (
        connected_components,
        incremental_connected_components,
    )

    old_edges = spark.createDataFrame(
        [(0, 1, 1.0), (1, 2, 1.0), (10, 11, 1.0), (20, 21, 1.0)],
        "src long, dst long, weight double",
    )
    prior = connected_components(spark, old_edges).state.select("id", "value")
    # a new batch bridges components {10,11} and {20,21}, adds vertex 30
    new_edges = old_edges.union(
        spark.createDataFrame(
            [(11, 20, 1.0), (30, 21, 1.0)], "src long, dst long, weight double"
        )
    )
    inc = incremental_connected_components(spark, new_edges, prior)
    full = connected_components(spark, new_edges)
    a = {r["id"]: r["value"] for r in inc.state.collect()}
    b = {r["id"]: r["value"] for r in full.state.collect()}
    assert a == b
    assert a[30] == 10.0  # new vertex joined the merged component
    # seeded run must not need more supersteps than the full recompute
    assert inc.supersteps <= full.supersteps
