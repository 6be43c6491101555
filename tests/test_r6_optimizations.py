"""Round-6 optimization equivalence tests.

Every optimization here restructures an operator's internals without
changing its output; each test pins the restructured path to the
original formulation value-for-value.
"""

from __future__ import annotations


def test_adaptive_partitioning_resolves_and_matches_explicit(spark):
    """r6: with num_partitions=None the runner sizes the layout from the
    edge count — min(conf, max(8, ceil(E / 75k))) — and the result is
    value-identical to an explicit-partitions run (all combiners are
    partition-order-insensitive or rounded downstream)."""
    import math

    from pyspark.sql import functions as F

    from pregel_golang_implementation_spark.operators.connected_components import (
        cc_spec,
        symmetrize,
    )
    from pregel_golang_implementation_spark.plans.runner import PregelRunner
    from pregel_golang_implementation_spark.sources.graphs import synthetic_edges

    edges = symmetrize(
        synthetic_edges(spark, num_vertices=3000, avg_degree=4, seed=11),
        dedup=False,
    ).persist()
    n_edges = edges.count()
    conf = int(spark.conf.get("spark.sql.shuffle.partitions"))
    expect = min(
        conf,
        max(PregelRunner.MIN_PARTITIONS, math.ceil(n_edges / PregelRunner.EDGES_PER_PARTITION)),
    )
    adaptive = PregelRunner(spark, cc_spec())
    res_a = adaptive.run(edges)
    assert adaptive.num_partitions == expect
    explicit = PregelRunner(spark, cc_spec(), num_partitions=conf)
    res_e = explicit.run(edges)
    a = sorted(tuple(r) for r in res_a.state.select("id", "value").collect())
    e = sorted(tuple(r) for r in res_e.state.select("id", "value").collect())
    edges.unpersist()
    assert a == e
    assert res_a.supersteps == res_e.supersteps


def test_edge_layout_order_is_deterministic(spark):
    """r6 fix: the runner's cached edge layout is sorted within
    partitions, so its row order is a function of the data alone — not of
    shuffle-fetch interleaving in the CALLER's prep plan.  Two
    independent prepares of the same lineage must agree partition by
    partition, row by row, and equal the canonical layout of the known
    edges: hash(src) partition, then (src, dst, weight) order.  This is
    what keeps every float message-sum downstream (resume vs cold)
    bit-identical across runs."""
    from pyspark.sql import functions as F

    from pregel_golang_implementation_spark.operators.pagerank import (
        pagerank_spec,
        prepare_pagerank_graph,
    )
    from pregel_golang_implementation_spark.plans.runner import PregelRunner
    from pregel_golang_implementation_spark.sources.graphs import synthetic_edges

    edges = synthetic_edges(spark, num_vertices=300, avg_degree=4, seed=7)
    pr_edges, vertices = prepare_pagerank_graph(edges)
    n = vertices.count()

    def layout():
        runner = PregelRunner(spark, pagerank_spec(n))
        e = runner.layout(pr_edges).edges
        rows = [
            tuple(r)
            for r in e.withColumn("p", F.spark_partition_id())
            .select("p", "src", "dst", "weight")
            .collect()
        ]
        e.unpersist()
        return rows, runner.num_partitions

    first, num_partitions = layout()
    assert layout() == (first, num_partitions)  # exact order, not just multiset
    # hash partitioning on src is pmod(murmur3(src), P) — F.hash's function
    # and seed — so the expectation is computed from the raw edge rows
    known = pr_edges.select(
        F.expr(f"pmod(hash(CAST(src AS BIGINT)), {num_partitions})").alias("p"),
        F.col("src").cast("long"),
        F.col("dst").cast("long"),
        F.col("weight").cast("double"),
    ).collect()
    assert len(known) > num_partitions > 1
    assert first == sorted(tuple(r) for r in known)
