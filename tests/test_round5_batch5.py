"""Round-5 batch 5: multi-source BFS / harmonic centrality, bipartite
co-occurrence projection."""

from __future__ import annotations

from pyspark.sql import functions as F

from pregel_golang_implementation_spark.operators.bfs import (
    harmonic_centrality,
    msbfs_distances,
)
from pregel_golang_implementation_spark.operators.connected_components import symmetrize
from pregel_golang_implementation_spark.operators.projection import cooccurrence_topk


def _und(spark, pairs):
    return symmetrize(spark.createDataFrame(pairs, "src long, dst long"))


def test_msbfs_path_graph_layers(spark):
    # path 1-2-3-4-5, pivots {1, 5}, 2 hops
    und = _und(spark, [(1, 2), (2, 3), (3, 4), (4, 5)])
    d = {
        (r["id"], r["pivot"]): r["dist"]
        for r in msbfs_distances(und, [1, 5], hops=2).collect()
    }
    assert d[(1, 1)] == 0 and d[(2, 1)] == 1 and d[(3, 1)] == 2
    assert (4, 1) not in d  # beyond hop budget
    assert d[(3, 5)] == 2 and d[(4, 5)] == 1 and d[(5, 5)] == 0


def test_msbfs_shortest_wins_over_longer_path(spark):
    # triangle 1-2-3 plus chain 3-4: dist(1→3) must be 1 (direct), not 2
    und = _und(spark, [(1, 2), (2, 3), (1, 3), (3, 4)])
    d = {
        (r["id"], r["pivot"]): r["dist"]
        for r in msbfs_distances(und, [1], hops=3).collect()
    }
    assert d[(3, 1)] == 1 and d[(4, 1)] == 2


def test_harmonic_star_center_highest(spark):
    # star: center 0 with leaves 1..4; pivots = two leaves
    und = _und(spark, [(0, i) for i in range(1, 5)])
    h = {
        r["id"]: r["harmonic"]
        for r in harmonic_centrality(und, [1, 2], hops=3).collect()
    }
    # center: dist 1 from both pivots → 2.0; other leaves: 2+2 → 1.0;
    # pivots see each other at dist 2 → 0.5
    assert h[0] == 2.0
    assert h[3] == 1.0 and h[4] == 1.0
    assert h[1] == 0.5 and h[2] == 0.5


def _mem(spark, rows):
    return spark.createDataFrame(rows, "entity long, container long")


def test_cooccurrence_counts_and_ties(spark):
    rows = [(1, 10), (2, 10), (3, 10), (1, 20), (2, 20)]
    out = cooccurrence_topk(_mem(spark, rows), k=2, max_container_size=None)
    got = {(r["id"], r["candidate"]): (r["n_shared"], r["rank"]) for r in out.collect()}
    assert got[(1, 2)] == (2, 1)  # two shared containers
    assert got[(1, 3)] == (1, 2)
    assert got[(3, 1)] == (1, 1)  # tie 1 vs 2 broken by smaller candidate
    assert got[(3, 2)] == (1, 2)


def test_cooccurrence_cap_drops_megabasket(spark):
    mega = [(e, 99) for e in range(10)]  # container of size 10
    rows = [(1, 10), (2, 10)] + mega
    out = cooccurrence_topk(_mem(spark, rows), k=3, max_container_size=5)
    got = {(r["id"], r["candidate"]) for r in out.collect()}
    assert got == {(1, 2), (2, 1)}  # only the small basket contributes


# ------------------------------------------------------------ square count

def test_square_count_k4_and_single_square(spark):
    from pregel_golang_implementation_spark.operators.graph_metrics import (
        square_count,
    )

    # K4 contains exactly three 4-cycles
    k4 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    r = square_count(_und(spark, k4), max_middle_degree=None).first()
    assert (r["n_squares"], r["excluded_middles"]) == (3, 0)
    # a single square 1-2-3-4-1
    sq = [(1, 2), (2, 3), (3, 4), (4, 1)]
    r = square_count(_und(spark, sq), max_middle_degree=None).first()
    assert r["n_squares"] == 1
    # a triangle has no squares
    tri = [(1, 2), (2, 3), (1, 3)]
    r = square_count(_und(spark, tri), max_middle_degree=None).first()
    assert r["n_squares"] == 0


def test_square_count_cap_reports_excluded(spark):
    from pregel_golang_implementation_spark.operators.graph_metrics import (
        square_count,
    )

    # hub 0 adjacent to 1..9 (degree 9) plus a clean square 20-21-22-23
    pairs = [(0, i) for i in range(1, 10)] + [
        (20, 21), (21, 22), (22, 23), (23, 20),
    ]
    r = square_count(_und(spark, pairs), max_middle_degree=5).first()
    assert r["excluded_middles"] == 1  # the hub middle was cut
    assert r["n_squares"] == 1  # the square away from the hub survives


# ------------------------------------------------------- seeded spreading

def test_seeded_spread_expands_and_pins_seeds(spark):
    from pregel_golang_implementation_spark.operators.label_propagation import (
        seeded_label_spread,
    )

    # path 1-2-3-4-5; seed 1→A(=7), 5→B(=3); labels meet in the middle
    und = _und(spark, [(1, 2), (2, 3), (3, 4), (4, 5)])
    seeds = spark.createDataFrame([(1, 7), (5, 3)], "id long, lbl long")
    got = {
        r["id"]: r["label"]
        for r in seeded_label_spread(und, seeds, rounds=2).collect()
    }
    assert got[1] == 7 and got[5] == 3  # seeds pinned
    assert got[2] == 7 and got[4] == 3  # nearest seed wins
    # vertex 3 hears both with equal count → smaller label wins
    assert got[3] == 3
    # one more round: non-seed 2 now hears {7 from seed 1, 3 from vertex
    # 3} — equal count, smaller label wins; the seed itself never moves
    got3 = {
        r["id"]: r["label"]
        for r in seeded_label_spread(und, seeds, rounds=3).collect()
    }
    assert got3[1] == 7 and got3[2] == 3


def test_seeded_spread_unreached_omitted(spark):
    from pregel_golang_implementation_spark.operators.label_propagation import (
        seeded_label_spread,
    )

    # two components; only one is seeded
    und = _und(spark, [(1, 2), (10, 11)])
    seeds = spark.createDataFrame([(1, 5)], "id long, lbl long")
    got = {
        r["id"]: r["label"]
        for r in seeded_label_spread(und, seeds, rounds=2).collect()
    }
    assert got == {1: 5, 2: 5}



# -------------------------------------------------------------- k-truss

def test_ktruss_peels_tail_keeps_clique(spark):
    from pregel_golang_implementation_spark.operators.ktruss import ktruss_peel

    # K4 (every edge in 2 triangles) + a pendant triangle edge chain:
    # edges of the triangle (10,11,12) have support 1, K4 edges support 2
    k4 = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    tri = [(10, 11), (10, 12), (11, 12)]
    e = spark.createDataFrame(k4 + tri, "src long, dst long")
    out4 = {
        (r["src"], r["dst"]): r["support"]
        for r in ktruss_peel(e, k=4, rounds=2).collect()
    }
    assert set(out4) == set(k4)  # 4-truss = the K4 alone
    assert all(s == 2 for s in out4.values())
    out3 = {
        (r["src"], r["dst"]) for r in ktruss_peel(e, k=3, rounds=2).collect()
    }
    assert out3 == set(k4 + tri)  # 3-truss keeps the triangle too


def test_ktruss_cascade_needs_rounds(spark):
    from pregel_golang_implementation_spark.operators.ktruss import ktruss_peel

    # two triangles sharing edge (1,2): (1,2,3) and (1,2,4).  At k=4,
    # round 1 keeps only (1,2) (support 2) which then has no triangle —
    # round 2 must cascade it away to the empty 4-truss
    e = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (1, 4), (2, 4)], "src long, dst long"
    )
    assert ktruss_peel(e, k=4, rounds=1).count() == 1
    assert ktruss_peel(e, k=4, rounds=2).count() == 0


def test_ktruss_rejects_bad_params(spark):
    import pytest as _pytest

    from pregel_golang_implementation_spark.operators.ktruss import ktruss_peel

    e = spark.createDataFrame([(1, 2)], "src long, dst long")
    with _pytest.raises(ValueError, match="k must"):
        ktruss_peel(e, k=2, rounds=1)


# ---------------------------------------------------------- powerlaw MLE

def test_powerlaw_alpha_recovers_generated_exponent(spark):
    import math
    import random

    from pregel_golang_implementation_spark.operators.graph_metrics import (
        powerlaw_alpha,
    )

    # degrees drawn by inverse transform from a continuous α=2.5 tail
    # then truncated to ints (which biases the DISCRETE-approx MLE low —
    # the distributed result must match the hand formula EXACTLY, and
    # sit in a loose band around the generating exponent)
    rng = random.Random(11)
    alpha_true, d_min = 2.5, 2
    degs = [
        min(int(d_min * (1 - rng.random()) ** (-1 / (alpha_true - 1))), 1000)
        for _ in range(20000)
    ]
    rows = [
        (vid, 1_000_000 + j) for vid, d in enumerate(degs) for j in range(d)
    ]
    e = spark.createDataFrame(rows, "src long, dst long")
    r = powerlaw_alpha(e, d_min=d_min).first()
    hand = 1 + len(degs) / sum(math.log(d / (d_min - 0.5)) for d in degs)
    assert abs(r["alpha"] - hand) < 1e-6  # distributed ≡ single-process
    assert 2.0 < r["alpha"] < 3.0
    assert r["n_tail"] == 20000


def test_powerlaw_alpha_rejects_bad_dmin(spark):
    import pytest as _pytest

    from pregel_golang_implementation_spark.operators.graph_metrics import (
        powerlaw_alpha,
    )

    e = spark.createDataFrame([(1, 2)], "src long, dst long")
    with _pytest.raises(ValueError, match="d_min"):
        powerlaw_alpha(e, d_min=0)


# ------------------------------------------------------ incremental PR

def test_incremental_pagerank_fixed_point_invariant(spark):
    from pregel_golang_implementation_spark.operators.pagerank import (
        incremental_pagerank,
        pagerank,
    )

    e = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4), (4, 1)], "src long, dst long"
    ).withColumn("weight", F.lit(1.0))
    converged = pagerank(spark, e, tol=1e-12)
    assert converged.converged
    # warm-starting FROM the fixed point must stay at the fixed point
    again = incremental_pagerank(
        spark, e, converged.state.select("id", "value"), max_supersteps=2
    )
    a = {r["id"]: r["value"] for r in converged.state.collect()}
    b = {r["id"]: r["value"] for r in again.state.collect()}
    assert all(abs(a[i] - b[i]) < 1e-9 for i in a)


def test_incremental_pagerank_seeds_new_vertices(spark):
    from pregel_golang_implementation_spark.operators.pagerank import (
        incremental_pagerank,
    )

    e = spark.createDataFrame([(1, 2), (2, 1), (2, 3)], "src long, dst long")
    # prior knows only vertices 1,2; vertex 3 must seed at 1/N and rank
    prior = spark.createDataFrame([(1, 0.5), (2, 0.5)], "id long, value double")
    res = incremental_pagerank(spark, e, prior, max_supersteps=3)
    got = {r["id"]: r["value"] for r in res.state.collect()}
    assert set(got) == {1, 2, 3}
    assert got[3] > 0


# ------------------------------------------------------ partition quality

def test_partition_quality_cut_and_balance(spark):
    from pregel_golang_implementation_spark.operators.graph_metrics import (
        partition_quality,
    )

    # two 3-cliques {0,1,2} and {3,4,5}; "good" puts each clique in one
    # part (zero cut), "bad" splits across parts by parity
    cliq = [(a, b) for a in range(3) for b in range(a + 1, 3)]
    cliq += [(a, b) for a in range(3, 6) for b in range(a + 1, 6)]
    und = _und(spark, cliq)
    rows = [("good", i, i // 3) for i in range(6)] + [
        ("bad", i, i % 2) for i in range(6)
    ]
    a = spark.createDataFrame(rows, "strategy string, id long, part long")
    got = {
        r["strategy"]: (r["cut_frac"], r["balance"])
        for r in partition_quality(und, a, num_parts=2).collect()
    }
    assert got["good"] == (0.0, 1.0)  # clique-aligned: no cut, balanced
    # parity split cuts 2 of 3 edges in each clique (both directions of
    # the symmetrized table count, ratio unchanged)
    assert abs(got["bad"][0] - 2 / 3) < 1e-6
    assert got["bad"][1] == 1.0
