"""Round-5 batch 3: greedy coloring (iterated MIS), earliest-arrival
temporal reachability, deterministic random walks."""

from __future__ import annotations

import hashlib
import random


from pregel_golang_implementation_spark.operators.coloring import greedy_coloring
from pregel_golang_implementation_spark.operators.connected_components import symmetrize
from pregel_golang_implementation_spark.operators.temporal import earliest_arrival
from pregel_golang_implementation_spark.operators.walks import random_walks


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src long, dst long")


def _h48(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:12], 16)


# -------------------------------------------------------------- coloring

def _assert_proper(spark, pairs, colors_df):
    colors = {r["id"]: r["color"] for r in colors_df.collect()}
    for a, b in pairs:
        if colors[a] >= 0:
            assert colors[a] != colors[b], f"edge ({a},{b}) monochrome"


def test_coloring_triangle_needs_three(spark):
    pairs = [(1, 2), (2, 3), (1, 3)]
    und = symmetrize(_edges(spark, pairs))
    out = greedy_coloring(spark, und, colors=3, inner_rounds=3)
    colors = {r["id"]: r["color"] for r in out.collect()}
    assert sorted(colors) == [1, 2, 3]
    assert sorted(colors.values()) == [0, 1, 2]  # K3 forces all three
    _assert_proper(spark, pairs, out)


def test_coloring_star_uses_two(spark):
    pairs = [(0, i) for i in range(1, 8)]
    und = symmetrize(_edges(spark, pairs))
    out = greedy_coloring(spark, und, colors=2, inner_rounds=3)
    colors = {r["id"]: r["color"] for r in out.collect()}
    assert all(c >= 0 for c in colors.values())  # star is 2-colorable
    leaf_colors = {colors[i] for i in range(1, 8)}
    assert len(leaf_colors) == 1 and colors[0] not in leaf_colors
    _assert_proper(spark, pairs, out)


def test_coloring_random_graph_proper_and_deterministic(spark):
    rng = random.Random(5)
    pairs = list({(rng.randrange(40), rng.randrange(40)) for _ in range(120)})
    pairs = [(a, b) for a, b in pairs if a != b]
    und = symmetrize(_edges(spark, pairs))
    out1 = greedy_coloring(spark, und, colors=6, inner_rounds=4)
    _assert_proper(spark, pairs, out1)
    c1 = sorted((r["id"], r["color"]) for r in out1.collect())
    c2 = sorted(
        (r["id"], r["color"])
        for r in greedy_coloring(spark, und, colors=6, inner_rounds=4).collect()
    )
    assert c1 == c2
    # every vertex appears exactly once (colored or honest -1)
    ids = [i for i, _ in c1]
    assert len(ids) == len(set(ids))
    vertex_set = {v for p in pairs for v in p}
    assert set(ids) == vertex_set


def test_coloring_uncolored_surface_as_minus_one(spark):
    # 1 color on a triangle cannot cover it: exactly one vertex colored 0
    pairs = [(1, 2), (2, 3), (1, 3)]
    und = symmetrize(_edges(spark, pairs))
    out = greedy_coloring(spark, und, colors=1, inner_rounds=3)
    colors = sorted(r["color"] for r in out.collect())
    assert colors == [-1, -1, 0]


# -------------------------------------------------------------- temporal

def _tedges(spark, triples):
    return spark.createDataFrame(triples, "src long, dst long, weight double")


def _arrivals(res):
    import math

    return {
        r["id"]: r["value"]
        for r in res.state.collect()
        if not math.isinf(r["value"])
    }


def test_temporal_respects_time_ordering(spark):
    # 1 -(t=5)-> 2 -(t=3)-> 3: the 2->3 contact happens BEFORE the walker
    # reaches 2, so 3 is temporally unreachable; with t=7 it is reachable
    res = earliest_arrival(spark, _tedges(spark, [(1, 2, 5.0), (2, 3, 3.0)]), source=1)
    assert _arrivals(res) == {1: 0.0, 2: 5.0}
    res = earliest_arrival(spark, _tedges(spark, [(1, 2, 5.0), (2, 3, 7.0)]), source=1)
    assert _arrivals(res) == {1: 0.0, 2: 5.0, 3: 7.0}


def test_temporal_takes_earliest_among_alternatives(spark):
    # two time-respecting routes to 4: via 2 arrives at 9, via 3 at 6
    triples = [(1, 2, 1.0), (2, 4, 9.0), (1, 3, 2.0), (3, 4, 6.0)]
    res = earliest_arrival(spark, _tedges(spark, triples), source=1)
    assert _arrivals(res)[4] == 6.0


def test_temporal_later_direct_edge_loses_to_earlier_path(spark):
    # direct 1->4 contact at t=8 vs path arriving at 6: min wins;
    # and an improvement must re-scatter (frontier soundness): once 4
    # improves to 6, its outgoing t=7 edge becomes usable
    triples = [(1, 4, 8.0), (1, 3, 2.0), (3, 4, 6.0), (4, 5, 7.0)]
    res = earliest_arrival(spark, _tedges(spark, triples), source=1)
    arr = _arrivals(res)
    assert arr[4] == 6.0 and arr[5] == 7.0


def test_temporal_fixed_iters_match_converged_prefix(spark):
    # chain with increasing times: after k supersteps exactly k hops known
    triples = [(i, i + 1, float(i)) for i in range(1, 6)]
    res2 = earliest_arrival(spark, _tedges(spark, triples), source=1, max_supersteps=2)
    assert _arrivals(res2) == {1: 0.0, 2: 1.0, 3: 2.0}
    full = earliest_arrival(spark, _tedges(spark, triples), source=1)
    assert _arrivals(full) == {1: 0.0, 2: 1.0, 3: 2.0, 4: 3.0, 5: 4.0, 6: 5.0}
    assert full.converged


# ----------------------------------------------------------------- walks

def _simulate_walks(pairs, length):
    adj: dict[int, list[int]] = {}
    for a, b in sorted(set(pairs)):
        adj.setdefault(a, []).append(b)
    rows = []
    for start in sorted(adj):
        node = start
        rows.append((start, 0, start))
        for t in range(1, length + 1):
            nbrs = adj.get(node)
            if not nbrs:
                break
            node = nbrs[_h48(f"{node}#{t}") % len(nbrs)]
            rows.append((start, t, node))
    return sorted(rows)


def test_walks_match_python_simulation(spark):
    rng = random.Random(11)
    pairs = list({(rng.randrange(30), rng.randrange(30)) for _ in range(90)})
    pairs = [(a, b) for a, b in pairs if a != b]
    got = sorted(
        (r["start"], r["step"], r["node"])
        for r in random_walks(_edges(spark, pairs), length=4).collect()
    )
    assert got == _simulate_walks(pairs, 4)


def test_walks_stop_at_dead_ends(spark):
    # 1 -> 2 (2 has no out-edges): walk from 1 is exactly [1, 2]
    out = sorted(
        (r["start"], r["step"], r["node"])
        for r in random_walks(_edges(spark, [(1, 2)]), length=3).collect()
    )
    assert out == [(1, 0, 1), (1, 1, 2)]


def test_walks_follow_only_real_edges(spark):
    rng = random.Random(13)
    pairs = list({(rng.randrange(20), rng.randrange(20)) for _ in range(50)})
    pairs = [(a, b) for a, b in pairs if a != b]
    edge_set = set(pairs)
    rows = random_walks(_edges(spark, pairs), length=3).collect()
    by_start: dict[int, dict[int, int]] = {}
    for r in rows:
        by_start.setdefault(r["start"], {})[r["step"]] = r["node"]
    for start, steps in by_start.items():
        assert steps[0] == start
        for t in range(1, max(steps) + 1):
            assert t in steps, "no gaps in a walk"
            assert (steps[t - 1], steps[t]) in edge_set
