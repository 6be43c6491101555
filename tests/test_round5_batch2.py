"""Round-5 batch 2: stratified sampling, funnel, assortativity, Luby
MIS."""

from __future__ import annotations

import datetime

import numpy as np
from pyspark.sql import functions as F

from pregel_golang_implementation_spark.operators.events import funnel
from pregel_golang_implementation_spark.operators.graph_metrics import (
    degree_assortativity,
)
from pregel_golang_implementation_spark.operators.mis import (
    OUT_SENTINEL,
    mis,
    mis_status,
)
from pregel_golang_implementation_spark.operators.sampling import (
    hash_sample,
    stratified_sample,
)
from pregel_golang_implementation_spark.operators.connected_components import symmetrize


def _docs(spark, rows):
    return spark.createDataFrame(
        [(i, t, "en", f"src{i % 3}", len(t)) for i, t in enumerate(rows)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )


# -------------------------------------------------------------- sampling

def test_stratified_sample_is_per_group_hash_sample(spark):
    docs = _docs(spark, [f"doc {i}" for i in range(300)])
    frac = {"src0": 1.0, "src1": 0.0}
    out = stratified_sample(docs, frac, default_fraction=0.3).collect()
    srcs = {r["doc_id"]: r["source"] for r in docs.collect()}
    kept = {r["doc_id"] for r in out}
    # src0 fully kept, src1 fully dropped
    assert all(i in kept for i, s in srcs.items() if s == "src0")
    assert all(i not in kept for i, s in srcs.items() if s == "src1")
    # src2 (default 0.3): equals plain hash_sample with the same salt
    expect = {
        r["doc_id"]
        for r in hash_sample(
            docs.filter("source = 'src2'"), 0.3, salt="strat"
        ).collect()
    }
    assert {i for i in kept if srcs[i] == "src2"} == expect


# ---------------------------------------------------------------- funnel

def test_funnel_orders_and_depth(spark):
    t0 = datetime.datetime(2024, 1, 1)

    def ts(sec):
        return t0 + datetime.timedelta(seconds=sec)

    rows = [
        # user 1: full ordered funnel
        (1, ts(0), 1, "view", 0.0, "{}"),
        (2, ts(10), 1, "click", 0.0, "{}"),
        (3, ts(20), 1, "purchase", 0.0, "{}"),
        # user 2: purchase BEFORE view -> depth 1 (view only)
        (4, ts(0), 2, "purchase", 0.0, "{}"),
        (5, ts(10), 2, "view", 0.0, "{}"),
        # user 3: view then click, click again later (min after view wins)
        (6, ts(0), 3, "click", 0.0, "{}"),
        (7, ts(5), 3, "view", 0.0, "{}"),
        (8, ts(9), 3, "click", 0.0, "{}"),
        # user 4: never enters
        (9, ts(0), 4, "signup", 0.0, "{}"),
    ]
    events = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    out = {r["user_id"]: r.asDict() for r in funnel(events).collect()}
    assert out[1]["depth"] == 3
    assert out[2]["depth"] == 1 and out[2]["t_click_us"] == -1
    # user 3: click at t=9 is the first click strictly after view(t=5)
    assert out[3]["depth"] == 2
    assert out[3]["t_click_us"] - out[3]["t_view_us"] == 4_000_000
    assert out[4]["depth"] == 0
    assert out[4]["t_view_us"] == -1


# -------------------------------------------------------- assortativity

def test_assortativity_matches_numpy(spark):
    edges = spark.createDataFrame(
        [(1, 2, 1.0), (1, 3, 1.0), (2, 3, 1.0), (3, 4, 1.0), (4, 1, 1.0),
         (5, 1, 1.0), (5, 2, 1.0)],
        "src long, dst long, weight double",
    )
    got = degree_assortativity(edges).collect()[0]["assortativity"]
    e = [(s, d) for s, d, _ in edges.collect()]
    from collections import Counter

    od, idg = Counter(s for s, _ in e), Counter(d for _, d in e)
    x = np.array([od[s] for s, _ in e], dtype=float)
    y = np.array([idg[d] for _, d in e], dtype=float)
    want = np.corrcoef(x, y)[0, 1]
    assert abs(got - want) < 1e-6



# ------------------------------------------------------------------ MIS

def _und(spark, pairs):
    return symmetrize(
        spark.createDataFrame(
            [(a, b, 1.0) for a, b in pairs], "src long, dst long, weight double"
        )
    )


def _greedy_mis(pairs, ids, pri):
    """Sequential greedy by ascending priority — the lexicographically
    first MIS, which Luby-with-fixed-priorities must converge to."""
    adj = {i: set() for i in ids}
    for a, b in pairs:
        adj[a].add(b)
        adj[b].add(a)
    chosen, banned = set(), set()
    for v in sorted(ids, key=lambda v: pri[v]):
        if v not in banned:
            chosen.add(v)
            banned |= adj[v]
    return chosen


def test_mis_converges_to_greedy_by_priority(spark):
    pairs = [(1, 2), (2, 3), (3, 4), (4, 5), (5, 1), (2, 6), (6, 7), (7, 8),
             (8, 9), (9, 6), (3, 7)]
    ids = sorted({x for p in pairs for x in p})
    und = _und(spark, pairs)
    res = mis(spark, und, max_supersteps=32)
    rows = mis_status(res.state).collect()
    status = {r["id"]: r["status"] for r in rows}
    assert "undecided" not in status.values()
    got = {i for i, s in status.items() if s == "in"}
    # engine priorities (md5-derived) read back from superstep-0 init
    from pregel_golang_implementation_spark.operators.mis import priority_expr

    pri = {
        r["id"]: r["p"]
        for r in spark.createDataFrame([(i,) for i in ids], "id long")
        .select("id", priority_expr().alias("p"))
        .collect()
    }
    assert got == _greedy_mis(pairs, ids, pri)
    # independence + maximality, belt and braces
    inset = got
    for a, b in pairs:
        assert not (a in inset and b in inset)
    for i, s in status.items():
        if s == "out":
            adj = {x for a, b in pairs for x in (a, b)
                   if (a == i or b == i) and x != i}
            assert adj & inset


def test_mis_fixed_rounds_leave_deterministic_undecided(spark):
    # long path: 4 rounds cannot decide everything; statuses must be a
    # pure function of the input (repartition-invariant)
    pairs = [(i, i + 1) for i in range(1, 40)]
    und = _und(spark, pairs)
    a = sorted(map(tuple, mis_status(mis(spark, und, max_supersteps=4).state).collect()))
    b = sorted(
        map(
            tuple,
            mis_status(
                mis(spark, und.repartition(5), max_supersteps=4).state
            ).collect(),
        )
    )
    assert a == b
    assert OUT_SENTINEL == float(2**48)


# -------------------------------------------------------- link prediction

def test_common_neighbors_square(spark):
    # square 1-2-3-4-1: diagonals (1,3) and (2,4) share two neighbors
    und = _und(spark, [(1, 2), (2, 3), (3, 4), (4, 1)])
    from pregel_golang_implementation_spark.operators.link_prediction import (
        common_neighbor_topk,
    )

    out = {(r["id"], r["candidate"]): (r["common"], r["rank"]) for r in
           common_neighbor_topk(und, k=3, max_middle_degree=None).collect()}
    assert out[(1, 3)] == (2, 1)
    assert out[(2, 4)] == (2, 1)
    assert len(out) == 4  # mirrored both directions, nothing else


def test_common_neighbors_middle_degree_cap(spark):
    # star center 0 with leaves 1..5 plus a wedge 1-9-2; cap below the
    # star degree excludes 0 as middle, so only (1,2) via 9 survives
    from pregel_golang_implementation_spark.operators.link_prediction import (
        common_neighbor_topk,
    )

    star = [(0, i) for i in range(1, 6)]
    und = _und(spark, star + [(1, 9), (9, 2)])
    out = {(r["id"], r["candidate"]): r["common"] for r in
           common_neighbor_topk(und, k=5, max_middle_degree=3).collect()}
    assert (1, 2) in out and out[(1, 2)] == 1
    assert all(a != 3 for a, _ in out)  # leaf 3 only reachable via the cut hub


def test_mis_equals_greedy_on_random_graphs(spark):
    # randomized structural sweep: Luby-with-fixed-priorities must equal
    # the sequential greedy-by-priority MIS on every graph (seeded
    # Erdős–Rényi-ish samples; deterministic across runs)
    import random

    from pregel_golang_implementation_spark.operators.mis import priority_expr

    for seed in (11, 23, 47):
        rng = random.Random(seed)
        n = 24
        pairs = sorted(
            {
                (a, b)
                for a in range(1, n)
                for b in range(a + 1, n + 1)
                if rng.random() < 0.12
            }
        )
        if not pairs:
            continue
        ids = sorted({x for p in pairs for x in p})
        res = mis(spark, _und(spark, pairs), max_supersteps=64)
        status = {r["id"]: r["status"] for r in mis_status(res.state).collect()}
        got = {i for i, s in status.items() if s == "in"}
        pri = {
            r["id"]: r["p"]
            for r in spark.createDataFrame([(i,) for i in ids], "id long")
            .select("id", priority_expr().alias("p"))
            .collect()
        }
        assert got == _greedy_mis(pairs, ids, pri), f"seed {seed}"


def test_last_touch_attribution(spark):
    import datetime as _dt

    t0 = _dt.datetime(2024, 1, 1)
    rows = [
        (1, t0 + _dt.timedelta(seconds=0), 1, "view", 0.0, "{}"),
        (2, t0 + _dt.timedelta(seconds=5), 1, "view", 0.0, "{}"),
        (3, t0 + _dt.timedelta(seconds=9), 1, "purchase", 0.0, "{}"),
        (4, t0 + _dt.timedelta(seconds=0), 2, "purchase", 0.0, "{}"),  # no prior view
    ]
    events = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    from pregel_golang_implementation_spark.operators.events import last_touch

    out = {r["event_id"]: (r["t_touch_us"], r["gap_us"]) for r in
           last_touch(events).collect()}
    # purchase 3 attributes to the LATEST prior view (t=5), gap 4s
    assert out[3][1] == 4_000_000
    assert out[4] == (-1, -1)


def test_hits_matches_numpy_power_iteration(spark):
    from pregel_golang_implementation_spark.operators.hits import hits

    pairs = [(1, 2), (1, 3), (2, 3), (4, 3), (4, 2), (3, 5)]
    edges = spark.createDataFrame(
        [(a, b, 1.0) for a, b in pairs], "src long, dst long, weight double"
    )
    got = {r["id"]: (r["hub"], r["authority"]) for r in
           hits(edges, iterations=4).collect()}
    ids = sorted({x for p in pairs for x in p})
    ix = {v: i for i, v in enumerate(ids)}
    A = np.zeros((len(ids), len(ids)))
    for a, b in pairs:
        A[ix[a], ix[b]] = 1.0
    h = np.ones(len(ids))
    for _ in range(4):
        a = A.T @ h
        a = a / a.sum()
        h = A @ a
        h = h / h.sum()
    for v in ids:
        assert abs(got[v][0] - h[ix[v]]) < 1e-9, v
        assert abs(got[v][1] - a[ix[v]]) < 1e-9, v
