"""PregelRunner loop contract: one barrier (one Spark job) per superstep,
exact per-step metrics against hand-computed counts, the ``max_supersteps``
cap (including 0) on both ``run`` and ``resume``, the caller's session
settings restored, dead barrier blocks released, the partition count
resolved per run, the layout's graph fingerprint, the PageRank
operator's job budget and vertex-set release, a superstep plan that
reads the cached edge layout, and the message combine:
hand-computed inboxes and the map-side partial aggregate that absorbs
inbox skew."""

from __future__ import annotations

import re
from collections import Counter, defaultdict

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from pregel_golang_implementation_spark.operators.connected_components import (
    cc_spec,
    symmetrize,
)
from pregel_golang_implementation_spark.operators.label_propagation import lpa_spec
from pregel_golang_implementation_spark.operators.pagerank import (
    pagerank_spec,
    prepare_pagerank_graph,
    rank_flow,
)
from pregel_golang_implementation_spark.plans.runner import PregelRunner, sum64
from pregel_golang_implementation_spark.plans.spec import (
    COMBINERS,
    AlgorithmSpec,
    combine_messages,
)


def _undirected(spark):
    """A 12-vertex path plus a triangle, both directions of every edge."""
    pairs = [(i, i + 1) for i in range(11)] + [(20, 21), (21, 22), (20, 22)]
    raw = spark.createDataFrame(pairs, "src long, dst long")
    edges = symmetrize(raw)
    return edges, [(r["src"], r["dst"]) for r in edges.collect()]


def _simulate(edge_list, combine, use_frontier, max_steps):
    """Synchronous Pregel on a Python edge list: labels start at the vertex
    id; per step the previous frontier scatters its label along its
    out-edges (every vertex when ``use_frontier`` is False), each
    inbox folds with ``combine`` and a vertex stays active iff its label
    changed.  Returns per-step (messages, active) and the final labels."""
    out = defaultdict(list)
    for s, d in edge_list:
        out[s].append(d)
    labels = {v: float(v) for e in edge_list for v in e}
    frontier = set(labels)
    steps = []
    while len(steps) < max_steps:
        senders = frontier if use_frontier else labels
        inbox = defaultdict(list)
        for v in senders:
            for d in out[v]:
                inbox[d].append(labels[v])
        new = {v: combine(labels[v], inbox[v]) if inbox[v] else labels[v] for v in labels}
        frontier = {v for v in labels if new[v] != labels[v]}
        steps.append((sum(len(out[v]) for v in senders), len(frontier)))
        labels = new
        if not frontier:
            break
    return steps, labels


def _mode(old, msgs):
    counts = Counter(msgs)
    return min(counts, key=lambda m: (-counts[m], m))


def _pagerank(edge_list, dangling, n, d, steps):
    """Dense power iteration with uniform dangling redistribution; returns
    per-step (dangling mass, ranks)."""
    outdeg = Counter(s for s, _ in edge_list)
    rank = {v: 1.0 / n for v in dangling}
    dm = sum(rank[v] for v in rank if dangling[v])
    out = []
    for _ in range(steps):
        inbox = defaultdict(float)
        for s, t in edge_list:
            inbox[t] += rank[s] / outdeg[s]
        rank = {v: (1.0 - d) / n + d * (inbox[v] + dm / n) for v in rank}
        dm = sum(rank[v] for v in rank if dangling[v])
        out.append((dm, dict(rank)))
    return out


def _values(res):
    return {r["id"]: r["value"] for r in res.state.collect()}


def test_per_step_metrics_exact_for_min_mode_and_sum(spark):
    """Each superstep's ``messages_sent`` is the out-degree sum over the
    previous frontier (|E| when the spec scatters from every vertex), its
    ``active_vertices`` the changed set, and every step has its own wall
    time — for the min (CC), mode (LPA) and sum (PageRank) combiners."""
    edges, edge_list = _undirected(spark)

    # CC converges on this graph; LPA oscillates on the path until its cap
    cases = [
        (cc_spec(), lambda old, msgs: min([old, *msgs]), True, 100, True),
        (lpa_spec(max_supersteps=6), _mode, False, 6, False),
    ]
    for spec, combine, frontier, cap, converges in cases:
        want, labels = _simulate(edge_list, combine, frontier, cap)
        res = PregelRunner(spark, spec).run(edges)
        got = [(m.messages_sent, m.active_vertices) for m in res.metrics]
        assert got == want, spec.name
        assert [m.superstep for m in res.metrics] == list(range(1, len(want) + 1))
        assert res.supersteps == len(want)
        assert res.converged == converges == (want[-1][1] == 0)
        assert _values(res) == labels
        assert all(m.wall_secs > 0 for m in res.metrics)
        # a fixed-iteration run stops at exactly the cap
        capped = PregelRunner(spark, spec).run(edges, max_supersteps=3)
        assert capped.supersteps == 3 and not capped.converged
        assert [m.messages_sent for m in capped.metrics] == [w[0] for w in want[:3]]

    raw = spark.createDataFrame(
        [(0, 1), (0, 2), (1, 2), (2, 0), (3, 2), (2, 4)], "src long, dst long"
    )
    pr_edges, vertices = prepare_pagerank_graph(raw)
    pr_list = [(r["src"], r["dst"]) for r in pr_edges.collect()]
    dangling = {r["id"]: r["is_dangling"] for r in vertices.collect()}
    n = len(dangling)
    assert any(dangling.values())  # the dangling global is load-bearing
    want = _pagerank(pr_list, dangling, n, 0.85, 4)
    res = PregelRunner(spark, pagerank_spec(n, tol=0.0)).run(
        pr_edges, vertices=vertices, max_supersteps=4
    )
    assert res.supersteps == 4
    assert [m.messages_sent for m in res.metrics] == [len(pr_list)] * 4
    assert all(m.wall_secs > 0 for m in res.metrics)
    for m, (dm, _) in zip(res.metrics, want):
        assert m.globals["dangling_mass"] == pytest.approx(dm, rel=1e-12)
    got = _values(res)
    assert got == pytest.approx(want[-1][1], rel=1e-12)
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-12)


def test_max_supersteps_zero_runs_no_superstep(spark):
    """An explicit 0 is a cap, not "use the spec's cap": the initial state
    comes back untouched.  A negative cap is rejected."""
    edges, _ = _undirected(spark)
    res = PregelRunner(spark, cc_spec()).run(edges, max_supersteps=0)
    assert res.supersteps == 0 and res.metrics == [] and not res.converged
    assert all(r["value"] == r["id"] for r in res.state.collect())
    with pytest.raises(ValueError, match="max_supersteps"):
        PregelRunner(spark, cc_spec()).run(edges, max_supersteps=-1)


def test_resume_with_no_steps_left_runs_no_superstep(spark, tmp_path):
    """A crash exactly at the cap resumes with 0 steps left: the resume
    returns the checkpointed state and leaves the checkpoint as written."""
    edges, _ = _undirected(spark)
    ck = str(tmp_path / "ck")
    first = PregelRunner(spark, cc_spec(), checkpoint_dir=ck, checkpoint_every=1).run(
        edges, max_supersteps=2
    )
    assert first.supersteps == 2 and not first.converged
    res = PregelRunner(spark, cc_spec(), checkpoint_dir=ck).resume(
        edges, max_supersteps=0
    )
    assert res.supersteps == 0 and res.metrics == []
    assert _values(res) == _values(first)
    step, manifest = PregelRunner.latest_checkpoint(ck)
    assert step == 2 and len(manifest["history"]) == 2


def test_reused_runner_sizes_each_graph(spark, monkeypatch):
    """With ``num_partitions=None`` every run sizes its own layout: a
    runner reused on a smaller graph does not keep the first graph's
    partition count, and its ``num_partitions`` stays what the caller
    set."""
    monkeypatch.setattr(PregelRunner, "EDGES_PER_PARTITION", 10)
    key = "spark.sql.shuffle.partitions"
    saved = spark.conf.get(key)
    spark.conf.set(key, "32")
    try:
        runner = PregelRunner(spark, cc_spec())

        def chain(n):
            return symmetrize(
                spark.createDataFrame(
                    [(i, i + 1) for i in range(n)], "src long, dst long"
                )
            )

        big = runner.run(chain(100))  # 200 directed edges -> 20 partitions
        small = runner.run(chain(20))  # 40 directed edges -> MIN_PARTITIONS
    finally:
        spark.conf.set(key, saved)
    assert big.state.rdd.getNumPartitions() == 20
    assert small.state.rdd.getNumPartitions() == 8
    assert runner.num_partitions is None


def _pagerank_raw(spark):
    return spark.createDataFrame(
        [(0, 1), (0, 2), (1, 2), (2, 0), (3, 2), (2, 4)], "src long, dst long"
    )


def _pagerank_inputs(spark):
    pr_edges, vertices = prepare_pagerank_graph(_pagerank_raw(spark))
    return pr_edges, vertices, vertices.count()


def test_one_job_per_superstep_and_conf_restored(spark, tmp_path):
    """Every barrier is one Spark job: a k-step PageRank on materialized
    inputs submits the edge layout, the initial state and one job per
    superstep.  The loop runs with AQE off and hands the caller's settings
    back after ``run``, after ``resume`` and after a run that raises."""
    sc = spark.sparkContext
    aqe = "spark.sql.adaptive.enabled"
    caller = {aqe: spark.conf.get(aqe), "spark.sql.shuffle.partitions": "8"}
    assert caller[aqe] == "true"
    pr_edges, vertices, n = _pagerank_inputs(spark)
    pr_edges = pr_edges.localCheckpoint(eager=True)
    vertices = vertices.localCheckpoint(eager=True)
    k = 5
    sc.setJobGroup("pregel-job-budget", "k-step pagerank")
    try:
        res = PregelRunner(spark, pagerank_spec(n, tol=0.0)).run(
            pr_edges, vertices=vertices, max_supersteps=k
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert res.supersteps == k
    assert len(sc.statusTracker().getJobIdsForGroup("pregel-job-budget")) <= k + 3

    def conf():
        return {key: spark.conf.get(key) for key in caller}

    assert conf() == caller
    edges, _ = _undirected(spark)
    ck = str(tmp_path / "ck")
    PregelRunner(
        spark, cc_spec(), num_partitions=4, checkpoint_dir=ck, checkpoint_every=1
    ).run(edges, max_supersteps=1)
    assert conf() == caller
    resumed = PregelRunner(spark, cc_spec(), checkpoint_dir=ck).resume(edges)
    assert resumed.converged and conf() == caller
    no_dst = spark.createDataFrame([(1,), (2,)], "src long")
    with pytest.raises(AnalysisException):
        PregelRunner(spark, cc_spec()).run(no_dst)
    assert conf() == caller


def test_pagerank_operator_job_budget_and_conf_restored(spark):
    """``operators.pagerank`` lays its graph out once: a k-step run on a
    materialized input submits the edge layout, the vertex set, the
    initial state and one job per superstep, and hands the caller's AQE
    and shuffle-partition settings back."""
    from pregel_golang_implementation_spark.operators.pagerank import pagerank

    sc = spark.sparkContext
    keys = ("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")
    caller = {key: spark.conf.get(key) for key in keys}
    assert caller["spark.sql.adaptive.enabled"] == "true"
    raw = _pagerank_raw(spark).localCheckpoint(eager=True)
    k = 4
    sc.setJobGroup("pagerank-operator-budget", "k-step pagerank operator")
    try:
        res = pagerank(spark, raw, tol=0.0, max_supersteps=k)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert res.supersteps == k
    assert len(sc.statusTracker().getJobIdsForGroup("pagerank-operator-budget")) <= k + 3
    assert {key: spark.conf.get(key) for key in keys} == caller


def test_layout_fingerprint_is_the_input_hash_sum(spark):
    """A layout's fingerprint is Σ xxhash64(src, dst, weight) over the
    INPUT edges mod 2^64, whatever their order or partitioning and
    before the transform collapses them into float sums; ``num_edges``
    counts the laid-out edges.  The sum stays exact past 2^63, where a
    long sum raises under ANSI mode."""
    raw = spark.createDataFrame(
        [(0, 1, 0.1), (0, 1, 0.2), (0, 2, 0.3), (1, 2, 0.7), (2, 0, 1.0)],
        "src long, dst long, weight double",
    )
    hashes = [r[0] for r in raw.select(F.xxhash64("src", "dst", "weight")).collect()]
    runner = PregelRunner(spark, cc_spec())
    for frame in (raw, raw.orderBy(F.desc("src")).repartition(3)):
        lay = runner.layout(frame, lambda e: rank_flow(e, True))
        try:
            assert lay.fingerprint == sum(hashes) % (1 << 64)
            assert lay.num_edges == 4
        finally:
            lay.unpersist()

    extremes = [2**63 - 1] * 4 + [-(2**63)]
    big = spark.createDataFrame([(h,) for h in extremes], "h long")
    assert int(big.agg(sum64(F.col("h"))).first()[0]) == sum(extremes)


def test_pagerank_vertex_set_released_after_init(spark, monkeypatch):
    """The vertex-set checkpoint is copied into the initial state, so its
    blocks are dropped before the first superstep runs."""
    from pregel_golang_implementation_spark.operators.pagerank import pagerank

    jsc = spark.sparkContext._jsc
    seen = {}
    checkpoint, step = PregelRunner.checkpoint, PregelRunner._one_superstep

    def capture(self, frame, layout, *aggs):
        out, row = checkpoint(self, frame, layout, *aggs)
        seen["vertices"] = out._jdf.queryExecution().logical().rdd().id()
        return out, row

    def probe(self, *args):
        seen.setdefault("persisted", set(jsc.getPersistentRDDs().keySet()))
        return step(self, *args)

    monkeypatch.setattr(PregelRunner, "checkpoint", capture)
    monkeypatch.setattr(PregelRunner, "_one_superstep", probe)
    res = pagerank(spark, _pagerank_raw(spark), tol=0.0, max_supersteps=2)
    assert res.supersteps == 2
    assert seen["vertices"] not in seen["persisted"]


def _plan_outside_cache(description: str) -> tuple[list[str], dict[int, str]]:
    """A formatted physical plan as (tree lines outside every
    InMemoryRelation subtree, node number -> that node's details)."""
    body = description.split("== Physical Plan ==\n", 1)[1]
    tree, details = body.split("\n\n", 1)
    nodes = {
        int(m.group(1)): m.group(0)
        for m in re.finditer(r"^\((\d+)\) .*?(?=\n\n|\Z)", details, re.S | re.M)
    }
    kept, cached_at = [], None
    for line in tree.splitlines():
        depth = len(line) - len(line.lstrip(" :+-"))
        if cached_at is not None and depth > cached_at:
            continue
        cached_at = depth if "InMemoryRelation" in line else None
        if cached_at is None:
            kept.append(line)
    return kept, nodes


def test_superstep_reruns_no_layout_lineage(spark, executed_plans):
    """A PageRank superstep reads the laid-out edges from the cache and
    shuffles only the messages: outside the cached relation its plan
    holds one Exchange, hash(id) over the combine's partial sum, and the
    scatter join scans the edges through InMemoryTableScan.  A layout
    the step plan fails to match in the cache, or one that lost its
    hash(src) partitioning, shows up here as a second Exchange."""
    from pregel_golang_implementation_spark.operators.pagerank import pagerank

    raw = _pagerank_raw(spark).localCheckpoint(eager=True)
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    plans = executed_plans(lambda: pagerank(spark, raw, tol=0.0, max_supersteps=1))
    steps = [p for p in plans if "partial_sum(msg" in p]
    assert len(steps) == 1, plans
    tree, nodes = _plan_outside_cache(steps[0])
    exchanges = [i for i, line in enumerate(tree) if "Exchange" in line]
    assert len(exchanges) == 1, tree
    node = int(re.search(r"\((\d+)\)", tree[exchanges[0]]).group(1))
    child = int(re.search(r"\((\d+)\)", tree[exchanges[0] + 1]).group(1))
    assert re.search(rf"hashpartitioning\(id#\d+L, {n}\)", nodes[node]), nodes[node]
    assert "partial_sum(msg" in nodes[child], nodes[child]
    scans = [line for line in tree if "InMemoryTableScan" in line]
    assert len(scans) == 1, tree


def test_dead_barrier_blocks_are_released(spark):
    """Each barrier's checkpoint blocks are dropped once the next barrier
    has materialized: after a 15-superstep PageRank the only new
    persistent RDD is the result state's own checkpoint."""
    from pregel_golang_implementation_spark.operators.pagerank import pagerank
    from pregel_golang_implementation_spark.sources.graphs import synthetic_edges

    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet())
    edges = synthetic_edges(spark, num_vertices=2000, avg_degree=6, seed=42)
    res = pagerank(spark, edges, tol=0.0, max_supersteps=15)
    assert res.supersteps == 15
    result_rdd = res.state._jdf.queryExecution().logical().rdd().id()
    assert set(jsc.getPersistentRDDs().keySet()) - before == {result_rdd}


def test_combine_messages_folds_hand_computed_inboxes(spark):
    """Each combiner kind folds to the hand-computed inbox, one (id, msg)
    row per target id; an unknown kind is rejected when the spec is
    built."""
    rows = [(0, float(i % 3)) for i in range(20)] + [(7, 5.0), (7, 2.0), (7, 2.0)]
    msgs = spark.createDataFrame(rows, "id long, msg double")
    # mode: labels 0 and 1 tie at 7 votes each → smallest label wins
    want = {"min": {0: 0.0, 7: 2.0}, "sum": {0: 19.0, 7: 9.0}, "mode": {0: 0.0, 7: 2.0}}
    assert set(want) == set(COMBINERS)
    for kind in COMBINERS:
        out = combine_messages(msgs, kind)
        assert out.columns == ["id", "msg"]
        got = out.collect()
        assert len(got) == len(want[kind])
        assert {r["id"]: r["msg"] for r in got} == want[kind]
    with pytest.raises(ValueError, match="unknown combiner"):
        AlgorithmSpec(
            name="bad",
            init_fn=lambda v: v,
            msg_fn=lambda value, weight: value,
            combiner="max",
            apply_fn=lambda old, msg, g: msg,
        )


def _exchange_child(plan: list[str], pattern: str) -> tuple[int, str]:
    """Line index of the one Exchange matching ``pattern`` in a printed
    plan, and the line below it: the Exchange's child operator."""
    at = [i for i, line in enumerate(plan) if re.search(pattern, line)]
    assert len(at) == 1, (pattern, plan)
    return at[0], plan[at[0] + 1]


def test_combine_partial_aggregate_below_id_exchange(spark):
    """Inbox skew is absorbed map-side: with AQE off (as in the loop) the
    exchange keyed on id alone reads a partial aggregate, so a hub's inbox
    leaves each map partition as one partial row (min/sum) or one partial
    argmax (mode).  Mode's first exchange is keyed on (id, label) and
    reads partial counts, so a hub's votes spread over its labels."""
    partial = {
        "min": "partial_min(msg",
        "sum": "partial_sum(msg",
        "mode": "partial_max(struct(cnt",
    }
    aqe = "spark.sql.adaptive.enabled"
    saved = spark.conf.get(aqe)
    spark.conf.set(aqe, "false")
    try:
        # 300 messages to hub 0 over 4 map partitions
        msgs = spark.createDataFrame(
            [(0, float(i % 3)) for i in range(300)], "id long, msg double"
        ).repartition(4)
        for kind in COMBINERS:
            out = combine_messages(msgs, kind)
            assert out.count() == 1
            plan = out._jdf.queryExecution().executedPlan().toString().splitlines()
            by_id, below = _exchange_child(plan, r"Exchange hashpartitioning\(id#\d+L?, \d+\)")
            assert partial[kind] in below, (kind, plan)
            if kind == "mode":
                by_label, below = _exchange_child(
                    plan, r"Exchange hashpartitioning\(id#\d+L?, msg#\d+, \d+\)"
                )
                assert by_label > by_id  # the (id, label) exchange runs first
                assert "partial_count(1)" in below, plan
    finally:
        spark.conf.set(aqe, saved)
