"""Salted-hub execution inside the runner must be result-identical to
unsalted execution (north_rule: explicit skew splitting of hub vertices).
"""

from __future__ import annotations

import pytest

from pregel_golang_implementation_spark.operators.connected_components import (
    cc_spec,
    symmetrize,
)
from pregel_golang_implementation_spark.operators.pagerank import (
    pagerank_spec,
    prepare_pagerank_graph,
)
from pregel_golang_implementation_spark.operators.sssp import sssp_spec
from pregel_golang_implementation_spark.plans.runner import PregelRunner


def _skewed_edges(spark):
    # hub vertex 0 with in-degree 300, plus a chain hanging off it
    hub_in = [(i, 0, 1.0) for i in range(1, 301)]
    chain = [(0, 1000, 2.0), (1000, 1001, 3.0), (1001, 1002, 1.0)]
    return spark.createDataFrame(hub_in + chain, "src long, dst long, weight double")


def test_salted_cc_identical(spark):
    edges = symmetrize(_skewed_edges(spark))
    plain = PregelRunner(spark, cc_spec()).run(edges)
    salted = PregelRunner(
        spark, cc_spec(), salt_degree_threshold=50, num_salts=8
    ).run(edges)
    a = {r["id"]: r["value"] for r in plain.state.collect()}
    b = {r["id"]: r["value"] for r in salted.state.collect()}
    assert a == b
    assert salted.converged
    assert [m.messages_sent for m in plain.metrics] == [
        m.messages_sent for m in salted.metrics
    ]


def test_salted_sssp_identical(spark):
    edges = _skewed_edges(spark)
    plain = PregelRunner(spark, sssp_spec(source=5)).run(edges)
    salted = PregelRunner(
        spark, sssp_spec(source=5), salt_degree_threshold=50, num_salts=8
    ).run(edges)
    a = {r["id"]: r["value"] for r in plain.state.collect()}
    b = {r["id"]: r["value"] for r in salted.state.collect()}
    assert a == b


def test_salted_pagerank_allclose(spark):
    edges = _skewed_edges(spark)
    pr_edges, vertices = prepare_pagerank_graph(edges)
    n = vertices.count()
    plain = PregelRunner(spark, pagerank_spec(n, tol=1e-10)).run(
        pr_edges, vertices=vertices
    )
    salted = PregelRunner(
        spark, pagerank_spec(n, tol=1e-10), salt_degree_threshold=50, num_salts=8
    ).run(pr_edges, vertices=vertices)
    a = {r["id"]: r["value"] for r in plain.state.collect()}
    b = {r["id"]: r["value"] for r in salted.state.collect()}
    assert set(a) == set(b)
    for k in a:
        assert b[k] == pytest.approx(a[k], abs=1e-9)
    assert [m.messages_sent for m in plain.metrics] == [
        m.messages_sent for m in salted.metrics
    ]


def test_salting_enablement_rules(spark):
    from pregel_golang_implementation_spark.operators.label_propagation import lpa_spec
    from pregel_golang_implementation_spark.plans.spec import COMBINERS, AlgorithmSpec

    # every combiner kind has a salted form, so any spec salts when asked
    specs = [cc_spec(), pagerank_spec(10), lpa_spec()]
    assert {spec.combiner for spec in specs} == set(COMBINERS)
    for spec in specs:
        assert PregelRunner(spark, spec, salt_degree_threshold=50)._salting is True
        assert PregelRunner(spark, spec)._salting is False
    # an unknown kind is rejected when the spec is built
    with pytest.raises(ValueError, match="unknown combiner"):
        AlgorithmSpec(
            name="bad",
            init_fn=lambda v: v,
            msg_fn=lambda value, weight: value,
            combiner="max",
            apply_fn=lambda old, msg, g: msg,
        )


def test_combine_forms_agree(spark):
    """Every form derived from a combiner kind — unsalted or salted —
    folds to the same inbox, one (id, msg) row per target id."""
    from functools import partial

    from pregel_golang_implementation_spark.plans.spec import COMBINERS, combine_messages
    from pregel_golang_implementation_spark.sources.graphs import unsalt_ids

    num_salts = 4
    rows = [(0, float(i % 3)) for i in range(20)] + [(7, 5.0), (7, 2.0), (7, 2.0)]
    # hub 0's inbox split across its salt replicas (negative key space)
    salted_rows = [
        (-(i % num_salts) - 1 if v == 0 else v, m) for i, (v, m) in enumerate(rows)
    ]
    plain = spark.createDataFrame(rows, "id long, msg double")
    salted = spark.createDataFrame(salted_rows, "id long, msg double")
    unsalt = partial(unsalt_ids, num_salts=num_salts)
    # mode: labels 0 and 1 tie at 7 votes each → smallest label wins
    want = {"min": {0: 0.0, 7: 2.0}, "sum": {0: 19.0, 7: 9.0}, "mode": {0: 0.0, 7: 2.0}}
    assert set(want) == set(COMBINERS)
    for kind in COMBINERS:
        for msgs, un in ((plain, None), (salted, unsalt)):
            out = combine_messages(msgs, kind, unsalt=un)
            assert out.columns == ["id", "msg"]
            got = out.collect()
            assert len(got) == len(want[kind])
            assert {r["id"]: r["msg"] for r in got} == want[kind]
