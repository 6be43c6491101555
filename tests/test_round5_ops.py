"""Round-5 new operators: k-core peeling."""

from __future__ import annotations

from pyspark.sql import functions as F

from pregel_golang_implementation_spark.operators.kcore import kcore_peel
from pregel_golang_implementation_spark.operators.connected_components import symmetrize


def _edges(spark, pairs):
    return symmetrize(
        spark.createDataFrame(
            [(a, b, 1.0) for a, b in pairs], "src long, dst long, weight double"
        )
    )


# ----------------------------------------------------------------- kcore

def test_kcore_clique_survives_pendant_peeled(spark):
    # 4-clique {0,1,2,3} plus pendant 4 hanging off 0
    clique = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    und = _edges(spark, clique + [(0, 4)])
    out = {r["id"]: r["degree"] for r in kcore_peel(und, k=2, rounds=3).collect()}
    # pendant removed round 1; clique survives with induced degree 3
    assert out == {0: 3, 1: 3, 2: 3, 3: 3}


def test_kcore_path_cascades_one_layer_per_round(spark):
    # path 1-2-3-4-5: 2-core is empty, but peeling removes ONE layer of
    # endpoints per round — the fixed-round semantics the oracle unrolls
    path = [(1, 2), (2, 3), (3, 4), (4, 5)]
    r1 = {r["id"] for r in kcore_peel(_edges(spark, path), k=2, rounds=1).collect()}
    r2 = {r["id"] for r in kcore_peel(_edges(spark, path), k=2, rounds=2).collect()}
    r3 = {r["id"] for r in kcore_peel(_edges(spark, path), k=2, rounds=3).collect()}
    assert r1 == {2, 3, 4}
    assert r2 == {3}  # 3's induced degree (2-3, 3-4) was 2 in round 1's subgraph
    assert r3 == set()  # fixed point: empty 2-core


def test_kcore_fixed_point_is_stable(spark):
    # cycle of 5 is its own 2-core: extra rounds change nothing
    cyc = [(i, (i + 1) % 5) for i in range(5)]
    out3 = sorted(kcore_peel(_edges(spark, cyc), k=2, rounds=3).collect())
    out6 = sorted(kcore_peel(_edges(spark, cyc), k=2, rounds=6).collect())
    assert out3 == out6
    assert {r["degree"] for r in out3} == {2}
