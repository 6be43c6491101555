"""Round-5 batch 4: SCC (trim + FW/BW peel), Adamic–Adar link prediction."""

from __future__ import annotations

import math

import pytest

from pregel_golang_implementation_spark.operators.connected_components import symmetrize
from pregel_golang_implementation_spark.operators.link_prediction import (
    adamic_adar_topk,
)
from pregel_golang_implementation_spark.operators.scc import scc_fwbw


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src long, dst long")


# ------------------------------------------------------------------- scc

def _scc_map(spark, pairs, **kw):
    out = scc_fwbw(spark, _edges(spark, pairs), **kw)
    return {r["id"]: r["scc"] for r in out.collect()}


def test_scc_two_cycles_and_bridge(spark):
    # cycle {1,2,3} → bridge 3→4 → cycle {4,5}; 6 dangles off 5
    pairs = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 4), (5, 6)]
    m = _scc_map(spark, pairs, inner_iters=8, trim_rounds=3, outer_rounds=2)
    assert m[1] == m[2] == m[3] == 1
    assert m[4] == m[5] == 4
    assert m[6] == 6
    assert len(m) == 6


def test_scc_dag_is_all_singletons(spark):
    pairs = [(1, 2), (1, 3), (2, 4), (3, 4), (4, 5)]
    m = _scc_map(spark, pairs, inner_iters=6, trim_rounds=6)
    assert m == {v: v for v in range(1, 6)}


def test_scc_single_big_cycle(spark):
    n = 20
    pairs = [(i, (i + 1) % n) for i in range(n)]
    m = _scc_map(spark, pairs, inner_iters=n + 1)
    assert set(m.values()) == {0} and len(m) == n


def test_scc_strict_raises_when_budget_too_small(spark):
    # two cycles X={5,6} → Y={7,8}: Y's f-labels see 5 through the bridge
    # (f=5) but b stays 7, so round 1 peels only X — one outer round with
    # strict must raise, strict=False must return the partial labeling
    pairs = [(5, 6), (6, 5), (7, 8), (8, 7), (5, 7)]
    m = _scc_map(
        spark, pairs, inner_iters=6, trim_rounds=0, outer_rounds=1, strict=False
    )
    # one peel round: f(7)=5 ≠ b(7)=7 → {7,8} unassigned, {5,6} peeled
    assert m[5] == 5 and m[6] == 5
    assert 7 not in m and 8 not in m
    with pytest.raises(ValueError, match="unassigned"):
        scc_fwbw(
            spark,
            _edges(spark, pairs),
            inner_iters=6,
            trim_rounds=0,
            outer_rounds=1,
            strict=True,
        ).count()


def test_scc_second_round_finishes_peel(spark):
    pairs = [(5, 6), (6, 5), (7, 8), (8, 7), (5, 7)]
    m = _scc_map(spark, pairs, inner_iters=6, trim_rounds=2, outer_rounds=2)
    assert m[5] == m[6] == 5
    assert m[7] == m[8] == 7


# ------------------------------------------------------------ adamic-adar

def test_adamic_adar_weights_rare_middles_higher(spark):
    # pair (1,2) shares middle 10 (deg 2); pair (3,4) shares middle 20
    # (deg 4) — same common count 1, but AA ranks the rare middle higher
    pairs = [(1, 10), (2, 10), (3, 20), (4, 20), (5, 20), (6, 20)]
    und = symmetrize(_edges(spark, pairs))
    out = adamic_adar_topk(und, k=3, max_middle_degree=None)
    sc = {(r["id"], r["candidate"]): r["score"] for r in out.collect()}
    assert sc[(1, 2)] == round(1 / math.log(2), 6)
    assert sc[(3, 4)] == round(1 / math.log(4), 6)
    assert sc[(1, 2)] > sc[(3, 4)]


def test_adamic_adar_excludes_existing_edges(spark):
    pairs = [(1, 2), (1, 3), (2, 3)]  # triangle: every pair adjacent
    und = symmetrize(_edges(spark, pairs))
    assert adamic_adar_topk(und, k=3, max_middle_degree=None).count() == 0
