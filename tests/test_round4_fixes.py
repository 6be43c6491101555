"""Round-4 items: fraction edge cases in hash sampling, order-independent
session/window value sums, oracle-twin robustness for missing JSON props.
"""

from __future__ import annotations

import pytest

from pregel_golang_implementation_spark.operators.events import (
    event_window_stats,
    sessionize,
)
from pregel_golang_implementation_spark.operators.sampling import hash_sample


def test_hash_sample_full_and_empty_fractions(spark):
    """fraction >= 1.0 must keep EVERYTHING: the 4-hex-char draw compared
    against the 5-char threshold '10000' silently kept only ~6.25% of
    rows before the short-circuit.  fraction <= 0 is the mirror case."""
    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(200)], "doc_id long, text string"
    )
    assert hash_sample(docs, 1.0).count() == 200
    assert hash_sample(docs, 1.5).count() == 200
    assert hash_sample(docs, 0.0).count() == 0
    assert hash_sample(docs, -0.1).count() == 0
    # interior fractions keep behaving like a real sample
    n = hash_sample(docs, 0.5).count()
    assert 0 < n < 200


def _events(spark, rows):
    return spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, event_type string, "
        "value double, props string"
    )


def test_session_sums_are_partition_order_independent(spark):
    """total_value sums doubles whose fp addition is not associative —
    the decimal(38,9) sum makes the rounded result identical under any
    partitioning, so the driver's exact value hash can never flip at a
    partition-order boundary."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    # values chosen so naive double summation order visibly matters
    vals = [0.1, 0.2, 0.3, 1e9, -1e9, 0.123456789, 7.7, 1e-7] * 25
    rows = [
        (i, 1, base + dt.timedelta(seconds=10 * i), "click", v, "{}")
        for i, v in enumerate(vals)
    ]
    ev = _events(spark, rows)
    outs = []
    for parts in (1, 7, 32):
        got = sorted(
            sessionize(ev.repartition(parts), gap_minutes=30)
            .select("user_id", "session_no", "total_value")
            .collect()
        )
        outs.append(got)
    assert outs[0] == outs[1] == outs[2]
    w = []
    for parts in (1, 7, 32):
        w.append(
            sorted(
                event_window_stats(ev.repartition(parts))
                .select("window_start", "total_value")
                .collect()
            )
        )
    assert w[0] == w[1] == w[2]


def test_avg_k_skips_events_without_prop(spark):
    """An event whose props string has no "k" property must be SKIPPED by
    avg_k (not counted as 0, not an error) — and the DuckDB oracle twin
    must agree instead of hard-failing on CAST('' AS BIGINT)."""
    import datetime as dt

    import duckdb

    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        (1, 1, base, "click", 1.0, '{"k": 4}'),
        (2, 1, base + dt.timedelta(seconds=5), "click", 1.0, '{"other": 9}'),
        (3, 1, base + dt.timedelta(seconds=9), "click", 1.0, '{"k": 8}'),
    ]
    got = (
        event_window_stats(_events(spark, rows))
        .select("avg_k")
        .collect()
    )
    assert len(got) == 1 and got[0]["avg_k"] == pytest.approx(6.0)
    # the twin expression (same shape __spark_entry__ uses) on the same rows
    con = duckdb.connect()
    con.sql(
        "CREATE TABLE e AS SELECT * FROM (VALUES "
        "('{\"k\": 4}'), ('{\"other\": 9}'), ('{\"k\": 8}')) t(props)"
    )
    want = con.sql(
        "SELECT AVG(TRY_CAST(NULLIF(regexp_extract(props, '\"k\":\\s*(\\d+)', 1), '') AS BIGINT)) FROM e"
    ).fetchone()[0]
    assert want == pytest.approx(6.0)


# ----------------------------------------------- degree-ordered triangles


def test_degree_ordered_triangles_bound_hub_wedges(spark):
    """On a hub-skewed graph the default (degree-ordered) orientation must
    (a) count exactly the same triangles and (b) enumerate wedges from the
    LOW-degree endpoints: the star hub's C(m,2) wedge pairs disappear."""
    from pregel_golang_implementation_spark.operators.triangles import (
        _wedges,
        canonical_edges,
        triangle_count,
        triangles_per_vertex,
    )

    m = 120
    hub = 61  # mid-range id: id-orientation splits hub edges in/out
    leaves = [i for i in range(1, m + 2) if i != hub]
    # every leaf touches the hub; consecutive leaves (sorted) also touch,
    # so each consecutive pair closes a triangle with the hub
    rows = [(leaf, hub) for leaf in leaves] + [
        (leaves[j], leaves[j + 1]) for j in range(len(leaves) - 1)
    ]
    n_tri = len(leaves) - 1
    edges = spark.createDataFrame(rows, "src long, dst long")
    assert triangle_count(spark, edges) == n_tri  # default: degree-ordered
    assert triangle_count(spark, edges, degree_order=False) == n_tri
    # wedge volume: id-orientation (src<dst) gives the hub ~m/2 in-edges
    # and ~m/2 out-edges -> (m/2)^2 wedges pivot ON the hub; degree
    # ordering points every hub edge INTO the hub (leaf degree <= 3), so
    # zero wedges pivot on it and the total stays O(m)
    unordered = _wedges(canonical_edges(edges, degree_order=False)).count()
    ordered = _wedges(canonical_edges(edges, degree_order=True)).count()
    assert unordered >= (m // 2) ** 2
    assert ordered < 4 * m
    # per-vertex credit is orientation-independent too
    pv = {
        r["id"]: r["triangles"]
        for r in triangles_per_vertex(spark, edges).collect()
    }
    assert pv[hub] == n_tri  # hub corners every triangle
    assert pv[leaves[0]] == 1 and pv[leaves[1]] == 2
