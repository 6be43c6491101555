"""Round-3 items: weighted/personalized PageRank validation, hash
sampling and sessionization edge cases.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def test_weighted_pagerank_nonpositive_weights(spark):
    """A src whose weights sum to 0 (or are negative) must not inject
    NaN/Inf: its non-positive edges are dropped, it becomes dangling, and
    total rank mass still sums to 1."""
    import math

    from pregel_golang_implementation_spark.operators.pagerank import pagerank

    edges = spark.createDataFrame(
        [
            (1, 2, 3.0),
            (2, 3, 1.0),
            (3, 1, 2.0),
            (4, 1, 5.0), (4, 2, -5.0),  # mixed: negative edge dropped, 5.0 kept
            (5, 1, 2.0), (5, 2, -2.0),  # per-pair rows, sums stay positive per edge
            (6, 1, 0.0),                # zero-outflow src -> dangling
        ],
        "src long, dst long, weight double",
    )
    res = pagerank(spark, edges, weighted=True, tol=1e-10)
    rows = res.state.collect()
    assert all(math.isfinite(r["value"]) for r in rows)
    assert sum(r["value"] for r in rows) == pytest.approx(1.0, abs=1e-9)
    dangling = {r["id"] for r in rows if r["is_dangling"]}
    assert 6 in dangling  # zero outflow -> mass redistributes, not vanishes
    assert 6 in {r["id"] for r in rows}  # the vertex itself is kept


def test_ppr_rejects_missing_source(spark):
    from pregel_golang_implementation_spark.operators.pagerank import (
        personalized_pagerank,
    )

    edges = spark.createDataFrame(
        [(1, 2, 1.0), (2, 1, 1.0)], "src long, dst long, weight double"
    )
    with pytest.raises(ValueError, match="not vertices"):
        personalized_pagerank(spark, edges, source_ids=[1, 999])


def test_hash_sample_and_mix_deterministic(spark):
    """Sampling decisions are pure functions of (salt, key): two runs
    agree row-for-row; fractions land near target; multiplier semantics
    hold (m=2.25 → 2 or 3 copies per doc, m=0 → dropped, salts
    independent)."""
    from pregel_golang_implementation_spark.operators.sampling import (
        hash_sample,
        mix_corpus,
    )

    docs = spark.range(2000).selectExpr(
        "id AS doc_id", "concat('s', id % 2) AS source", "'t' AS text"
    )
    s1 = {r["doc_id"] for r in hash_sample(docs, 0.3).collect()}
    s2 = {r["doc_id"] for r in hash_sample(docs, 0.3).collect()}
    assert s1 == s2  # deterministic
    assert 0.25 < len(s1) / 2000 < 0.35
    other = {r["doc_id"] for r in hash_sample(docs, 0.3, salt="val").collect()}
    assert other != s1  # different salt → independent draw

    mixed = mix_corpus(docs, {"s0": 2.25, "s1": 0.0}, on_col="source").collect()
    per_doc = {}
    for r in mixed:
        assert r["source"] == "s0"
        per_doc.setdefault(r["doc_id"], []).append(r["copy_no"])
    assert all(sorted(c) in ([0, 1], [0, 1, 2]) for c in per_doc.values())
    n3 = sum(1 for c in per_doc.values() if len(c) == 3)
    assert 0.15 < n3 / len(per_doc) < 0.35  # ≈25% get the extra copy


def test_sessionize_gap_boundaries(spark):
    """Sessions split exactly when the inter-event gap EXCEEDS the
    threshold (a gap of exactly 30 min stays in-session); session_no is
    1-based per user in time order."""
    from pregel_golang_implementation_spark.operators.events import sessionize

    rows = [
        # user 1: 3 events, gaps 30min (stays) and 30min+1s (splits)
        (0, "2024-01-01 00:00:00", 1, "a", 1.0, "{}"),
        (1, "2024-01-01 00:30:00", 1, "a", 2.0, "{}"),
        (2, "2024-01-01 01:00:01", 1, "a", 4.0, "{}"),
        # user 2: single event
        (3, "2024-01-01 05:00:00", 2, "b", 8.0, "{}"),
    ]
    events = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string, value double, props string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    got = {
        (r["user_id"], r["session_no"]): (r["n_events"], r["total_value"])
        for r in sessionize(events, gap_minutes=30).collect()
    }
    assert got == {(1, 1): (2, 3.0), (1, 2): (1, 4.0), (2, 1): (1, 8.0)}
