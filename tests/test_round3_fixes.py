"""Round-3 items: benchmark decontamination, default-safe near-dup caps,
weighted/personalized PageRank validation.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pregel_golang_implementation_spark.operators.dedup import ngram_containment


def _df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_ngram_containment_planted(spark):
    """A benchmark doc fully quoted inside a big corpus doc must score
    containment 1.0 even though Jaccard is tiny; partial overlap scores
    the overlap fraction; disjoint docs produce no row."""
    bench_text = "the quick brown fox jumps over the lazy dog"
    benchmarks = _df(spark, [(0, bench_text)])
    filler = " ".join(f"w{i}" for i in range(60))
    corpus = _df(
        spark,
        [
            # full quote buried in filler → every benchmark 3-gram present
            (100, filler + " " + bench_text + " " + filler),
            # only the first 5 words → 3 of the 7 benchmark 3-grams
            (101, "the quick brown fox jumps " + filler),
            # disjoint
            (102, filler),
        ],
    )
    got = {
        (r["doc_id"], r["benchmark_id"]): r["containment"]
        for r in ngram_containment(corpus, benchmarks, n=3).collect()
    }
    assert got[(100, 0)] == pytest.approx(1.0)
    assert got[(101, 0)] == pytest.approx(3 / 7)
    assert (102, 0) not in got


def test_ngram_containment_asymmetric_vs_jaccard(spark):
    """Containment is per-benchmark-denominator: the same overlap scores
    differently against a small and a large benchmark doc."""
    a = "alpha beta gamma delta"  # 2 3-grams
    b = "alpha beta gamma delta epsilon zeta eta theta"  # 6 3-grams
    benchmarks = _df(spark, [(0, a), (1, b)])
    corpus = _df(spark, [(100, "alpha beta gamma delta " + " ".join(f"x{i}" for i in range(20)))])
    got = {
        (r["doc_id"], r["benchmark_id"]): r["containment"]
        for r in ngram_containment(corpus, benchmarks, n=3).collect()
    }
    assert got[(100, 0)] == pytest.approx(1.0)
    assert got[(100, 1)] == pytest.approx(2 / 6)


def test_ngram_containment_plan_broadcasts_benchmark(spark):
    """Scale shape: BOTH joins (shingle intersect, denominator sizes)
    broadcast the tiny benchmark side — the corpus is never shuffled on
    shingle, and no sort-merge join appears."""
    docs = spark.range(200).selectExpr(
        "id AS doc_id", "concat('w', id, ' w', id+1, ' w', id+2, ' w', id+3) AS text"
    )
    out = ngram_containment(
        docs.filter("doc_id >= 10"), docs.filter("doc_id < 10"), n=3
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in plan
    assert "BatchEvalPython" not in plan


def test_ngram_containment_threshold(spark):
    benchmarks = _df(spark, [(0, "a b c d e f")])
    corpus = _df(spark, [(100, "a b c zzz"), (101, "a b c d e f")])
    got = ngram_containment(corpus, benchmarks, n=3, threshold=0.9).collect()
    assert [(r["doc_id"], r["benchmark_id"]) for r in got] == [(101, 0)]


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


def test_near_dup_default_cap_reports_dropped(spark, caplog):
    """The default-capped composition must surface capped coverage (never
    silent) and, when nothing is capped, match the uncapped result."""
    import logging

    from pregel_golang_implementation_spark.operators.dedup import near_dup_clusters

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = _df(
        spark,
        [(i, base + f" tail{i}") for i in range(8)] + [(100, "totally different words here")],
    )
    with caplog.at_level(logging.WARNING):
        capped = near_dup_clusters(docs, threshold=0.3, max_bucket_size=2)
        capped.count()
    assert any("skipped" in r.message for r in caplog.records)

    caplog.clear()
    with caplog.at_level(logging.WARNING):
        default = {
            (r["doc_id"], r["cluster_id"])
            for r in near_dup_clusters(docs, threshold=0.3).collect()
        }
    assert not any("skipped" in r.message for r in caplog.records)
    uncapped = {
        (r["doc_id"], r["cluster_id"])
        for r in near_dup_clusters(docs, threshold=0.3, max_bucket_size=None).collect()
    }
    assert default == uncapped
    assert any(c == 0 and d != 0 for d, c in default)  # the near-dups clustered
