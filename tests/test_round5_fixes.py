"""Round-5 fixes: the four r4 ADVICE items + the new contract queries'
building blocks (4-iter LPA)."""

from __future__ import annotations

import pytest


# -------------------------------------- ADVICE: simhash occupancy cap/report

def _mk_docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_simhash_near_dups_cap_excludes_oversized_buckets(spark, caplog):
    """A band bucket over the cap is excluded from pairing, the drop is
    WARNING-logged (never silent), and surviving pairs are a subset of the
    exhaustive result with identical (exact) hamming values."""
    import logging

    from pregel_golang_implementation_spark.operators.dedup import (
        simhash_near_dups,
    )

    # 12 near-identical docs (one mega band bucket) + 2 unrelated ones
    rows = [(i, f"the quick brown fox jumps over dog {i % 2}") for i in range(12)]
    rows += [(100, "completely different text entirely"), (101, "another thing")]
    docs = _mk_docs(spark, rows)

    full = simhash_near_dups(docs, bits=16, max_hamming=3)
    full_pairs = {(r.doc_a, r.doc_b): r.hamming for r in full.collect()}

    with caplog.at_level(logging.WARNING):
        capped = simhash_near_dups(docs, bits=16, max_hamming=3, max_bucket_size=4)
        capped_pairs = {(r.doc_a, r.doc_b): r.hamming for r in capped.collect()}
    assert len(capped_pairs) < len(full_pairs)
    for pair, ham in capped_pairs.items():
        assert full_pairs[pair] == ham  # values stay exact, coverage shrinks
    assert any("simhash_near_dups" in r.message for r in caplog.records)


def test_simhash_near_dups_cap_noop_on_healthy_corpus(spark):
    """When no bucket exceeds the cap the result is the exhaustive set."""
    from pregel_golang_implementation_spark.operators.dedup import (
        simhash_near_dups,
    )

    rows = [(i, f"document number {i} with its own words {i * 7}") for i in range(8)]
    docs = _mk_docs(spark, rows)
    full = sorted(simhash_near_dups(docs, bits=16, max_hamming=3).collect())
    capped = sorted(
        simhash_near_dups(docs, bits=16, max_hamming=3, max_bucket_size=1000).collect()
    )
    assert full == capped


# ------------------------------------- ADVICE: bands unpersist on error path

def test_near_dup_clusters_unpersists_bands_on_failure(spark, monkeypatch):
    """If the resolve pipeline raises mid-flight, the bands cache must be
    released (try/finally), not leak for the session lifetime."""
    import pregel_golang_implementation_spark.operators.dedup as dedup

    docs = _mk_docs(
        spark, [(i, f"some text body {i} repeated words here") for i in range(20)]
    )
    # compare RDD ID SETS, not counts: the async ContextCleaner may drop
    # unrelated stale entries (e.g. lazy localCheckpoints from earlier
    # tests in the shared session) between the two reads, which made a
    # size-equality assert flaky in full-suite runs — a leak means a NEW
    # id that survives the failure, regardless of what else got cleaned
    def _ids():
        return {
            int(k)
            for k in spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()
        }

    before = _ids()

    def boom(*a, **k):
        raise RuntimeError("injected failure")

    monkeypatch.setattr(dedup, "lsh_candidate_pairs", boom)
    with pytest.raises(RuntimeError, match="injected failure"):
        dedup.near_dup_clusters(docs, max_bucket_size=10)
    leaked = _ids() - before
    assert not leaked, f"bands cache leaked on the failure path: {leaked}"


def test_near_dup_clusters_still_resolves(spark):
    """Happy path unchanged by the try/finally restructure."""
    from pregel_golang_implementation_spark.operators.dedup import (
        near_dup_clusters,
    )

    base = "alpha beta gamma delta epsilon zeta theta iota kappa lambda"
    rows = [
        (1, base),
        (2, base),  # exact dup of 1
        (3, base + " mu"),  # near dup of 1 (jaccard 8/9)
        (4, "totally unrelated content lives here now"),
    ]
    docs = _mk_docs(spark, rows)
    # rows_per_band=1 → collide iff ANY of the 16 minhashes agree: at
    # jaccard 8/9 the miss probability is (1/9)^16 — deterministic given
    # the fixed hash functions, verified by this very test
    out = {
        r.doc_id: r.cluster_id
        for r in near_dup_clusters(docs, threshold=0.3, rows_per_band=1).collect()
    }
    assert out[1] == out[2] == out[3] == 1
    assert out[4] == 4


# ------------------------------------------ r5: pre-shuffle message counting

def _path_edges(spark, n=20):
    return spark.createDataFrame(
        [(i, i + 1, 1.0) for i in range(n)], "src long, dst long, weight double"
    )


def test_slim_shuffle_empty_final_frontier_counts_zero(spark):
    """The convergence superstep of frontier SSSP sends ZERO messages; AQE
    folds the empty message subtree out of the final plan, taking the
    CollectMetrics with it — the runner must report 0, not crash
    (regression: Py4JJavaError in Observation.get, r5)."""
    from pregel_golang_implementation_spark.operators.sssp import sssp

    res = sssp(spark, _path_edges(spark), source=0)
    assert res.converged
    assert res.metrics[-1].messages_sent == 0
    assert res.total_messages == 20
