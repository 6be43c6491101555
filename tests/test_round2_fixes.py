"""Round-2 hardening tests: cache hygiene, scale-safe id assignment,
candidate-predicate pushdown, bucket caps, end-to-end near-dup
resolution."""

from __future__ import annotations

import pytest

from pregel_golang_implementation_spark.operators.connected_components import (
    cc_spec,
    symmetrize,
)
from pregel_golang_implementation_spark.operators.dedup import (
    lsh_bands,
    lsh_candidate_pairs,
    minhash_dedup,
    minhash_signatures,
    near_dup_clusters,
    dedup_corpus,
    ngram_jaccard,
    oversized_buckets,
    word_shingles,
)
from pregel_golang_implementation_spark.operators.sssp import sssp_spec
from pregel_golang_implementation_spark.plans.runner import PregelRunner
from pregel_golang_implementation_spark.sources.corpus import (
    assign_vertex_ids,
    synthetic_corpus,
)


def _chain_edges(spark, n=10):
    return symmetrize(
        spark.createDataFrame(
            [(i, i + 1, 1.0) for i in range(n)], "src long, dst long, weight double"
        )
    )


# ------------------------------------------------------------ runner hygiene

def test_runner_releases_edge_cache(spark):
    """run() must unpersist the edge cache it created (a long session runs
    many jobs; leaked caches evict useful blocks) while the returned state
    stays usable."""
    edges = _chain_edges(spark)
    runner = PregelRunner(spark, cc_spec())
    captured = {}
    orig = runner._prepare_edges

    def capture(e):
        df = orig(e)
        captured["edges"] = df
        return df

    runner._prepare_edges = capture
    res = runner.run(edges)
    lvl = captured["edges"].storageLevel
    assert not (lvl.useMemory or lvl.useDisk), "edge cache leaked after run()"
    # result is detached from runner-internal storage: still collectable
    assert res.state.count() == 11


def test_resume_rejects_mismatched_spec(spark, tmp_path):
    edges = _chain_edges(spark)
    ck = str(tmp_path / "ck_mismatch")
    PregelRunner(spark, cc_spec(), checkpoint_dir=ck, checkpoint_every=1).run(
        edges, max_supersteps=2
    )
    wrong = PregelRunner(spark, sssp_spec(source=0), checkpoint_dir=ck)
    with pytest.raises(ValueError, match="different spec"):
        wrong.resume(edges)


# --------------------------------------------------- scale-safe vertex ids

def test_vertex_ids_partition_invariant(spark):
    """Ids must equal the global (repo, path) rank regardless of the
    partition count — the per-partition-offset pattern's contract."""
    corpus, _, _ = synthetic_corpus(spark, num_repos=3, files_per_repo=11, seed=8)
    a = {(r["repo"], r["path"]): r["id"] for r in assign_vertex_ids(corpus, 3).collect()}
    b = {(r["repo"], r["path"]): r["id"] for r in assign_vertex_ids(corpus, 7).collect()}
    assert a == b
    keys = sorted(a)  # lexicographic (repo, path) == expected rank order
    assert [a[k] for k in keys] == list(range(1, len(keys) + 1))


def test_vertex_ids_plan_has_no_global_sort(spark, executed_plans):
    """Id assignment must stay parallel, never a single-reducer global
    sort: no plan it executes has a Window or a single-partition
    exchange."""
    corpus, _, _ = synthetic_corpus(spark, num_repos=2, files_per_repo=5, seed=1)
    ids = []
    plans = executed_plans(
        lambda: ids.extend(r["id"] for r in assign_vertex_ids(corpus, 4).collect())
    )
    # the contract is the values — checked above — plus the plans.
    # Sanity: ids dense from 1.
    vals = sorted(ids)
    assert vals == list(range(1, len(vals) + 1))
    assert len(plans) >= 2
    for plan in plans:
        assert "Window" not in plan
        assert "SinglePartition" not in plan


# ------------------------------------------------- jaccard pair pushdown

def test_jaccard_pairs_pushdown_equivalence_and_plan(spark):
    docs = spark.createDataFrame(
        [
            (0, "a b c d e f g h"),
            (1, "a b c d e f g x"),
            (2, "a b c d z z z z"),
            (3, "q r s t u v w y"),
        ],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame([(0, 1), (0, 3)], "doc_a long, doc_b long")
    full = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard(docs, shingle_n=2).collect()
    }
    restricted = ngram_jaccard(docs, pairs=pairs, shingle_n=2)
    got = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in restricted.collect()}
    # same values as the all-pairs run, restricted to the candidate set
    # ((0,3) shares no shingle → no row on either path)
    assert set(got) == {(0, 1)}
    assert got[(0, 1)] == pytest.approx(full[(0, 1)])
    # the pair predicate sits below the aggregate: the pushed-down shape
    # introduces semi-joins of the shingle table to the candidate doc sets
    plan = restricted._jdf.queryExecution().optimizedPlan().toString()
    assert "LeftSemi" in plan


# ------------------------------------------------------- LSH bucket caps

def test_lsh_bucket_cap_skips_megacluster_and_reports(spark):
    # 10 byte-identical docs share every band: uncapped → 45 pairs/bucket
    docs = spark.createDataFrame(
        [(i, "same text everywhere repeated for everyone") for i in range(10)]
        + [(100, "completely different content right here")],
        "doc_id long, text string",
    )
    sig = minhash_signatures(word_shingles(docs, n=3), num_hashes=16)
    bands = lsh_bands(sig, rows_per_band=4)
    uncapped = lsh_candidate_pairs(bands).count()
    assert uncapped == 45  # 10 choose 2
    capped = lsh_candidate_pairs(bands, max_bucket_size=5)
    assert capped.count() == 0
    dropped = oversized_buckets(bands, max_bucket_size=5).collect()
    assert len(dropped) == 4  # 16 hashes / 4 rows-per-band
    assert all(r["n_docs"] == 10 for r in dropped)


def test_collapse_exact_prevents_quadratic_pairs(spark):
    """A 1000-doc exact-dup cluster must never reach the banding join:
    with collapse_exact the pipeline sees one representative, and the
    candidate set stays tiny instead of ~500k pairs."""
    rows = [(i, "identical crawl page body text shared by all") for i in range(1000)]
    rows += [
        (2000, "a genuinely different document about graphs"),
        (2001, "a genuinely different document about graph"),  # near dup of 2000
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = minhash_dedup(docs, collapse_exact=True, max_bucket_size=50)
    got = {(r["doc_a"], r["doc_b"]) for r in pairs.collect()}
    assert (0, 1) not in got  # exact dups collapsed before banding
    assert len(got) <= 3  # only representative-level candidates survive


# --------------------------------------------- end-to-end near-dup resolve

def test_near_dup_clusters_end_to_end(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog today"),
        (1, "the quick brown fox jumps over the lazy dog today"),  # exact dup
        (2, "the quick brown fox jumps over the lazy cat today"),  # near dup
        (3, "an entirely unrelated report about spark shuffles"),
        (4, "an entirely unrelated report about spark shuffles"),  # exact dup of 3
        (5, "nothing like anything else in this tiny corpus"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: (r["cluster_id"], r["is_canonical"])
        for r in near_dup_clusters(docs, threshold=0.3).collect()
    }
    assert out[0] == (0, True)
    assert out[1] == (0, False)  # exact dup folded in
    assert out[2] == (0, False)  # near dup verified + clustered
    assert out[3] == (3, True) and out[4] == (3, False)
    assert out[5] == (5, True)
    clusters = spark.createDataFrame(
        [(k, v[0], v[1]) for k, v in out.items()],
        "doc_id long, cluster_id long, is_canonical boolean",
    )
    kept = sorted(r["doc_id"] for r in dedup_corpus(docs, clusters).collect())
    assert kept == [0, 3, 5]



# ------------------------------------------------- personalized PageRank

def test_ppr_uniform_teleport_equals_standard_pagerank(spark):
    """With p ≡ 1/N the personalized recurrence is standard PageRank —
    an exact algebraic identity the implementation must reproduce."""
    from pyspark.sql import functions as FF

    from pregel_golang_implementation_spark.operators.pagerank import (
        pagerank_spec,
        personalized_pagerank,
        personalized_pagerank_spec,
        prepare_pagerank_graph,
    )
    from pregel_golang_implementation_spark.sources.graphs import synthetic_edges

    edges = synthetic_edges(spark, num_vertices=500, avg_degree=5, seed=13)
    pr_edges, vertices = prepare_pagerank_graph(edges)
    n = vertices.count()
    std = PregelRunner(spark, pagerank_spec(n, tol=1e-9)).run(
        pr_edges, vertices=vertices, max_supersteps=8
    )
    uni = PregelRunner(spark, personalized_pagerank_spec(tol=1e-9)).run(
        pr_edges,
        vertices=vertices.withColumn("p", FF.lit(1.0 / n)),
        max_supersteps=8,
    )
    a = {r["id"]: r["value"] for r in std.state.collect()}
    b = {r["id"]: r["value"] for r in uni.state.collect()}
    assert all(abs(a[i] - b[i]) < 1e-12 for i in a)
    # single-source PPR: mass conserved, source holds the largest rank
    ppr = personalized_pagerank(spark, edges, source_ids=[0], tol=1e-8)
    total = ppr.state.groupBy().sum("value").first()[0]
    assert abs(total - 1.0) < 1e-6
    ranks = {r["id"]: r["value"] for r in ppr.state.collect()}
    assert ranks[0] == max(ranks.values())


def test_weighted_pagerank_uniform_weights_equals_standard(spark):
    """With all edge weights equal, weight-proportional rank flow is
    uniform flow — weighted PR must equal standard PR exactly; and with
    skewed weights the heavier target must out-rank the lighter one."""
    from pyspark.sql import functions as FF

    from pregel_golang_implementation_spark.operators.pagerank import pagerank

    base = spark.createDataFrame(
        [(0, 1, 1.0), (1, 2, 1.0), (2, 0, 1.0), (0, 2, 1.0)],
        "src long, dst long, weight double",
    )
    std = pagerank(spark, base, tol=1e-10)
    wtd = pagerank(spark, base, tol=1e-10, weighted=True)
    a = {r["id"]: r["value"] for r in std.state.collect()}
    b = {r["id"]: r["value"] for r in wtd.state.collect()}
    assert all(abs(a[i] - b[i]) < 1e-12 for i in a)
    skew = base.withColumn(
        "weight", FF.when((FF.col("src") == 0) & (FF.col("dst") == 2), 9.0).otherwise(1.0)
    )
    sk = {r["id"]: r["value"] for r in pagerank(spark, skew, tol=1e-10, weighted=True).state.collect()}
    assert sk[2] > b[2]  # vertex 2 now receives 0.9 of vertex 0's rank


# ------------------------------------------------------- incremental CC

def test_incremental_cc_matches_full_recompute(spark):
    from pregel_golang_implementation_spark.operators.connected_components import (
        connected_components,
        incremental_connected_components,
    )

    old_edges = spark.createDataFrame(
        [(0, 1, 1.0), (1, 2, 1.0), (10, 11, 1.0), (20, 21, 1.0)],
        "src long, dst long, weight double",
    )
    prior = connected_components(spark, old_edges).state.select("id", "value")
    # a new batch bridges components {10,11} and {20,21}, adds vertex 30
    new_edges = old_edges.union(
        spark.createDataFrame(
            [(11, 20, 1.0), (30, 21, 1.0)], "src long, dst long, weight double"
        )
    )
    inc = incremental_connected_components(spark, new_edges, prior)
    full = connected_components(spark, new_edges)
    a = {r["id"]: r["value"] for r in inc.state.collect()}
    b = {r["id"]: r["value"] for r in full.state.collect()}
    assert a == b
    assert a[30] == 10.0  # new vertex joined the merged component
    # seeded run must not need more supersteps than the full recompute
    assert inc.supersteps <= full.supersteps
