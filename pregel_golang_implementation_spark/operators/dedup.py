"""Deduplication operators for large-scale training-data pipelines.

Not present in the reference (it is a graph engine only) — these are the
first-class data-pipeline components the engine owes at 100 TB scale:
exact dedup, MinHash+LSH near-dup, SimHash, n-gram Jaccard.

Design for scale:
  - everything is built-in JVM expressions (md5/xxhash64, explode,
    groupBy) — no Python on the hot path;
  - MinHash uses the "min of md5(seed || shingle)" family: k independent
    permutations approximated by k seeded hashes; string-min is
    deterministic and reproducible in any engine (the DuckDB oracle runs
    the same expressions);
  - a faster xxhash64 variant exists for production scale (hash_fn
    parameter) — same algorithm, cheaper hash, not oracle-mirrorable;
  - LSH banding turns O(n²) near-dup search into per-band hash joins —
    the band groupBy is the only shuffle that matters and it is keyed by
    (band, band_key), which is uniformly distributed by construction.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


# ------------------------------------------------------------ exact dedup

def exact_duplicates(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Hash-groupBy exact dedup: (content_hash, n_docs, canonical_id).
    canonical = smallest id in the group; groups of 1 included (filter
    n_docs > 1 for the duplicate report)."""
    return (
        docs.select(F.col(id_col).alias("doc_id"), F.md5(F.col(text_col)).alias("content_hash"))
        .groupBy("content_hash")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("canonical_id"))
    )


# --------------------------------------------------------------- shingles

def _tokens(text_col: str) -> Column:
    return F.split(F.trim(F.lower(F.col(text_col))), r"\s+")


def _shingle_rows(docs: DataFrame, n: int, text_col: str, id_col: str) -> DataFrame:
    """(doc_id, shingle) — word n-grams per document WITHOUT the distinct:
    multiset view, zero shuffles.  Consumers whose aggregate is
    multiset-invariant (MinHash's per-seed ``min``) use this directly so
    the only shuffle they pay is their own tiny per-doc aggregate —
    shuffling distinct shingle STRINGS first moves orders of magnitude
    more bytes for an identical result.  Set-semantics consumers
    (Jaccard counts) go through ``word_shingles``."""
    toked = docs.select(F.col(id_col).alias("doc_id"), _tokens(text_col).alias("_toks"))
    t = F.col("_toks")
    shingle_arr = F.when(
        F.size(t) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(t) - n),
            lambda i: F.concat_ws(" ", *[F.element_at(t, (i + j + 1).cast("int")) for j in range(n)]),
        ),
    ).otherwise(F.array(F.concat_ws(" ", t)))
    return toked.select("doc_id", F.explode(shingle_arr).alias("shingle"))


def word_shingles(docs: DataFrame, n: int = 3, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(doc_id, shingle) — distinct word n-grams per document.  Pure
    higher-order functions (transform over an index sequence) — codegen,
    no UDF.

    The token array is materialized in its OWN projection before the
    shingle expression consumes it: inlined, the `split()` re-evaluates
    inside every `element_at` of the lambda (n+1 regex splits of the full
    text per shingle) — measured 8.8× slower.  CollapseProject keeps the
    two projections apart because the alias is referenced many times by a
    non-cheap expression."""
    return _shingle_rows(docs, n, text_col, id_col).distinct()


# ---------------------------------------------------------------- minhash

def _seed_hash(hash_fn: str):
    """seed -> Column: the seeded shingle hash family shared by the
    signature and fused-band paths (identical expressions, so the fused
    pipeline is value-identical to signatures → bands)."""
    if hash_fn == "md5":
        def h(s: int):
            return F.md5(F.concat(F.lit(f"{s}|"), F.col("shingle")))
    elif hash_fn == "xxhash":
        def h(s: int):
            # int32 seed — the type feeds the hash, keep it stable
            return F.xxhash64("shingle", F.lit(s).cast("int")).cast("string")
    else:
        raise ValueError(f"unknown hash_fn {hash_fn!r}")
    return h


def minhash_signatures(
    shingles: DataFrame, num_hashes: int = 16, hash_fn: str = "md5"
) -> DataFrame:
    """(doc_id, seed, minhash) — k seeded min-hashes per document.

    hash_fn='md5'    : minhash = min(md5(seed || '|' || shingle)) as hex
                       string — oracle-mirrorable (DuckDB md5 identical).
    hash_fn='xxhash' : minhash = min(xxhash64(shingle, seed)) as long —
                       ~10× cheaper, the production path.

    Shape: the k hashes are k MIN-aggregate COLUMNS over one pass of the
    shingle rows (k codegen expressions per row), not a k-way seed explode
    — an explode would push k× the rows through the aggregate hash table
    and shuffle them. The wide row then unpivots to (doc_id, seed,
    minhash) with a tiny per-doc explode. Values are identical to the
    exploded formulation (same hash family, same min).
    """
    h = _seed_hash(hash_fn)
    wide = shingles.groupBy("doc_id").agg(
        *[F.min(h(s)).alias(f"_h{s}") for s in range(num_hashes)]
    )
    kv = F.explode(
        F.array(
            *[
                F.struct(F.lit(s).cast("int").alias("seed"), F.col(f"_h{s}").alias("minhash"))
                for s in range(num_hashes)
            ]
        )
    )
    return wide.select("doc_id", kv.alias("kv")).select(
        "doc_id", F.col("kv.seed").alias("seed"), F.col("kv.minhash").alias("minhash")
    )


def lsh_bands(signatures: DataFrame, rows_per_band: int = 4) -> DataFrame:
    """(doc_id, band, band_key) — hash each band of the signature.
    band_key = md5 of the ordered minhashes in the band (order by seed →
    deterministic)."""
    banded = signatures.withColumn("band", (F.col("seed") / rows_per_band).cast("int"))
    return banded.groupBy("doc_id", "band").agg(
        F.md5(
            F.array_join(
                F.array_sort(
                    F.collect_list(
                        F.concat_ws(":", F.lpad(F.col("seed").cast("string"), 4, "0"), F.col("minhash"))
                    )
                ),
                ",",
            )
        ).alias("band_key")
    )


def minhash_bands(
    docs: DataFrame,
    shingle_n: int = 3,
    num_hashes: int = 16,
    rows_per_band: int = 4,
    hash_fn: str = "md5",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, band, band_key) — value-identical to
    ``lsh_bands(minhash_signatures(word_shingles(docs)))`` with TWO of
    that pipeline's three shuffles fused away (r6, guide §2.3/2.4):

      - the shingle ``distinct`` is skipped: ``min`` is multiset-
        invariant, so hashing duplicate shingles changes nothing — and
        the distinct shuffled every shingle STRING, by far the heaviest
        exchange of the pipeline;
      - the signature unpivot → per-(doc, band) re-aggregation is
        replaced by computing each band key directly from the wide
        min-hash row: the band elements are the seed-prefixed minhashes
        ("0007:<minhash>"), whose ``array_sort`` order is seed order by
        construction (fixed-width zero-padded prefixes), so the sorted
        collect_list md5 equals an ordered concat of the wide columns.

    The only shuffle left is the per-doc aggregate of map-side partial
    minima — at corpus scale that exchange carries one slim wide row per
    (map partition, doc) instead of every shingle."""
    if num_hashes % rows_per_band != 0:
        raise ValueError("num_hashes must split evenly into rows_per_band bands")
    h = _seed_hash(hash_fn)
    sh = _shingle_rows(docs, shingle_n, text_col, id_col)
    wide = sh.groupBy("doc_id").agg(
        *[F.min(h(s)).alias(f"_h{s}") for s in range(num_hashes)]
    )
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.md5(
                    F.concat_ws(
                        ",",
                        *[
                            F.concat_ws(":", F.lit(f"{s:04d}"), F.col(f"_h{s}"))
                            for s in range(
                                b * rows_per_band, (b + 1) * rows_per_band
                            )
                        ],
                    )
                ).alias("band_key"),
            )
            for b in range(num_hashes // rows_per_band)
        ]
    )
    return wide.select("doc_id", F.explode(bands).alias("bb")).select(
        "doc_id", F.col("bb.band").alias("band"), F.col("bb.band_key").alias("band_key")
    )


def oversized_buckets(bands: DataFrame, max_bucket_size: int) -> DataFrame:
    """(band, band_key, n_docs) — buckets ABOVE the occupancy cap, i.e.
    what ``lsh_candidate_pairs(max_bucket_size=...)`` drops.  Report this
    alongside the pairs — capped coverage must never be silent."""
    return (
        bands.groupBy("band", "band_key")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") > max_bucket_size)
    )


def lsh_candidate_pairs(bands: DataFrame, max_bucket_size: int | None = None) -> DataFrame:
    """(doc_a, doc_b) distinct — documents sharing ≥1 band bucket.
    Self-join keyed by (band, band_key); doc_a < doc_b.

    ``max_bucket_size`` caps bucket occupancy: a real crawl has mega
    near-dup clusters whose k docs share every band, and an uncapped
    in-bucket self-join emits k²/2 rows from ONE reducer.  Buckets above
    the cap are skipped (use ``oversized_buckets`` for the dropped set;
    collapse exact duplicates FIRST — ``minhash_dedup(collapse_exact=
    True)`` — so caps only ever bite genuinely distinct text)."""
    # the self-join consumes `bands` twice (plus the occupancy filter when
    # capped) and exchange reuse does not fire across the copies (r6 plan
    # audit) — pin the frame so its upstream aggregation runs once
    bands = bands.localCheckpoint(eager=False)
    if max_bucket_size is not None:
        ok = (
            bands.groupBy("band", "band_key")
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") <= max_bucket_size)
            .select("band", "band_key")
        )
        bands = bands.join(ok, ["band", "band_key"], "left_semi").localCheckpoint(
            eager=False
        )
    l = bands.select(F.col("band"), F.col("band_key"), F.col("doc_id").alias("doc_a"))
    r = bands.select(F.col("band"), F.col("band_key"), F.col("doc_id").alias("doc_b"))
    return (
        l.join(r, ["band", "band_key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def minhash_dedup(
    docs: DataFrame,
    shingle_n: int = 3,
    num_hashes: int = 16,
    rows_per_band: int = 4,
    hash_fn: str = "md5",
    collapse_exact: bool = False,
    max_bucket_size: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline → candidate pairs (doc_a, doc_b).

    ``collapse_exact=True`` first collapses byte-identical documents to one
    representative per content hash (hash-groupBy, one shuffle) and runs
    MinHash over representatives only — a crawl's exact-dup clusters never
    reach the banding join, which is what makes ``max_bucket_size`` a
    safety valve rather than a coverage loss.  Exact-dup membership is
    recovered via ``exact_duplicates``/``near_dup_clusters``."""
    if collapse_exact:
        docs = exact_representatives(docs, text_col=text_col, id_col=id_col)
    # fused banding (r6): identical band keys to signatures → lsh_bands,
    # with the shingle-distinct and unpivot/regroup shuffles removed
    bands = minhash_bands(
        docs,
        shingle_n=shingle_n,
        num_hashes=num_hashes,
        rows_per_band=rows_per_band,
        hash_fn=hash_fn,
        text_col=text_col,
        id_col=id_col,
    )
    return lsh_candidate_pairs(bands, max_bucket_size=max_bucket_size)


def exact_representatives(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """One representative document (the min id) per distinct content hash.
    Output columns: (doc_id, text) aliased to the input names."""
    reps = (
        docs.select(F.col(id_col).alias("doc_id"), F.md5(F.col(text_col)).alias("_h"))
        .groupBy("_h")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    return docs.join(
        reps.withColumnRenamed("doc_id", id_col), id_col, "left_semi"
    )


# --------------------------------------------------------- n-gram jaccard

def ngram_jaccard(
    docs: DataFrame,
    pairs: DataFrame | None = None,
    shingle_n: int = 3,
    threshold: float = 0.0,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """(doc_a, doc_b, jaccard) — exact Jaccard over word n-gram sets.

    Relational formulation (explode → join → count) so the semantics are
    oracle-identical in any SQL engine; when ``pairs`` (candidate pairs
    from LSH) is given, only those pairs are scored — and the pair
    predicate is pushed BELOW the shingle self-join/aggregate, so the
    quadratic co-occurrence blow-up never materializes.  The 100 TB path
    is always LSH-candidates-then-verify, never all-pairs.

    Pass ``shingles`` (a (doc_id, shingle) frame, e.g. the one MinHash
    already computed, ideally persisted) to skip re-shingling — the
    candidates-then-verify pipeline otherwise tokenizes the corpus twice.
    """
    sh = shingles if shingles is not None else word_shingles(docs, n=shingle_n)
    if pairs is not None:
        # The candidate-pair predicate must sit BELOW the shingle self-join
        # and the (doc_a, doc_b) aggregate — joining pairs after the
        # aggregate would first materialize ALL co-occurring doc pairs (a
        # stop-shingle shared by 1M docs → 5·10^11 join rows).  Shape:
        # semi-join each shingle side to its candidate doc set, drive the
        # join from pairs (pairs ⋈ a on doc_a, then ⋈ b on (doc_b,
        # shingle)) so only candidate pairs' shingles ever co-occur.
        pairs = pairs.select("doc_a", "doc_b").filter(
            F.col("doc_a") < F.col("doc_b")
        ).distinct().localCheckpoint(eager=False)
        # pinned: the pair list is consumed FIVE times below (cand_docs
        # union ×2, both semi-join sides, the inter driver) and each copy
        # would otherwise re-run the whole candidate pipeline (r6)
        cand_docs = (
            pairs.select(F.col("doc_a").alias("doc_id"))
            .union(pairs.select(F.col("doc_b").alias("doc_id")))
            .distinct()
        )
        a = sh.join(
            pairs.select(F.col("doc_a").alias("doc_id")).distinct(), "doc_id", "left_semi"
        ).select(F.col("doc_id").alias("doc_a"), "shingle")
        b = sh.join(
            pairs.select(F.col("doc_b").alias("doc_id")).distinct(), "doc_id", "left_semi"
        ).select(F.col("doc_id").alias("doc_b"), "shingle")
        inter = (
            pairs.join(a, "doc_a")
            .join(b, ["doc_b", "shingle"])
            .groupBy("doc_a", "doc_b")
            .agg(F.count(F.lit(1)).alias("n_inter"))
        )
        # sizes, too, only for candidate docs — without the semi-join the
        # n_sh aggregate would tokenize and shuffle the ENTIRE corpus just
        # to size docs the inner join then discards
        sh = sh.join(cand_docs, "doc_id", "left_semi")
    else:
        a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
        b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
        inter = (
            a.join(b, "shingle")
            .filter(F.col("doc_a") < F.col("doc_b"))
            .groupBy("doc_a", "doc_b")
            .agg(F.count(F.lit(1)).alias("n_inter"))
        )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    out = (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))).alias(
                "jaccard"
            ),
        )
    )
    return out.filter(F.col("jaccard") >= threshold) if threshold > 0 else out


def ngram_containment(
    corpus: DataFrame,
    benchmarks: DataFrame,
    n: int = 13,
    threshold: float = 0.0,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, benchmark_id, containment) — benchmark decontamination.

    containment = |corpus-doc n-grams ∩ benchmark-doc n-grams| /
    |benchmark-doc n-grams| — the ASYMMETRIC overlap every pretraining
    pipeline checks before training: a 10-sentence eval question fully
    quoted inside a 10-page document has Jaccard ≈ 0 but containment = 1,
    which is exactly the leak.  Distinct word n-grams on both sides
    (``word_shingles``); pairs with zero overlap produce no row.

    Scale shape: the benchmark suite is tiny next to the corpus, so its
    shingle set is BROADCAST and the shingle equi-join acts as a map-side
    filter of corpus shingles down to benchmark n-grams before the
    (doc, benchmark) aggregate — the corpus is never shuffled on shingle.
    The denominator sizes aggregate runs over benchmark shingles only.
    ``benchmarks`` carries the same (id_col, text_col) shape as the
    corpus; its ids are reported as ``benchmark_id``.
    """
    corpus_sh = word_shingles(corpus, n=n, text_col=text_col, id_col=id_col)
    bench_sh = word_shingles(benchmarks, n=n, text_col=text_col, id_col=id_col).select(
        F.col("doc_id").alias("benchmark_id"), "shingle"
    )
    sizes = bench_sh.groupBy("benchmark_id").agg(F.count(F.lit(1)).alias("n_bench"))
    inter = (
        corpus_sh.join(F.broadcast(bench_sh), "shingle")
        .groupBy("doc_id", "benchmark_id")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    out = inter.join(F.broadcast(sizes), "benchmark_id").select(
        "doc_id",
        "benchmark_id",
        (F.col("n_inter") / F.col("n_bench")).alias("containment"),
    )
    return out.filter(F.col("containment") >= threshold) if threshold > 0 else out


# -------------------------------------------------- end-to-end resolution

def near_dup_clusters(
    docs: DataFrame,
    shingle_n: int = 3,
    num_hashes: int = 16,
    rows_per_band: int = 4,
    threshold: float = 0.5,
    max_supersteps: int = 6,
    max_bucket_size: int | None = 10_000,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The composition a pipeline user actually runs: candidate pairs →
    Jaccard verify → connected components over the duplicate graph →
    canonical document per cluster.

    Output: (doc_id, cluster_id, is_canonical) — cluster_id is the min
    doc id in the duplicate cluster; keep ``is_canonical`` rows for the
    deduped corpus (``dedup_corpus``).

    SAFE BY DEFAULT at scale: ``max_bucket_size`` defaults to 10_000 —
    an uncapped LSH bucket with k members emits k²/2 pairs from one
    reducer, and a real crawl has mega near-dup clusters.  Exact
    duplicates are collapsed before banding (stage 1), so the cap only
    ever bites clusters of genuinely distinct text.  When the cap drops
    anything, the dropped set is NEVER silent: a WARNING log reports the
    bucket/doc counts (``oversized_buckets`` on the same band frame
    returns the full set).  Pass ``max_bucket_size=None`` to lift the cap
    (exhaustive small-corpus runs / oracle comparisons).

    Stages (each individually scale-safe):
      1. collapse exact dups (hash-groupBy; min id is the representative)
         so mega exact-dup clusters never reach the banding join;
      2. MinHash-LSH candidate pairs over representatives (bucketed,
         optionally capped);
      3. exact n-gram Jaccard verify at ``threshold``, with the pair
         predicate below the shingle join;
      4. hash-min label spreading over (exact edges ∪ verified pairs) via
         the BSP runner — ``max_supersteps`` bounds the cluster-graph
         diameter walked; near-dup clusters converge in a few steps
         (a fixed bound also keeps the operator oracle-expressible).
    """
    d = docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))
    exact = exact_duplicates(d)  # (content_hash, n_docs, canonical_id)
    with_hash = d.select("doc_id", F.md5(F.col("text")).alias("content_hash"))
    exact_edges = (
        with_hash.join(exact.select("content_hash", "canonical_id"), "content_hash")
        .filter(F.col("doc_id") != F.col("canonical_id"))
        .select(F.col("canonical_id").alias("src"), F.col("doc_id").alias("dst"))
    )
    reps = exact_representatives(d)
    # one shared LAZY shingle plan for candidates (MinHash) and verify
    # (exact Jaccard). Deliberately NOT persisted: the verify side
    # semi-joins shingles to the candidate doc set, and Catalyst pushes
    # that predicate INTO the shingling, so verification re-tokenizes only
    # candidate docs — far cheaper than materializing corpus-wide shingles
    # (which at 100 TB would mean caching every token of the corpus).
    # Measured: the persist variant was ~30% slower even at sf0.1.
    sh = word_shingles(reps, n=shingle_n)
    # fused banding (r6): same band keys as signatures → lsh_bands with
    # two fewer shuffles; `sh` stays the verify side's set-semantics view
    bands = minhash_bands(reps, shingle_n=shingle_n, num_hashes=num_hashes,
                          rows_per_band=rows_per_band)
    bands_cached = None
    if max_bucket_size is not None:
        # the occupancy probe below is an EAGER action over bands, and the
        # pair join consumes bands again — without a cache the dominant
        # shingle→minhash→bands lineage runs twice.  The bands frame is
        # tiny relative to shingles (num_bands rows/doc, hashes only), so
        # persist it across probe + pair join; released after the cluster
        # runner has materialized the duplicate graph.  (This is NOT the
        # shingle persist the docstring above rejects — shingles stay lazy,
        # so verify still re-tokenizes candidate docs only.)
        bands_cached = bands = bands.persist()
    try:
        return _near_dup_clusters_body(
            d, bands, exact_edges, reps, sh, shingle_n, threshold,
            max_supersteps, max_bucket_size, docs.sparkSession,
        )
    finally:
        # released whether the probe / pair join / runner succeeded or
        # raised — a failed resolve must not leak cached blocks for the
        # session lifetime (same guard PregelRunner.run has for edges)
        if bands_cached is not None:
            bands_cached.unpersist()


def _near_dup_clusters_body(
    d: DataFrame,
    bands: DataFrame,
    exact_edges: DataFrame,
    reps: DataFrame,
    sh: DataFrame,
    shingle_n: int,
    threshold: float,
    max_supersteps: int,
    max_bucket_size: int | None,
    spark,
) -> DataFrame:
    from pregel_golang_implementation_spark.operators.connected_components import (
        cc_spec,
        symmetrize,
    )
    from pregel_golang_implementation_spark.plans.runner import PregelRunner

    if max_bucket_size is not None:
        # capped coverage must never be silent (module contract) — and on
        # a HEALTHY corpus it must also be free.  The occupancy report
        # runs as one eager scalar aggregate (≈ one bands pass); if NO
        # bucket exceeds the cap — the common case once exact dups are
        # collapsed — the pair join keeps the exact uncapped plan (the
        # cap semi-join would change pairs' plan identity for all four of
        # its downstream consumptions and measured +8s on a 5k-doc
        # resolve even with the filter side cached/broadcast).  Only a
        # corpus that actually HAS oversized buckets pays the semi-join,
        # where it is precisely what prevents the k²/2 reducer blow-up.
        import logging

        row = (
            oversized_buckets(bands, max_bucket_size)
            .agg(
                F.count(F.lit(1)).alias("n_buckets"),
                F.coalesce(F.sum("n_docs"), F.lit(0)).alias("n_docs"),
            )
            .first()
        )
        if row["n_buckets"]:
            logging.getLogger(__name__).warning(
                "near_dup_clusters: %d LSH bucket(s) over max_bucket_size=%d "
                "(%d doc slots) were skipped — near-dups inside them are NOT "
                "paired; inspect with oversized_buckets(), or raise/lift the cap",
                row["n_buckets"], max_bucket_size, row["n_docs"],
            )
        else:
            max_bucket_size = None  # nothing to cap: keep the uncapped plan
    pairs = lsh_candidate_pairs(bands, max_bucket_size=max_bucket_size)
    verified = ngram_jaccard(
        reps, pairs=pairs, shingle_n=shingle_n, threshold=threshold, shingles=sh
    )
    near_edges = verified.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    dup_graph = symmetrize(exact_edges.unionByName(near_edges))
    vertices = d.select(F.col("doc_id").alias("id"))
    runner = PregelRunner(spark, cc_spec(max_supersteps=max_supersteps))
    # runner.run is eager (the BSP barrier actions) and localCheckpoints
    # the result state, so by the time the caller's finally unpersists the
    # bands cache nothing the caller holds still references it
    res = runner.run(dup_graph, vertices=vertices)
    return res.state.select(
        F.col("id").alias("doc_id"),
        F.col("value").cast("long").alias("cluster_id"),
        (F.col("id") == F.col("value").cast("long")).alias("is_canonical"),
    )


def dedup_corpus(docs: DataFrame, clusters: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deduped corpus view: keep only each cluster's canonical document."""
    keep = clusters.filter("is_canonical").select(F.col("doc_id").alias(id_col))
    return docs.join(keep, id_col, "left_semi")


# ----------------------------------------------------------------- simhash

def simhash(docs: DataFrame, bits: int = 16, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(doc_id, simhash) — per-bit majority vote over token hashes.

    Bit j of token t := 1 if the j-th hex digit of md5(t) ≥ '8' else 0
    (each hex digit's high bit is an independent fair coin).  The document
    bit is the sign of Σ(±1) over tokens.  All string/CASE expressions —
    mirrorable in the DuckDB oracle.  bits ≤ 32 (md5 has 32 hex digits).

    Shape: the per-bit ±1 sums are `bits` SUM-aggregate columns over ONE
    pass of the token rows (the bit explode would shuffle bits× the rows
    through the aggregate for identical integer sums)."""
    assert bits <= 32
    toks = docs.select(
        F.col(id_col).alias("doc_id"), F.explode(_tokens(text_col)).alias("tok")
    ).select("doc_id", F.md5(F.col("tok")).alias("h"))
    vote = lambda j: F.when(  # noqa: E731
        F.substring(F.col("h"), j + 1, 1).isin(*list("89abcdef")), 1
    ).otherwise(-1)
    bitsums = toks.groupBy("doc_id").agg(
        *[F.sum(vote(j)).alias(f"_s{j}") for j in range(bits)]
    )
    return bitsums.select(
        "doc_id",
        sum(
            F.when(F.col(f"_s{j}") >= 0, F.lit(float(2**j))).otherwise(F.lit(0.0))
            for j in range(bits)
        ).cast("long").alias("simhash"),
    )


def simhash_near_dups(
    docs: DataFrame,
    bits: int = 16,
    max_hamming: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """(doc_a, doc_b, hamming) — document pairs whose simhash Hamming
    distance is ≤ ``max_hamming``: the third dedup family (alongside
    MinHash-Jaccard and embedding-cosine), catching small in-place edits
    that barely move the per-bit majority vote.

    Banding (pigeonhole): the simhash splits into ``max_hamming + 1``
    equal bit-bands; any pair within ``max_hamming`` differing bits
    agrees on at least one whole band, so the band-equality self-join
    (the same candidates-then-verify shape as LSH) has **perfect
    recall**.  Verification is one ``bit_count(a XOR b)`` per candidate
    (JVM intrinsic).  ``bits`` must divide evenly into the bands.

    HOW MUCH the banding prunes depends on band WIDTH ``w = bits /
    (max_hamming + 1)``: a band key has only 2^w values, so expected
    candidate volume is ~n²/2^w per band.  The default (bits=16,
    max_hamming=3 → 4-bit bands, 64 keys) is sized for small
    oracle-checkable corpora and degenerates toward n² on large ones —
    results stay exact, but nothing is pruned.  **The scale path is a
    wider signature**: bits=32, max_hamming=3 → 8-bit bands (or a
    64-bit simhash with 16-bit bands) keeps per-band buckets at
    n/2^w members.

    Skew guard: a band value shared by k docs yields k²/2 candidates
    from one reducer.  ``max_bucket_size`` mirrors the LSH cap —
    buckets over it are EXCLUDED from pairing (recall for their pairs
    falls back to the other bands), and the dropped set is never
    silent: a WARNING reports bucket/doc-slot counts.  ``None``
    (default) is exhaustive — exact and safe only when band width
    matches the corpus size as above."""
    nbands = max_hamming + 1
    assert bits % nbands == 0, "bits must split evenly into max_hamming+1 bands"
    w = bits // nbands
    sig = simhash(docs, bits=bits, text_col=text_col, id_col=id_col)
    mask = (1 << w) - 1
    band_vals = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftrightunsigned(F.col("simhash"), b * w).bitwiseAND(F.lit(mask)).alias("val"),
            )
            for b in range(nbands)
        ]
    )
    banded = sig.select("doc_id", "simhash", F.explode(band_vals).alias("bv")).select(
        "doc_id", "simhash", F.col("bv.band").alias("band"), F.col("bv.val").alias("val")
    )
    if max_bucket_size is not None:
        # same contract as the LSH path: capped coverage is never silent.
        # One eager occupancy probe; on a healthy corpus (no oversized
        # bucket) the exhaustive plan is kept untouched.
        import logging

        # NOT persisted: this function returns a LAZY frame, so a persist
        # here could never be released (the leak ADVICE r4 flagged on the
        # LSH path); the probe re-runs the signature lineage once instead
        occ = (
            banded.groupBy("band", "val")
            .agg(F.count(F.lit(1)).alias("n_docs"))
            .filter(F.col("n_docs") > max_bucket_size)
        )
        row = occ.agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.coalesce(F.sum("n_docs"), F.lit(0)).alias("n_docs"),
        ).first()
        if row["n_buckets"]:
            logging.getLogger(__name__).warning(
                "simhash_near_dups: %d band bucket(s) over max_bucket_size=%d "
                "(%d doc slots) were skipped — pairs inside them are found "
                "only if they share another band; widen `bits` (smaller "
                "buckets) or raise/lift the cap",
                row["n_buckets"], max_bucket_size, row["n_docs"],
            )
            banded = banded.join(
                F.broadcast(occ.select("band", "val")), ["band", "val"], "left_anti"
            )
    l = banded.select("band", "val", F.col("doc_id").alias("doc_a"), F.col("simhash").alias("_ha"))
    r = banded.select("band", "val", F.col("doc_id").alias("doc_b"), F.col("simhash").alias("_hb"))
    return (
        l.join(r, ["band", "val"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            F.bit_count(F.col("_ha").bitwiseXOR(F.col("_hb"))).cast("long").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )
