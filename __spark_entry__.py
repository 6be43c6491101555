"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry runs an engine operator (SURVEY.md §2) over the
driver's parquet tables; ``oracle_sql()`` holds the DuckDB twin.  The
iterative graph queries (PageRank / CC / SSSP / LPA) run the REAL BSP
superstep runner for a fixed number of supersteps, and their oracles are
the same recurrence unrolled as chained SQL CTEs — supersteps are plain
join+group-by SQL (SURVEY.md §5.3).

Graph derivation (shared Spark/SQL): the bipartite order↔part graph from
lineitem — src=l_orderkey, dst=10_000_000+l_partkey,
weight=min(l_linenumber) — plus its symmetrized undirected form.

Floats are rounded identically on both sides (e.g. rank→6dp) so the
driver's order-insensitive value-hash is stable under FP-sum reordering;
integer-valued results are exact.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pregel_golang_implementation_spark.operators.connected_components import (
    cc_spec,
    symmetrize,
)
from pregel_golang_implementation_spark.operators.events import (
    event_window_stats,
    sessionize,
)
from pregel_golang_implementation_spark.operators.label_propagation import (
    lpa_spec,
    seeded_label_spread,
)
from pregel_golang_implementation_spark.operators.pagerank import (
    incremental_pagerank,
    pagerank_spec,
    prepare_pagerank_graph,
)
from pregel_golang_implementation_spark.operators.kcore import kcore_peel
from pregel_golang_implementation_spark.operators.ktruss import ktruss_peel
from pregel_golang_implementation_spark.operators.events import funnel, last_touch
from pregel_golang_implementation_spark.operators.graph_metrics import (
    degree_assortativity,
    partition_quality,
    powerlaw_alpha,
    square_count,
)
from pregel_golang_implementation_spark.operators.hits import hits
from pregel_golang_implementation_spark.operators.link_prediction import (
    adamic_adar_topk,
    common_neighbor_topk,
)
from pregel_golang_implementation_spark.operators.scc import scc_fwbw
from pregel_golang_implementation_spark.operators.bfs import (
    harmonic_centrality,
    msbfs_distances,
)
from pregel_golang_implementation_spark.operators.projection import (
    cooccurrence_topk,
)
from pregel_golang_implementation_spark.operators.packing import pack_sequences
from pregel_golang_implementation_spark.operators.betweenness import (
    betweenness_sampled,
)
from pregel_golang_implementation_spark.operators.sketches import hll_distinct
from pregel_golang_implementation_spark.operators.mis import mis_spec, mis_status
from pregel_golang_implementation_spark.operators.sampling import (
    hash_sample,
    mix_corpus,
    stratified_sample,
    weighted_sample_topk,
)
from pregel_golang_implementation_spark.operators.sssp import sssp_spec
from pregel_golang_implementation_spark.operators.triangles import _triangle_rows
from pregel_golang_implementation_spark.plans.runner import PregelRunner
from pregel_golang_implementation_spark.operators.coloring import greedy_coloring
from pregel_golang_implementation_spark.operators.temporal import earliest_arrival_spec
from pregel_golang_implementation_spark.operators.walks import random_walks
from pregel_golang_implementation_spark.sources.graphs import (
    edges_from_lineitem,
    parity_edges_from_lineitem,
    temporal_edges_from_lineitem,
)

PR_ITERS = 5
CC_ITERS = 6
SSSP_ITERS = 4
LPA_ITERS = 2
LPA4_ITERS = 4
KCORE_K = 5
KCORE_ROUNDS = 3
STRAT_FRACTIONS = {"src0": 0.8, "src1": 0.5, "src2": 0.25}
STRAT_DEFAULT = 0.1
FUNNEL_STEPS = ("view", "click", "purchase")
MIS_ITERS = 4
LP_K = 3
LP_MAX_MID_DEG = 40
HITS_ITERS = 3
COLOR_ROUNDS = 3
COLOR_INNER = 3
WALK_LEN = 3
TEMPORAL_ITERS = 4
SCC_INNER = 14
SCC_TRIM = 2
HARMONIC_PIVOTS = 4
HARMONIC_HOPS = 4
COPURCHASE_MAX_BASKET = 40
PACK_CAPACITY = 2048
BETWEEN_PIVOTS = 2
BETWEEN_HOPS = 4
WSAMPLE_K = 50
SPREAD_ROUNDS = 4
KTRUSS_K = 3
KTRUSS_ROUNDS = 3
PL_DMIN = 2
INC_PR_PRIOR_ITERS = 3
INC_PR_ITERS = 3
PQUAL_PARTS = 8


# --------------------------------------------------------------- helpers

def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _runner(spark: SparkSession, spec) -> PregelRunner:
    return PregelRunner(spark, spec)


def _sssp_source(spark: SparkSession, sf_dir: str) -> int:
    return (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .agg(F.min("l_orderkey"))
        .first()[0]
    )


# ---------------------------------------------------------- spark queries

def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = edges_from_lineitem(spark, sf_dir)
    pr_edges, vertices = prepare_pagerank_graph(edges)
    n = vertices.count()
    res = _runner(spark, pagerank_spec(n, damping=0.85, tol=1e-12)).run(
        pr_edges, vertices=vertices, max_supersteps=PR_ITERS
    )
    return res.state.select(
        "id", F.round(F.col("value"), 6).alias("rank")
    )


def q_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    und = symmetrize(edges_from_lineitem(spark, sf_dir))
    res = _runner(spark, cc_spec()).run(und, max_supersteps=CC_ITERS)
    return res.state.select("id", F.col("value").cast("long").alias("component"))


def q_component_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Component-size distribution — the aggregate a link-graph user
    reads first; composes the BSP result with a plain groupBy."""
    return (
        q_cc(spark, sf_dir)
        .groupBy("component")
        .agg(F.count(F.lit(1)).alias("n_vertices"))
    )


def q_degree_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Total-degree histogram over the directed edge table: (degree,
    n_vertices).  Two partial-aggregated shuffles, output is tiny."""
    return (
        q_degrees(spark, sf_dir)
        .select((F.col("out_deg") + F.col("in_deg")).alias("degree"))
        .groupBy("degree")
        .agg(F.count(F.lit(1)).alias("n_vertices"))
    )


def q_sssp(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = symmetrize_weighted(edges_from_lineitem(spark, sf_dir))
    src = _sssp_source(spark, sf_dir)
    res = _runner(spark, sssp_spec(source=src)).run(edges, max_supersteps=SSSP_ITERS)
    return res.state.filter(~F.isnan("value") & (F.col("value") < 1e17)).select(
        "id", F.col("value").alias("distance")
    )


def symmetrize_weighted(edges: DataFrame) -> DataFrame:
    """Undirected weighted view: both directions, min weight per pair."""
    back = edges.select(
        F.col("dst").alias("src"), F.col("src").alias("dst"), F.col("weight")
    )
    return (
        edges.union(back)
        .filter(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.min("weight").alias("weight"))
    )


INC_CC_PRIOR_ITERS = 6
INC_CC_ITERS = 4


def q_incremental_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental CC: label the even-part subgraph first, then maintain
    as the odd-part edges 'arrive' — seeded hash-min over the full graph
    (operators/connected_components.incremental_connected_components)."""
    from pregel_golang_implementation_spark.operators.connected_components import (
        incremental_connected_components,
    )

    edges = edges_from_lineitem(spark, sf_dir)
    subset = edges.filter(F.col("dst") % 2 == 0)
    prior = _runner(spark, cc_spec()).run(
        symmetrize(subset), max_supersteps=INC_CC_PRIOR_ITERS
    )
    res = incremental_connected_components(
        spark,
        edges,
        prior.state.select("id", "value"),
        max_supersteps=INC_CC_ITERS,
    )
    return res.state.select("id", F.col("value").cast("long").alias("component"))


def q_lpa(spark: SparkSession, sf_dir: str) -> DataFrame:
    und = symmetrize(edges_from_lineitem(spark, sf_dir))
    res = _runner(spark, lpa_spec()).run(und, max_supersteps=LPA_ITERS)
    return res.state.select("id", F.col("value").cast("long").alias("label"))


def q_lpa4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LPA deeper than the 2-step row: 4 synchronous supersteps, where
    the interesting dynamics (labels flowing back, oscillation pressure,
    repeated tie-breaks — SURVEY.md §7 hard part (b)) actually appear.
    Oracle: the same mode+smallest-label recurrence unrolled 4×."""
    und = symmetrize(edges_from_lineitem(spark, sf_dir))
    res = _runner(spark, lpa_spec()).run(und, max_supersteps=LPA4_ITERS)
    return res.state.select("id", F.col("value").cast("long").alias("label"))


def q_scatter_combine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One superstep's scatter+combine in isolation (operators O5+O6+O7):
    init value=id, msg=value+weight, min-combine."""
    edges = edges_from_lineitem(spark, sf_dir)
    msgs = edges.select(
        F.col("dst").alias("id"), (F.col("src") + F.col("weight")).alias("m")
    )
    return msgs.groupBy("id").agg(
        F.min("m").alias("msg"), F.count(F.lit(1)).cast("long").alias("n_msgs")
    )


def q_degrees(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = edges_from_lineitem(spark, sf_dir)
    out_d = edges.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).alias("out_deg")
    )
    in_d = edges.groupBy(F.col("dst").alias("id")).agg(
        F.count(F.lit(1)).alias("in_deg")
    )
    return (
        out_d.join(in_d, "id", "full_outer")
        .select(
            "id",
            F.coalesce("out_deg", F.lit(0)).cast("long").alias("out_deg"),
            F.coalesce("in_deg", F.lit(0)).cast("long").alias("in_deg"),
        )
    )


def q_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vote-to-halt surface (O9): vertices still ACTIVE after 2 CC
    supersteps — i.e. whose component label improved in superstep 2."""
    und = symmetrize(edges_from_lineitem(spark, sf_dir))
    res = _runner(spark, cc_spec()).run(und, max_supersteps=2)
    return res.state.filter("active").select("id")


def q_checkpoint_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O15/O19 end-to-end under the driver's hash gate: run CC for 2
    supersteps with a durable parquet+manifest checkpoint, then RESUME
    from the committed snapshot in a FRESH runner for 4 more — the final
    state must be indistinguishable from an uninterrupted 6-step run
    (oracle: the same unrolled 6-iteration CTE chain as ``cc_6iter``).
    Reference semantics being proven: restart from the last completed
    superstep's values, re-scatter free (Worker.go:641-654; checkpoint
    snapshot Master.go:789-808; commit marker Master.go:969-1012)."""
    import shutil
    import tempfile

    und = symmetrize(edges_from_lineitem(spark, sf_dir))
    ckpt = tempfile.mkdtemp(prefix="pregel_ckpt_contract_")
    try:
        first = PregelRunner(spark, cc_spec(), checkpoint_dir=ckpt, checkpoint_every=2)
        first.run(und, max_supersteps=2)
        resumed = PregelRunner(spark, cc_spec(), checkpoint_dir=ckpt)
        res = resumed.resume(und, max_supersteps=CC_ITERS - 2)
        # result state is eagerly localCheckpoint-ed by the runner, so it
        # no longer depends on the snapshot files deleted below
        return res.state.select(
            "id", F.col("value").cast("long").alias("component")
        )
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """part–part co-purchase graph: parts appearing in ≥2 common orders."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_partkey"
    ).distinct()
    a = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p1"))
    b = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p2"))
    return (
        a.join(b, "o")
        .filter(F.col("p1") < F.col("p2"))
        .groupBy("p1", "p2")
        .agg(F.count(F.lit(1)).alias("n_common"))
        .filter(F.col("n_common") >= 2)
        .select(F.col("p1").alias("src"), F.col("p2").alias("dst"))
    )


def q_triangles_per_vertex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vertex triangle participation (every triangle credits all
    three corners) — degree-ordered enumeration, orientation-independent
    counts; oracle enumerates under the plain src<dst orientation."""
    from pregel_golang_implementation_spark.operators.triangles import (
        triangles_per_vertex,
    )

    e = _copurchase_edges(spark, sf_dir)
    return triangles_per_vertex(spark, e).select(
        "id", F.col("triangles").cast("long").alias("triangles")
    )


def q_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    # degree_order=True (r4 default): identical count, but wedge
    # enumeration fans out from low-degree endpoints — the orientation
    # that survives a hub-skewed graph at 100×
    e = _copurchase_edges(spark, sf_dir)
    tri = _triangle_rows(e, degree_order=True)
    return tri.agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))


def q_ppr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank (teleport to the min-orderkey vertex),
    PR_ITERS supersteps."""
    from pregel_golang_implementation_spark.operators.pagerank import (
        personalized_pagerank_spec,
    )

    edges = edges_from_lineitem(spark, sf_dir)
    pr_edges, vertices = prepare_pagerank_graph(edges)
    src = _sssp_source(spark, sf_dir)
    vertices = vertices.withColumn(
        "p", F.when(F.col("id") == src, F.lit(1.0)).otherwise(F.lit(0.0))
    )
    res = _runner(spark, personalized_pagerank_spec(damping=0.85, tol=1e-12)).run(
        pr_edges, vertices=vertices, max_supersteps=PR_ITERS
    )
    return res.state.select("id", F.round(F.col("value"), 6).alias("rank"))


def q_pagerank_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank: rank flows proportionally to edge weight
    (min(l_linenumber) per edge) instead of uniformly over out-edges."""
    edges = edges_from_lineitem(spark, sf_dir)
    pr_edges, vertices = prepare_pagerank_graph(edges, weighted=True)
    n = vertices.count()
    res = _runner(spark, pagerank_spec(n, damping=0.85, tol=1e-12)).run(
        pr_edges, vertices=vertices, max_supersteps=PR_ITERS
    )
    return res.state.select("id", F.round(F.col("value"), 6).alias("rank"))


def q_pagerank_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k report surface (SURVEY.md §2.2 sorts/limits): highest-rank
    vertices after PR_ITERS supersteps, deterministic tie-break by id."""
    return (
        q_pagerank(spark, sf_dir)
        .orderBy(F.desc("rank"), F.asc("id"))
        .limit(10)
    )


SAMPLE_FRACTION = 0.25
MIX_MULTIPLIERS = {"src0": 2.25, "src1": 0.4, "src2": 0.0}


def q_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash sampling (reproducible train-set selection)."""
    return hash_sample(_docs(spark, sf_dir), SAMPLE_FRACTION).select(
        "doc_id", "lang", "source"
    )


def q_corpus_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain reweighting: per-source replicate/downsample multipliers."""
    out = mix_corpus(_docs(spark, sf_dir), MIX_MULTIPLIERS, on_col="source")
    return out.select(
        "doc_id", "source", F.col("copy_no").cast("long").alias("copy_no")
    )


def q_event_window_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch tumbling-window event stats + JSON-prop extraction."""
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    return event_window_stats(events, window="1 hour")


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity boundary)."""
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    return sessionize(events, gap_minutes=30).select(
        "user_id",
        F.col("session_no").cast("long").alias("session_no"),
        "n_events",
        "start_ts",
        "end_ts",
        "total_value",
    )


def q_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core peeling over the undirected order↔part graph: vertices
    still alive after KCORE_ROUNDS rounds of remove-degree-<-k, with the
    induced degree that justified survival (operators/kcore.py — the
    relational form of the classic Pregel peel, Vertex.go:68-88 shape)."""
    und = symmetrize(edges_from_lineitem(spark, sf_dir))
    return kcore_peel(und, k=KCORE_K, rounds=KCORE_ROUNDS)


# --------------------------------------------------------------- contract

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: PageRank to full 1e-6 convergence on the sf0.001 graph."""
    sf_dir = "/root/testdata/sf0.001"
    edges = edges_from_lineitem(spark, sf_dir)
    pr_edges, vertices = prepare_pagerank_graph(edges)
    n = vertices.count()
    res = PregelRunner(spark, pagerank_spec(n, tol=1e-6)).run(
        pr_edges, vertices=vertices
    )
    return res.state.select("id", F.col("value").alias("rank")).orderBy(
        F.desc("rank"), F.asc("id")
    )


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source hash-sample quotas (domain-weighted corpus curation)."""
    return stratified_sample(
        _docs(spark, sf_dir), STRAT_FRACTIONS, default_fraction=STRAT_DEFAULT
    ).select("doc_id", "source")


def q_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered view→click→purchase funnel per user (strictly-after
    sequencing in integer microseconds; -1 = step not reached)."""
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    return funnel(events, steps=FUNNEL_STEPS)


def q_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-in degree assortativity of the directed graph — exact BIGINT
    sufficient statistics, so the correlation is bit-identical across
    engines."""
    return degree_assortativity(edges_from_lineitem(spark, sf_dir))


def q_mis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Luby maximal-independent-set after 4 synchronous rounds — the
    fourth distinct vertex program on the unchanged runner (md5
    priorities, min-combine data plane)."""
    und = symmetrize(edges_from_lineitem(spark, sf_dir))
    res = _runner(spark, mis_spec()).run(und, max_supersteps=MIS_ITERS)
    return mis_status(res.state)


def q_link_predict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-neighbors link prediction: per-vertex top-3 non-adjacent
    candidates by shared-neighbor count, hub middles stop-word-cut at
    degree 40 (never silently — see operators/link_prediction.py)."""
    und = symmetrize(edges_from_lineitem(spark, sf_dir))
    return common_neighbor_topk(und, k=LP_K, max_middle_degree=LP_MAX_MID_DEG)


def q_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of attribution: most recent view strictly before each purchase
    (running conditional window max — the as-of-join shape without the
    quadratic inequality join)."""
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    return last_touch(events, target="purchase", touch="view")


def q_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs & authorities, 3 L1-normalized rounds on the directed
    graph (operators/hits.py); oracle = the recurrence unrolled."""
    return hits(edges_from_lineitem(spark, sf_dir), iterations=HITS_ITERS, round_to=6)


def q_coloring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy coloring by iterated Luby MIS — each outer round is one
    Pregel job on the residual graph (Vertex.go:68-88 composition);
    vertices still uncolored after COLOR_ROUNDS surface as -1."""
    und = symmetrize(edges_from_lineitem(spark, sf_dir))
    return greedy_coloring(
        spark,
        und,
        colors=COLOR_ROUNDS,
        inner_rounds=COLOR_INNER,
        make_runner=lambda spec: _runner(spark, spec),
    )


def q_temporal_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Earliest-arrival temporal reachability from the min orderkey over
    order↔part contact edges timed by o_orderdate — the fifth distinct
    vertex program on the unchanged runner (operators/temporal.py)."""
    tedges = temporal_edges_from_lineitem(spark, sf_dir)
    src = _sssp_source(spark, sf_dir)
    res = _runner(spark, earliest_arrival_spec(source=src)).run(
        tedges, max_supersteps=TEMPORAL_ITERS
    )
    return res.state.filter(~F.isnan("value") & (F.col("value") < 1e17)).select(
        "id", F.col("value").alias("arrival")
    )


def q_random_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic md5-transition walks of length 3 from every source
    vertex — the DeepWalk-style sequence sampler (operators/walks.py)."""
    return random_walks(edges_from_lineitem(spark, sf_dir), length=WALK_LEN)


def q_scc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCC of the parity-directed (cyclic) lineitem graph via trim +
    FW/BW min-label peeling — both label passes are the engine's own
    cc_spec BSP run over directed edges (operators/scc.py).  Parameters
    verified convergent at every shipped SF (trim depth 1, f/b spread
    ≤ 11 supersteps, one peel round); strict=True would raise rather
    than return a partial labeling."""
    return scc_fwbw(
        spark,
        parity_edges_from_lineitem(spark, sf_dir),
        inner_iters=SCC_INNER,
        trim_rounds=SCC_TRIM,
        outer_rounds=1,
        strict=True,
    )


def q_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic–Adar link prediction: per-vertex top-3 by Σ 1/ln(deg) over
    shared neighbors, same wedge cap as link_predict; scores ranked and
    returned at 6dp for cross-engine stability."""
    und = symmetrize(edges_from_lineitem(spark, sf_dir))
    return adamic_adar_topk(und, k=LP_K, max_middle_degree=LP_MAX_MID_DEG)


def q_harmonic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampled harmonic centrality: Σ 1/d over the 4 smallest orderkey
    pivots within 4 hops, via one multi-source BFS (operators/bfs.py) —
    all pivots share each frontier expansion's edge scan."""
    und = symmetrize(edges_from_lineitem(spark, sf_dir))
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    pivots = [
        r[0]
        for r in li.select(F.col("l_orderkey").cast("long"))
        .distinct()
        .orderBy("l_orderkey")
        .limit(HARMONIC_PIVOTS)
        .collect()
    ]
    return harmonic_centrality(und, pivots, hops=HARMONIC_HOPS)


def q_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bipartite projection of the order↔part membership into a part
    co-purchase graph, per-part top-3 by shared orders; basket-size
    stop-word cut at 40 (operators/projection.py)."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    membership = li.select(
        F.col("l_partkey").cast("long").alias("entity"),
        F.col("l_orderkey").cast("long").alias("container"),
    ).distinct()
    return cooccurrence_topk(
        membership, k=LP_K, max_container_size=COPURCHASE_MAX_BASKET
    )


def q_partition_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edge-cut and balance of two vertex-placement strategies over the
    undirected graph — naive id-mod versus community-aligned (CC label
    mod P): the pre-launch numbers that decide per-superstep network
    cost at cluster scale (operators/graph_metrics.partition_quality)."""
    und = symmetrize(edges_from_lineitem(spark, sf_dir))
    comp = q_cc(spark, sf_dir)
    a = comp.select(
        F.lit("mod").alias("strategy"),
        "id",
        (F.col("id") % PQUAL_PARTS).alias("part"),
    ).unionByName(
        comp.select(
            F.lit("community").alias("strategy"),
            "id",
            (F.col("component") % PQUAL_PARTS).alias("part"),
        )
    )
    return partition_quality(und, a, PQUAL_PARTS)


def q_incremental_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank maintenance: PageRank the even-dst subgraph (3 steps from
    uniform), then warm-start 3 steps over the FULL graph seeded from
    those ranks (new vertices at 1/N) — the PageRank analogue of
    incremental_cc (operators/pagerank.incremental_pagerank)."""
    edges = edges_from_lineitem(spark, sf_dir)
    sub = edges.filter(F.col("dst") % 2 == 0)
    sub_edges, sub_vertices = prepare_pagerank_graph(sub)
    n_a = sub_vertices.count()
    prior = _runner(spark, pagerank_spec(n_a, damping=0.85, tol=1e-12)).run(
        sub_edges, vertices=sub_vertices, max_supersteps=INC_PR_PRIOR_ITERS
    )
    res = incremental_pagerank(
        spark,
        edges,
        prior.state.select("id", "value"),
        max_supersteps=INC_PR_ITERS,
    )
    return res.state.select("id", F.round(F.col("value"), 6).alias("rank"))


def q_powerlaw_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MLE power-law exponent of the degree distribution (is this graph
    web-shaped?) — operators/graph_metrics.powerlaw_alpha."""
    und = symmetrize(edges_from_lineitem(spark, sf_dir))
    return powerlaw_alpha(und, d_min=PL_DMIN)


def q_ktruss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-truss of the co-purchase graph: edges in ≥1 triangle after 3
    peel rounds — the edge-level cohesion filter a hub cannot fake
    (operators/ktruss.py)."""
    return ktruss_peel(
        _copurchase_edges(spark, sf_dir), k=KTRUSS_K, rounds=KTRUSS_ROUNDS
    ).select("src", "dst", F.col("support").cast("long").alias("support"))


def q_hop_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neighborhood-function sample: (dist, n_pairs, cum_frac) over the
    4-pivot multi-source BFS — the distance distribution whose 0.9
    quantile is the standard effective-diameter estimate (ANF/HyperANF
    family, here exact over the pivot sample).  cum_frac is exact
    integer division rounded at 6dp."""
    und = symmetrize(edges_from_lineitem(spark, sf_dir))
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    pivots = [
        r[0]
        for r in li.select(F.col("l_orderkey").cast("long"))
        .distinct()
        .orderBy("l_orderkey")
        .limit(HARMONIC_PIVOTS)
        .collect()
    ]
    d = msbfs_distances(und, pivots, hops=HARMONIC_HOPS)
    hist = d.groupBy("dist").agg(F.count(F.lit(1)).alias("n_pairs"))
    total = d.count()
    w = (
        hist.withColumn(
            "cum",
            F.sum("n_pairs").over(
                Window.orderBy("dist").rowsBetween(
                    Window.unboundedPreceding, Window.currentRow
                )
            ),
        )
        .select(
            F.col("dist").cast("long").alias("dist"),
            "n_pairs",
            F.round(F.col("cum").cast("double") / F.lit(float(total)), 6).alias(
                "cum_frac"
            ),
        )
    )
    return w


def q_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient on the co-purchase graph:
    2·triangles(v) / (deg(v)·(deg(v)−1)) for deg ≥ 2 — composes the
    degree-ordered triangle counts with the degree table; exact
    integers into one IEEE division, 6dp round."""
    from pregel_golang_implementation_spark.operators.triangles import (
        triangles_per_vertex,
    )

    e = _copurchase_edges(spark, sf_dir)
    deg = (
        e.select(F.col("src").alias("id"))
        .union(e.select(F.col("dst").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    tri = triangles_per_vertex(spark, e).select(
        "id", F.col("triangles").cast("long").alias("_t")
    )
    return (
        deg.filter(F.col("degree") >= 2)
        .join(tri, "id", "left")
        .select(
            "id",
            "degree",
            F.round(
                F.lit(2.0)
                * F.coalesce(F.col("_t"), F.lit(0)).cast("double")
                / (F.col("degree") * (F.col("degree") - 1)).cast("double"),
                6,
            ).alias("coeff"),
        )
    )


def q_label_spread(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-supervised label spreading over the order↔part graph:
    every 10th order is seeded with its customer's nation; 4 rounds of
    fixed-seed mode adoption expand the labels through the bipartite
    alternation (operators/label_propagation.seeded_label_spread)."""
    und = symmetrize(edges_from_lineitem(spark, sf_dir))
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    seeds = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .filter(F.col("o_orderkey") % 10 == 0)
        .select(
            F.col("o_orderkey").cast("long").alias("id"),
            F.col("c_nationkey").cast("long").alias("lbl"),
        )
    )
    return seeded_label_spread(und, seeds, rounds=SPREAD_ROUNDS)


def q_square_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-cycle (square) count — THE clustering motif on a bipartite
    graph, where triangles cannot exist; capped wedge middles reported
    in the result row (operators/graph_metrics.square_count)."""
    und = symmetrize(edges_from_lineitem(spark, sf_dir))
    return square_count(und, max_middle_degree=LP_MAX_MID_DEG)


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-weighted sample without replacement (Efraimidis–Spirakis
    exponential race, deterministic md5 draws): the 50 documents winning
    the -ln(u)/n_chars race — distributed TakeOrderedAndProject, no
    global sort (operators/sampling.py)."""
    return weighted_sample_topk(
        _docs(spark, sf_dir), k=WSAMPLE_K, weight_col="n_chars"
    )


def q_hll_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic HyperLogLog estimate of the corpus' distinct
    3-gram shingle count — one scan + one 256-key aggregate, NO distinct
    shuffle; identical registers and estimate in any engine
    (operators/sketches.py)."""
    return hll_distinct(_shingle_rows(_docs(spark, sf_dir), n=3), "shingle")


def q_betweenness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampled betweenness (Brandes from the 2 smallest orderkey pivots,
    4 hops): BFS-layer σ path counts forward, δ dependency accumulation
    backward — each phase one join + one keyed sum per layer, all pivots
    sharing every scan (operators/betweenness.py)."""
    und = symmetrize(edges_from_lineitem(spark, sf_dir))
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    pivots = [
        r[0]
        for r in li.select(F.col("l_orderkey").cast("long"))
        .distinct()
        .orderBy("l_orderkey")
        .limit(BETWEEN_PIVOTS)
        .collect()
    ]
    return betweenness_sampled(und, pivots, hops=BETWEEN_HOPS)


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style sequence packing: where each document lands in the
    capacity-2048 packed token stream (tokens ≈ n_chars), via the
    distributed two-phase prefix sum (operators/packing.py) — one range
    Exchange + parallel per-partition windows, no global-order reducer."""
    return pack_sequences(
        _docs(spark, sf_dir).select("doc_id", F.col("n_chars").alias("tokens")),
        capacity=PACK_CAPACITY,
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "pagerank_5iter": q_pagerank,
        "cc_6iter": q_cc,
        "checkpoint_resume": q_checkpoint_resume,
        "component_sizes": q_component_sizes,
        "degree_histogram": q_degree_histogram,
        "incremental_cc": q_incremental_cc,
        "sssp_4iter": q_sssp,
        "lpa_2iter": q_lpa,
        "lpa_4iter": q_lpa4,
        "scatter_combine_min": q_scatter_combine,
        "vertex_degrees": q_degrees,
        "frontier_after_2": q_frontier,
        "triangle_count": q_triangles,
        "triangles_per_vertex": q_triangles_per_vertex,
        "kcore_peel_3": q_kcore,
        "event_window_stats": q_event_window_stats,
        "sessionize": q_sessionize,
        "hash_sample": q_hash_sample,
        "corpus_mix": q_corpus_mix,
        "pagerank_top10": q_pagerank_top10,
        "personalized_pagerank": q_ppr,
        "pagerank_weighted": q_pagerank_weighted,
        "stratified_sample": q_stratified_sample,
        "event_funnel": q_event_funnel,
        "assortativity": q_assortativity,
        "mis_4iter": q_mis,
        "link_predict": q_link_predict,
        "last_touch": q_last_touch,
        "hits_3iter": q_hits,
        "greedy_coloring": q_coloring,
        "random_walks": q_random_walks,
        "temporal_reach": q_temporal_reach,
        "scc_fwbw": q_scc,
        "adamic_adar": q_adamic_adar,
        "harmonic_4src": q_harmonic,
        "copurchase_topk": q_copurchase,
        "pack_sequences": q_pack_sequences,
        "betweenness_2src": q_betweenness,
        "hll_shingles": q_hll_shingles,
        "weighted_sample": q_weighted_sample,
        "square_count": q_square_count,
        "label_spread": q_label_spread,
        "clustering_coeff": q_clustering_coeff,
        "hop_distribution": q_hop_distribution,
        "ktruss_3": q_ktruss,
        "powerlaw_alpha": q_powerlaw_alpha,
        "incremental_pagerank": q_incremental_pagerank,
        "partition_quality": q_partition_quality,
    }


# ------------------------------------------------------------- oracle SQL

_E = (
    "e AS (SELECT l_orderkey AS src, 10000000 + l_partkey AS dst, "
    "CAST(min(l_linenumber) AS DOUBLE) AS weight FROM lineitem GROUP BY 1, 2)"
)
_U = "u AS (SELECT src, dst FROM e UNION SELECT dst, src FROM e)"
_UW = (
    "uw AS (SELECT src, dst, min(weight) AS weight FROM "
    "(SELECT src, dst, weight FROM e UNION ALL SELECT dst, src, weight FROM e) "
    "GROUP BY 1, 2)"
)
_V = "v AS (SELECT src AS id FROM e UNION SELECT dst AS id FROM e)"


def _materialize(sql: str) -> str:
    """Force DuckDB to MATERIALIZE every CTE.  The unrolled iterative
    oracles reference each s_{k-1} from multiple places (message CTE,
    dangling CTE, carry-through), so inlined CTEs re-evaluate the whole
    chain ~3^k times — the SQL twin of the engine's own plan-doubling
    hazard (fixed there by localCheckpoint, here by materialization).
    Measured: the 5-step PageRank oracle at sf0.1 spilled >70 GB inlined;
    materialized it runs in seconds."""
    return sql.replace(" AS (", " AS MATERIALIZED (")


def _pagerank_sql(iters: int, damping: float = 0.85, weighted: bool = False) -> str:
    flow = "p.r * e.weight / deg.outdeg" if weighted else "p.r / deg.outdeg"
    degexpr = "SUM(weight)" if weighted else "COUNT(*)"
    parts = [
        _E,
        _V,
        f"deg AS (SELECT src, {degexpr} AS outdeg FROM e GROUP BY src)",
        "nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM v)",
        "s0 AS (SELECT id, 1.0 / (SELECT n FROM nn) AS r FROM v)",
    ]
    for k in range(1, iters + 1):
        p = f"s{k - 1}"
        parts.append(
            f"d{k} AS (SELECT COALESCE(SUM(p.r), 0) AS dm FROM {p} p "
            f"LEFT JOIN deg ON p.id = deg.src WHERE deg.src IS NULL)"
        )
        parts.append(
            f"m{k} AS (SELECT e.dst AS id, SUM({flow}) AS s "
            f"FROM {p} p JOIN e ON p.id = e.src JOIN deg ON deg.src = e.src "
            f"GROUP BY e.dst)"
        )
        parts.append(
            f"s{k} AS (SELECT v.id, (1 - {damping}) / (SELECT n FROM nn) + "
            f"{damping} * (COALESCE(m{k}.s, 0) + (SELECT dm FROM d{k}) / (SELECT n FROM nn)) AS r "
            f"FROM v LEFT JOIN m{k} ON v.id = m{k}.id)"
        )
    return _materialize(
        "WITH "
        + ", ".join(parts)
        + f" SELECT id, CAST(ROUND(r, 6) AS DOUBLE) AS rank FROM s{iters}"
    )


def _ppr_sql(iters: int, damping: float = 0.85) -> str:
    """Oracle twin of q_ppr: same recurrence with teleport vector p
    concentrated on the min-orderkey vertex; dangling mass teleports to p."""
    parts = [
        _E,
        _V,
        "deg AS (SELECT src, COUNT(*) AS outdeg FROM e GROUP BY src)",
        "src0 AS (SELECT MIN(l_orderkey) AS s FROM lineitem)",
        "pv AS (SELECT id, CASE WHEN id = (SELECT s FROM src0) THEN 1.0 ELSE 0.0 END AS p FROM v)",
        "s0 AS (SELECT id, p AS r FROM pv)",
    ]
    for k in range(1, iters + 1):
        p = f"s{k - 1}"
        parts.append(
            f"d{k} AS (SELECT COALESCE(SUM(p.r), 0) AS dm FROM {p} p "
            f"LEFT JOIN deg ON p.id = deg.src WHERE deg.src IS NULL)"
        )
        parts.append(
            f"m{k} AS (SELECT e.dst AS id, SUM(p.r / deg.outdeg) AS s "
            f"FROM {p} p JOIN e ON p.id = e.src JOIN deg ON deg.src = e.src "
            f"GROUP BY e.dst)"
        )
        parts.append(
            f"s{k} AS (SELECT pv.id, (1 - {damping}) * pv.p + "
            f"{damping} * (COALESCE(m{k}.s, 0) + (SELECT dm FROM d{k}) * pv.p) AS r "
            f"FROM pv LEFT JOIN m{k} ON pv.id = m{k}.id)"
        )
    return _materialize(
        "WITH "
        + ", ".join(parts)
        + f" SELECT id, CAST(ROUND(r, 6) AS DOUBLE) AS rank FROM s{iters}"
    )


def _cc_sql(iters: int) -> str:
    parts = [_E, _U, _V, "s0 AS (SELECT id, id AS val FROM v)"]
    for k in range(1, iters + 1):
        p = f"s{k - 1}"
        parts.append(
            f"m{k} AS (SELECT u.dst AS id, MIN(p.val) AS mv FROM {p} p "
            f"JOIN u ON p.id = u.src GROUP BY u.dst)"
        )
        parts.append(
            f"s{k} AS (SELECT {p}.id, LEAST({p}.val, COALESCE(m{k}.mv, {p}.val)) AS val "
            f"FROM {p} LEFT JOIN m{k} ON {p}.id = m{k}.id)"
        )
    return _materialize(
        "WITH "
        + ", ".join(parts)
        + f" SELECT id, CAST(val AS BIGINT) AS component FROM s{iters}"
    )


def _sssp_sql(iters: int) -> str:
    inf = "1e300"
    parts = [
        _E,
        _UW,
        _V,
        "src0 AS (SELECT MIN(l_orderkey) AS s FROM lineitem)",
        f"s0 AS (SELECT id, CASE WHEN id = (SELECT s FROM src0) THEN 0.0 ELSE {inf} END AS val FROM v)",
    ]
    for k in range(1, iters + 1):
        p = f"s{k - 1}"
        parts.append(
            f"m{k} AS (SELECT uw.dst AS id, MIN(p.val + uw.weight) AS mv FROM {p} p "
            f"JOIN uw ON p.id = uw.src WHERE p.val < 1e17 GROUP BY uw.dst)"
        )
        parts.append(
            f"s{k} AS (SELECT {p}.id, LEAST({p}.val, COALESCE(m{k}.mv, {p}.val)) AS val "
            f"FROM {p} LEFT JOIN m{k} ON {p}.id = m{k}.id)"
        )
    return _materialize(
        "WITH "
        + ", ".join(parts)
        + f" SELECT id, val AS distance FROM s{iters} WHERE val < 1e17"
    )


def _incremental_cc_sql(prior_iters: int, iters: int) -> str:
    """Oracle twin of q_incremental_cc: hash-min over the even-dst
    subgraph for ``prior_iters`` steps, then seeded hash-min over the full
    graph for ``iters`` steps (missing vertices seed at their own id)."""
    parts = [
        _E,
        _U,
        _V,
        "ea AS (SELECT src, dst FROM e WHERE dst % 2 = 0)",
        "ua AS (SELECT src, dst FROM ea UNION SELECT dst, src FROM ea)",
        "va AS (SELECT src AS id FROM ea UNION SELECT dst AS id FROM ea)",
        "a0 AS (SELECT id, id AS val FROM va)",
    ]
    for k in range(1, prior_iters + 1):
        p = f"a{k - 1}"
        parts.append(
            f"am{k} AS (SELECT ua.dst AS id, MIN(p.val) AS mv FROM {p} p "
            f"JOIN ua ON p.id = ua.src GROUP BY ua.dst)"
        )
        parts.append(
            f"a{k} AS (SELECT {p}.id, LEAST({p}.val, COALESCE(am{k}.mv, {p}.val)) AS val "
            f"FROM {p} LEFT JOIN am{k} ON {p}.id = am{k}.id)"
        )
    parts.append(
        f"s0 AS (SELECT v.id, COALESCE(a{prior_iters}.val, v.id) AS val "
        f"FROM v LEFT JOIN a{prior_iters} ON v.id = a{prior_iters}.id)"
    )
    for k in range(1, iters + 1):
        p = f"s{k - 1}"
        parts.append(
            f"m{k} AS (SELECT u.dst AS id, MIN(p.val) AS mv FROM {p} p "
            f"JOIN u ON p.id = u.src GROUP BY u.dst)"
        )
        parts.append(
            f"s{k} AS (SELECT {p}.id, LEAST({p}.val, COALESCE(m{k}.mv, {p}.val)) AS val "
            f"FROM {p} LEFT JOIN m{k} ON {p}.id = m{k}.id)"
        )
    return _materialize(
        "WITH "
        + ", ".join(parts)
        + f" SELECT id, CAST(val AS BIGINT) AS component FROM s{iters}"
    )


def _lpa_sql(iters: int) -> str:
    parts = [_E, _U, _V, "s0 AS (SELECT id, id AS val FROM v)"]
    for k in range(1, iters + 1):
        p = f"s{k - 1}"
        parts.append(
            f"c{k} AS (SELECT u.dst AS id, p.val AS lbl, COUNT(*) AS cnt FROM {p} p "
            f"JOIN u ON p.id = u.src GROUP BY 1, 2)"
        )
        parts.append(
            f"t{k} AS (SELECT id, lbl, ROW_NUMBER() OVER "
            f"(PARTITION BY id ORDER BY cnt DESC, lbl ASC) AS rn FROM c{k})"
        )
        parts.append(
            f"s{k} AS (SELECT {p}.id, COALESCE(t.lbl, {p}.val) AS val FROM {p} "
            f"LEFT JOIN (SELECT id, lbl FROM t{k} WHERE rn = 1) t ON {p}.id = t.id)"
        )
    return _materialize(
        "WITH "
        + ", ".join(parts)
        + f" SELECT id, CAST(val AS BIGINT) AS label FROM s{iters}"
    )


_CC2_ACTIVE_SQL = _materialize(
    "WITH "
    + ", ".join(
        [
            _E,
            _U,
            _V,
            "s0 AS (SELECT id, id AS val FROM v)",
            "m1 AS (SELECT u.dst AS id, MIN(p.val) AS mv FROM s0 p JOIN u ON p.id = u.src GROUP BY u.dst)",
            "s1 AS (SELECT s0.id, LEAST(s0.val, COALESCE(m1.mv, s0.val)) AS val FROM s0 LEFT JOIN m1 ON s0.id = m1.id)",
            "m2 AS (SELECT u.dst AS id, MIN(p.val) AS mv FROM s1 p JOIN u ON p.id = u.src GROUP BY u.dst)",
            "s2 AS (SELECT s1.id, LEAST(s1.val, COALESCE(m2.mv, s1.val)) AS val FROM s1 LEFT JOIN m2 ON s1.id = m2.id)",
        ]
    )
    + " SELECT s2.id FROM s2 JOIN s1 ON s2.id = s1.id WHERE s2.val < s1.val"
)


def _shingle_rows(docs: DataFrame, n: int) -> DataFrame:
    """(doc_id, shingle) — the word n-grams of each document, the Spark
    twin of ``_shingles_sql``.  Pure higher-order functions (transform
    over an index sequence) — codegen, no UDF.  No distinct: its one
    consumer, the HLL register max, is blind to duplicates.

    The token array is materialized in its OWN projection before the
    shingle expression consumes it: inlined, the `split()` re-evaluates
    inside every `element_at` of the lambda (n+1 regex splits of the full
    text per shingle) — measured 8.8× slower.  CollapseProject keeps the
    two projections apart because the alias is referenced many times by a
    non-cheap expression."""
    t = F.col("_toks")
    toked = docs.select("doc_id", F.split(F.trim(F.lower("text")), r"\s+").alias("_toks"))
    shingle_arr = F.when(
        F.size(t) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(t) - n),
            lambda i: F.concat_ws(" ", *[F.element_at(t, (i + j + 1).cast("int")) for j in range(n)]),
        ),
    ).otherwise(F.array(F.concat_ws(" ", t)))
    return toked.select("doc_id", F.explode(shingle_arr).alias("shingle"))


def _shingles_sql(src: str = "documents") -> str:
    return (
        f"toks AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS w FROM {src}), "
        "sh0 AS (SELECT doc_id, CASE WHEN len(w) >= 3 THEN "
        "[w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in generate_series(1, len(w) - 2)] "
        "ELSE [array_to_string(w, ' ')] END AS shl FROM toks), "
        "sh AS (SELECT DISTINCT doc_id, unnest(shl) AS shingle FROM sh0)"
    )


_SHINGLES = _shingles_sql("documents")


def _stratified_sample_sql() -> str:
    from pregel_golang_implementation_spark.operators.sampling import (
        _strat_threshold,
    )

    cases = " ".join(
        f"WHEN '{g}' THEN '{_strat_threshold(f)}'"
        for g, f in sorted(STRAT_FRACTIONS.items())
    )
    return (
        "SELECT doc_id, source FROM documents "
        "WHERE substr(md5('strat|' || doc_id::VARCHAR), 1, 4) < "
        f"CASE source {cases} ELSE '{_strat_threshold(STRAT_DEFAULT)}' END"
    )


def _funnel_sql(steps: tuple[str, ...]) -> str:
    parts = ["uu AS (SELECT DISTINCT user_id FROM events)"]
    prev = None
    for i, step in enumerate(steps, start=1):
        if prev is None:
            parts.append(
                f"s{i} AS (SELECT user_id, MIN(epoch_us(ts)) AS t FROM events "
                f"WHERE event_type = '{step}' GROUP BY 1)"
            )
        else:
            parts.append(
                f"s{i} AS (SELECT e.user_id, MIN(epoch_us(e.ts)) AS t FROM events e "
                f"JOIN {prev} p ON e.user_id = p.user_id "
                f"WHERE e.event_type = '{step}' AND epoch_us(e.ts) > p.t GROUP BY 1)"
            )
        prev = f"s{i}"
    cols = ", ".join(
        f"COALESCE(s{i}.t, -1) AS t_{s}_us" for i, s in enumerate(steps, start=1)
    )
    depth = " + ".join(
        f"CASE WHEN s{i}.t IS NULL THEN 0 ELSE 1 END"
        for i in range(1, len(steps) + 1)
    )
    joins = " ".join(
        f"LEFT JOIN s{i} ON uu.user_id = s{i}.user_id"
        for i in range(1, len(steps) + 1)
    )
    return (
        "WITH "
        + ", ".join(parts)
        + f" SELECT uu.user_id, {cols}, CAST({depth} AS BIGINT) AS depth FROM uu {joins}"
    )


def _assortativity_sql() -> str:
    """Twin of q_assortativity — identical exact-integer sufficient
    statistics, so the double formula is bit-identical."""
    return (
        f"WITH {_E}, "
        "od AS (SELECT src, COUNT(*) AS x FROM e GROUP BY 1), "
        "idg AS (SELECT dst, COUNT(*) AS y FROM e GROUP BY 1), "
        "xy AS (SELECT od.x::BIGINT AS x, idg.y::BIGINT AS y "
        "FROM e JOIN od ON e.src = od.src JOIN idg ON e.dst = idg.dst), "
        "s AS (SELECT COUNT(*)::BIGINT AS n, SUM(x)::BIGINT AS sx, SUM(y)::BIGINT AS sy, "
        "SUM(x * y)::BIGINT AS sxy, SUM(x * x)::BIGINT AS sxx, SUM(y * y)::BIGINT AS syy FROM xy) "
        "SELECT ROUND((n * sxy - sx * sy)::DOUBLE / "
        "(sqrt((n * sxx - sx * sx)::DOUBLE) * sqrt((n * syy - sy * sy)::DOUBLE)), 6) "
        "AS assortativity FROM s"
    )


def _hash48_sql(h: str) -> str:
    """First 12 hex chars of md5 as an exact BIGINT — digit-positional
    sum with power-of-16 literal weights (DuckDB has no base-16 conv;
    every partial sum < 2^48, so this equals Spark's F.conv(...,16,10)
    bit-for-bit)."""
    terms = " + ".join(
        f"(strpos('0123456789abcdef', substr({h}, {t + 1}, 1)) - 1) * {16 ** (11 - t)}"
        for t in range(12)
    )
    return f"CAST({terms} AS BIGINT)"


def _mis_priority_expr(h: str) -> str:
    """The hash48 as an exact integer-valued double (MIS priorities)."""
    return f"CAST({_hash48_sql(h)} AS DOUBLE)"


def _mis_sql(rounds: int) -> str:
    """Twin of q_mis: Luby rounds unrolled.  State per round: IN = -1,
    OUT = 2^48, undecided = priority; min over neighbor states answers
    join/drop (see operators/mis.py docstring for the encoding proof)."""
    out = f"{float(2 ** 48)!r}"
    pri = _mis_priority_expr("md5(id::VARCHAR)")
    parts = [
        _E,
        _U,
        _V,
        f"s0 AS (SELECT id, {pri} AS val FROM v)",
    ]
    for r in range(1, rounds + 1):
        p = f"s{r - 1}"
        parts.append(
            f"m{r} AS (SELECT u.dst AS id, MIN(s.val) AS mn FROM {p} s "
            f"JOIN u ON s.id = u.src GROUP BY u.dst)"
        )
        parts.append(
            f"s{r} AS (SELECT s.id, CASE "
            f"WHEN s.val < 0 OR s.val >= {out} THEN s.val "
            "WHEN m.mn IS NULL THEN -1.0 "
            f"WHEN m.mn < 0 THEN {out} "
            f"WHEN m.mn >= {out} THEN -1.0 "
            "WHEN s.val < m.mn THEN -1.0 "
            f"ELSE s.val END AS val FROM {p} s LEFT JOIN m{r} m ON s.id = m.id)"
        )
    return (
        "WITH "
        + ", ".join(parts)
        + f" SELECT id, CASE WHEN val < 0 THEN 'in' WHEN val >= {out} THEN 'out' "
        f"ELSE 'undecided' END AS status FROM s{rounds}"
    )


def _coloring_sql(colors: int, inner: int) -> str:
    """Twin of q_coloring: iterated Luby MIS unrolled.  Outer round c:
    residual undirected edges uc{c} (both endpoints uncolored), fresh
    state = md5 priorities over unc{c}, ``inner`` Luby rounds (the
    _mis_sql recurrence), color c to the IN set; uncolored → -1."""
    out = f"{float(2 ** 48)!r}"
    pri = _mis_priority_expr("md5(id::VARCHAR)")
    parts = [
        _E,
        _U,
        _V,
        f"p AS (SELECT id, {pri} AS pri FROM v)",
        "unc0 AS (SELECT id FROM v)",
    ]
    for c in range(colors):
        parts.append(
            f"uc{c} AS (SELECT u.src, u.dst FROM u "
            f"JOIN unc{c} a ON u.src = a.id JOIN unc{c} b ON u.dst = b.id)"
        )
        parts.append(
            f"s{c}_0 AS (SELECT p.id, p.pri AS val FROM p "
            f"JOIN unc{c} x ON p.id = x.id)"
        )
        for r in range(1, inner + 1):
            prev = f"s{c}_{r - 1}"
            parts.append(
                f"m{c}_{r} AS (SELECT uc{c}.dst AS id, MIN(s.val) AS mn FROM {prev} s "
                f"JOIN uc{c} ON s.id = uc{c}.src GROUP BY uc{c}.dst)"
            )
            parts.append(
                f"s{c}_{r} AS (SELECT s.id, CASE "
                f"WHEN s.val < 0 OR s.val >= {out} THEN s.val "
                "WHEN m.mn IS NULL THEN -1.0 "
                f"WHEN m.mn < 0 THEN {out} "
                f"WHEN m.mn >= {out} THEN -1.0 "
                "WHEN s.val < m.mn THEN -1.0 "
                f"ELSE s.val END AS val FROM {prev} s LEFT JOIN m{c}_{r} m ON s.id = m.id)"
            )
        parts.append(
            f"col{c} AS (SELECT id, CAST({c} AS BIGINT) AS color "
            f"FROM s{c}_{inner} WHERE val < 0)"
        )
        parts.append(
            f"unc{c + 1} AS (SELECT n.id FROM unc{c} n "
            f"LEFT JOIN col{c} x ON n.id = x.id WHERE x.id IS NULL)"
        )
    union = " UNION ALL ".join(f"SELECT id, color FROM col{c}" for c in range(colors))
    return (
        "WITH "
        + ", ".join(parts)
        + " "
        + union
        + f" UNION ALL SELECT id, CAST(-1 AS BIGINT) AS color FROM unc{colors}"
    )


def _walks_sql(length: int) -> str:
    """Twin of q_random_walks: L unrolled transition joins; neighbor
    rank = row_number-1 per src ordered by dst; pick = hash48(node#t)
    mod outdeg."""
    parts = [
        _E,
        "rk AS (SELECT src, dst, ROW_NUMBER() OVER (PARTITION BY src ORDER BY dst) - 1 "
        "AS rank, COUNT(*) OVER (PARTITION BY src) AS deg FROM e)",
        "w0 AS (SELECT DISTINCT src AS start, src AS node FROM e)",
    ]
    selects = ["SELECT start, CAST(0 AS BIGINT) AS step, node FROM w0"]
    for t in range(1, length + 1):
        h = _hash48_sql(f"md5(w{t - 1}.node::VARCHAR || '#' || '{t}')")
        parts.append(
            f"w{t} AS (SELECT w{t - 1}.start, rk.dst AS node FROM w{t - 1} "
            f"JOIN rk ON w{t - 1}.node = rk.src AND rk.rank = ({h}) % rk.deg)"
        )
        selects.append(f"SELECT start, CAST({t} AS BIGINT) AS step, node FROM w{t}")
    return "WITH " + ", ".join(parts) + " " + " UNION ALL ".join(selects)


def _temporal_sql(iters: int) -> str:
    """Twin of q_temporal_reach: full-relaxation rounds (idempotent
    re-sends equal the engine's frontier runs — operators/temporal.py
    docstring).  Edge time = epoch_us(o_orderdate), the repo's UTC
    unix_micros parity trick."""
    inf = "CAST('inf' AS DOUBLE)"
    parts = [
        "te AS (SELECT src, dst, MIN(t) AS t FROM ("
        "SELECT l_orderkey AS src, 10000000 + l_partkey AS dst, "
        "CAST(epoch_us(o_orderdate) AS DOUBLE) AS t "
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
        "UNION ALL "
        "SELECT 10000000 + l_partkey AS src, l_orderkey AS dst, "
        "CAST(epoch_us(o_orderdate) AS DOUBLE) AS t "
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey"
        ") GROUP BY 1, 2)",
        "tv AS (SELECT DISTINCT src AS id FROM te)",
        "sel AS (SELECT MIN(l_orderkey) AS s FROM lineitem)",
        f"a0 AS (SELECT id, CASE WHEN id = (SELECT s FROM sel) THEN 0.0 "
        f"ELSE {inf} END AS val FROM tv)",
    ]
    for k in range(1, iters + 1):
        prev = f"a{k - 1}"
        parts.append(
            f"m{k} AS (SELECT te.dst AS id, MIN(te.t) AS mn FROM {prev} a "
            f"JOIN te ON a.id = te.src WHERE a.val <= te.t GROUP BY te.dst)"
        )
        parts.append(
            f"a{k} AS (SELECT a.id, LEAST(a.val, COALESCE(m.mn, a.val)) AS val "
            f"FROM {prev} a LEFT JOIN m{k} m ON a.id = m.id)"
        )
    return (
        "WITH "
        + ", ".join(parts)
        + f" SELECT id, val AS arrival FROM a{iters} WHERE val < 1e17"
    )


def _link_predict_sql(k: int, cap: int) -> str:
    """Twin of q_link_predict: wedges through middles of degree ≤ cap,
    pair counts, anti-join existing edges, mirrored per-vertex rank."""
    return (
        f"WITH {_E}, {_U}, "
        "deg AS (SELECT src, COUNT(*) AS d FROM u GROUP BY 1), "
        f"em AS (SELECT u.src, u.dst FROM u JOIN deg ON u.src = deg.src WHERE deg.d <= {cap}), "
        "pr AS (SELECT l.dst AS a, r.dst AS b FROM em l JOIN em r ON l.src = r.src "
        "WHERE l.dst < r.dst), "
        "cm AS (SELECT a, b, COUNT(*) AS common FROM pr GROUP BY 1, 2), "
        "ne AS (SELECT cm.a, cm.b, cm.common FROM cm LEFT JOIN u "
        "ON cm.a = u.src AND cm.b = u.dst WHERE u.src IS NULL), "
        "mr AS (SELECT a AS id, b AS candidate, common FROM ne "
        "UNION ALL SELECT b AS id, a AS candidate, common FROM ne), "
        "r AS (SELECT id, candidate, common, ROW_NUMBER() OVER "
        "(PARTITION BY id ORDER BY common DESC, candidate ASC) AS rank FROM mr) "
        f"SELECT id, candidate, common, rank::BIGINT AS rank FROM r WHERE rank <= {k}"
    )


def _last_touch_sql(target: str = "purchase", touch: str = "view") -> str:
    return (
        "WITH e2 AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS t FROM events), "
        "w AS (SELECT event_id, user_id, event_type, t, "
        f"MAX(CASE WHEN event_type = '{touch}' THEN t END) OVER "
        "(PARTITION BY user_id ORDER BY t, event_id "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_v FROM e2) "
        "SELECT event_id, user_id, t AS t_target_us, "
        "COALESCE(last_v, -1) AS t_touch_us, "
        "CASE WHEN last_v IS NULL THEN -1 ELSE t - last_v END AS gap_us "
        f"FROM w WHERE event_type = '{target}'"
    )


def _hits_sql(iters: int) -> str:
    """Twin of q_hits: authority/hub half-steps unrolled, L1 norm via a
    1-row total subquery, 6dp rounding at the very end (the PageRank
    oracle's determinism recipe)."""
    parts = [_E, _V, "h0 AS (SELECT id, 1.0 AS h FROM v)"]
    for k in range(1, iters + 1):
        parts += [
            f"ar{k} AS (SELECT e.dst AS id, SUM(h.h) AS s FROM e "
            f"JOIN h{k - 1} h ON e.src = h.id GROUP BY e.dst)",
            f"at{k} AS (SELECT SUM(s) AS t FROM ar{k})",
            f"a{k} AS (SELECT v.id, COALESCE(ar{k}.s, 0.0) / (SELECT t FROM at{k}) AS a "
            f"FROM v LEFT JOIN ar{k} ON v.id = ar{k}.id)",
            f"hr{k} AS (SELECT e.src AS id, SUM(a.a) AS s FROM e "
            f"JOIN a{k} a ON e.dst = a.id GROUP BY e.src)",
            f"ht{k} AS (SELECT SUM(s) AS t FROM hr{k})",
            f"h{k} AS (SELECT v.id, COALESCE(hr{k}.s, 0.0) / (SELECT t FROM ht{k}) AS h "
            f"FROM v LEFT JOIN hr{k} ON v.id = hr{k}.id)",
        ]
    return (
        "WITH "
        + ", ".join(parts)
        + f" SELECT h.id, ROUND(h.h, 6) AS hub, ROUND(a.a, 6) AS authority "
        f"FROM h{iters} h JOIN a{iters} a ON h.id = a.id"
    )


_PE = (
    "pe AS (SELECT DISTINCT CASE WHEN l_linenumber % 2 = 1 THEN l_orderkey "
    "ELSE 10000000 + l_partkey END AS src, "
    "CASE WHEN l_linenumber % 2 = 1 THEN 10000000 + l_partkey "
    "ELSE l_orderkey END AS dst FROM lineitem)"
)


def _scc_sql(inner: int, trim: int) -> str:
    """Twin of q_scc: the same trim → f/b min-label → peel recurrence
    unrolled — trim rounds as semi/anti joins, each label pass as the
    _cc_sql chain over the restricted DIRECTED edge table (forward for
    f, reversed for b), peel where f = b."""
    parts = [_PE, "r0 AS (SELECT src AS id FROM pe UNION SELECT dst FROM pe)"]
    for t in range(1, trim + 1):
        p = f"r{t - 1}"
        parts += [
            f"er{t} AS (SELECT pe.src, pe.dst FROM pe "
            f"JOIN {p} a ON pe.src = a.id JOIN {p} b ON pe.dst = b.id)",
            f"r{t} AS (SELECT r.id FROM {p} r "
            f"JOIN (SELECT DISTINCT dst AS id FROM er{t}) di ON r.id = di.id "
            f"JOIN (SELECT DISTINCT src AS id FROM er{t}) so ON r.id = so.id)",
            f"trim{t} AS (SELECT r.id, r.id AS scc FROM {p} r "
            f"LEFT JOIN r{t} k ON r.id = k.id WHERE k.id IS NULL)",
        ]
    parts += [
        f"fe AS (SELECT pe.src, pe.dst FROM pe "
        f"JOIN r{trim} a ON pe.src = a.id JOIN r{trim} b ON pe.dst = b.id)",
        f"f0 AS (SELECT id, id AS lab FROM r{trim})",
        f"b0 AS (SELECT id, id AS lab FROM r{trim})",
    ]
    for k in range(1, inner + 1):
        parts += [
            f"fm{k} AS (SELECT fe.dst AS id, MIN(p.lab) AS m FROM f{k - 1} p "
            f"JOIN fe ON p.id = fe.src GROUP BY fe.dst)",
            f"f{k} AS (SELECT p.id, LEAST(p.lab, COALESCE(fm{k}.m, p.lab)) AS lab "
            f"FROM f{k - 1} p LEFT JOIN fm{k} ON p.id = fm{k}.id)",
            f"bm{k} AS (SELECT fe.src AS id, MIN(p.lab) AS m FROM b{k - 1} p "
            f"JOIN fe ON p.id = fe.dst GROUP BY fe.src)",
            f"b{k} AS (SELECT p.id, LEAST(p.lab, COALESCE(bm{k}.m, p.lab)) AS lab "
            f"FROM b{k - 1} p LEFT JOIN bm{k} ON p.id = bm{k}.id)",
        ]
    trims = " UNION ALL ".join(
        f"SELECT id, scc FROM trim{t}" for t in range(1, trim + 1)
    )
    return (
        "WITH "
        + ", ".join(parts)
        + f", peel AS (SELECT f.id, f.lab AS scc FROM f{inner} f "
        f"JOIN b{inner} b ON f.id = b.id WHERE f.lab = b.lab) "
        f"SELECT id, CAST(scc AS BIGINT) AS scc FROM "
        f"({trims} UNION ALL SELECT id, scc FROM peel)"
    )


def _adamic_adar_sql(k: int, cap: int) -> str:
    """Twin of q_adamic_adar: _link_predict_sql with the middle carrying
    weight 1/ln(deg); scores rounded to 6dp BEFORE ranking in both
    engines (tie → smaller candidate)."""
    return (
        f"WITH {_E}, {_U}, "
        "deg AS (SELECT src, COUNT(*) AS d FROM u GROUP BY 1), "
        f"em AS (SELECT u.src, u.dst, 1.0 / ln(deg.d) AS w FROM u "
        f"JOIN deg ON u.src = deg.src WHERE deg.d <= {cap} AND deg.d >= 2), "
        "pr AS (SELECT l.dst AS a, r.dst AS b, l.w FROM em l JOIN em r "
        "ON l.src = r.src WHERE l.dst < r.dst), "
        "sc AS (SELECT a, b, ROUND(SUM(w), 6) AS score FROM pr GROUP BY 1, 2), "
        "ne AS (SELECT sc.a, sc.b, sc.score FROM sc LEFT JOIN u "
        "ON sc.a = u.src AND sc.b = u.dst WHERE u.src IS NULL), "
        "mr AS (SELECT a AS id, b AS candidate, score FROM ne "
        "UNION ALL SELECT b AS id, a AS candidate, score FROM ne), "
        "r AS (SELECT id, candidate, score, ROW_NUMBER() OVER "
        "(PARTITION BY id ORDER BY score DESC, candidate ASC) AS rank FROM mr) "
        f"SELECT id, candidate, score, rank::BIGINT AS rank FROM r WHERE rank <= {k}"
    )


def _harmonic_sql(pivots: int, hops: int) -> str:
    """Twin of q_harmonic: multi-source BFS layers unrolled — each hop
    expands only the newest frontier, anti-joins the accumulated
    distance table, then Σ 1/d per vertex at the end."""
    parts = [
        _E,
        _U,
        f"pvt AS (SELECT l_orderkey AS pv FROM (SELECT DISTINCT l_orderkey "
        f"FROM lineitem ORDER BY 1 LIMIT {pivots}))",
        "d0 AS (SELECT pv AS id, pv, 0 AS dist FROM pvt)",
        "fr0 AS (SELECT id, pv, dist FROM d0)",
    ]
    for h in range(1, hops + 1):
        parts += [
            f"rh{h} AS (SELECT DISTINCT u.dst AS id, f.pv, {h} AS dist "
            f"FROM fr{h - 1} f JOIN u ON f.id = u.src)",
            f"fr{h} AS (SELECT r.id, r.pv, r.dist FROM rh{h} r "
            f"LEFT JOIN d{h - 1} d ON r.id = d.id AND r.pv = d.pv "
            f"WHERE d.id IS NULL)",
            f"d{h} AS (SELECT * FROM d{h - 1} UNION ALL SELECT * FROM fr{h})",
        ]
    return (
        "WITH "
        + ", ".join(parts)
        + f" SELECT id, ROUND(SUM(1.0 / dist), 6) AS harmonic FROM d{hops} "
        f"WHERE dist > 0 GROUP BY id"
    )


def _copurchase_sql(k: int, cap: int) -> str:
    """Twin of q_copurchase: distinct membership, basket-size cap,
    container self-join pairs, mirrored per-entity rank."""
    return (
        "WITH mb AS (SELECT DISTINCT l_partkey AS entity, l_orderkey AS "
        "container FROM lineitem), "
        "sz AS (SELECT container, COUNT(*) AS n FROM mb GROUP BY 1), "
        f"mc AS (SELECT mb.entity, mb.container FROM mb JOIN sz "
        f"ON mb.container = sz.container WHERE sz.n <= {cap}), "
        "pr AS (SELECT l.entity AS a, r.entity AS b FROM mc l JOIN mc r "
        "ON l.container = r.container WHERE l.entity < r.entity), "
        "ct AS (SELECT a, b, COUNT(*) AS n_shared FROM pr GROUP BY 1, 2), "
        "mr AS (SELECT a AS id, b AS candidate, n_shared FROM ct "
        "UNION ALL SELECT b AS id, a AS candidate, n_shared FROM ct), "
        "r AS (SELECT id, candidate, n_shared, ROW_NUMBER() OVER "
        "(PARTITION BY id ORDER BY n_shared DESC, candidate ASC) AS rank FROM mr) "
        f"SELECT id, candidate, n_shared, rank::BIGINT AS rank FROM r "
        f"WHERE rank <= {k}"
    )


def _pack_sql(capacity: int) -> str:
    """Twin of q_pack_sequences: the same (md5(doc_id), doc_id) order,
    exclusive running token sum, and integer chop arithmetic — expressed
    as one window cumsum (the oracle can afford the global-order window
    the engine's two-phase prefix sum exists to avoid)."""
    return (
        "WITH t AS (SELECT doc_id, n_chars AS tokens, "
        "md5(CAST(doc_id AS VARCHAR)) AS h FROM documents WHERE n_chars > 0), "
        "c AS (SELECT doc_id, tokens, COALESCE(SUM(tokens) OVER "
        "(ORDER BY h, doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), "
        "0) AS st FROM t) "
        "SELECT doc_id, CAST(st AS BIGINT) AS start_token, "
        f"CAST(st // {capacity} AS BIGINT) AS first_seq, "
        f"CAST((st + tokens - 1) // {capacity} AS BIGINT) AS last_seq, "
        f"CAST((st + tokens - 1) // {capacity} - st // {capacity} + 1 AS BIGINT) "
        "AS n_seqs FROM c"
    )


def _betweenness_sql(pivots: int, hops: int) -> str:
    """Twin of q_betweenness: Brandes forward (σ path counts by BFS
    layer) and backward (δ dependency accumulation) unrolled per layer —
    the same recurrence as operators/betweenness.py, expressed as
    chained CTEs."""
    parts = [
        _E,
        _U,
        f"pvt AS (SELECT l_orderkey AS pv FROM (SELECT DISTINCT l_orderkey "
        f"FROM lineitem ORDER BY 1 LIMIT {pivots}))",
        "s0 AS (SELECT pv AS id, pv, CAST(1 AS BIGINT) AS sigma FROM pvt)",
        "acc0 AS (SELECT id, pv FROM s0)",
    ]
    for h in range(1, hops + 1):
        parts += [
            f"cand{h} AS (SELECT u.dst AS id, f.pv, SUM(f.sigma) AS sigma "
            f"FROM s{h - 1} f JOIN u ON f.id = u.src GROUP BY 1, 2)",
            f"s{h} AS (SELECT c.id, c.pv, CAST(c.sigma AS BIGINT) AS sigma "
            f"FROM cand{h} c LEFT JOIN acc{h - 1} a ON c.id = a.id "
            f"AND c.pv = a.pv WHERE a.id IS NULL)",
            f"acc{h} AS (SELECT id, pv FROM acc{h - 1} "
            f"UNION ALL SELECT id, pv FROM s{h})",
        ]
    parts.append(
        f"fin{hops} AS (SELECT id, pv, sigma, 0.0 AS delta FROM s{hops})"
    )
    for h in range(hops, 0, -1):
        parts.append(
            f"del{h - 1} AS (SELECT p.id, p.pv, "
            f"SUM(CAST(p.sigma AS DOUBLE) / CAST(f.sigma AS DOUBLE) "
            f"* (1.0 + f.delta)) AS delta "
            f"FROM fin{h} f JOIN u ON f.id = u.dst "
            f"JOIN s{h - 1} p ON p.id = u.src AND p.pv = f.pv GROUP BY 1, 2)"
        )
        if h > 1:
            parts.append(
                f"fin{h - 1} AS (SELECT l.id, l.pv, l.sigma, "
                f"COALESCE(d.delta, 0.0) AS delta FROM s{h - 1} l "
                f"LEFT JOIN del{h - 1} d ON l.id = d.id AND l.pv = d.pv)"
            )
    union = " UNION ALL ".join(
        f"SELECT id, pv, delta FROM fin{h}" for h in range(1, hops + 1)
    )
    return (
        "WITH "
        + ", ".join(parts)
        + f", pp AS ({union}) "
        "SELECT id, ROUND(SUM(delta), 6) AS betweenness FROM pp "
        "WHERE id <> pv GROUP BY id HAVING ROUND(SUM(delta), 6) > 0"
    )


def _partition_quality_sql(cc_iters: int, parts_n: int) -> str:
    """Twin of q_partition_quality: the cc chain for community labels,
    then per-strategy edge-cut and balance from exact integer counts."""
    chain = [_E, _U, _V, "s0 AS (SELECT id, id AS val FROM v)"]
    for k in range(1, cc_iters + 1):
        p = f"s{k - 1}"
        chain += [
            f"m{k} AS (SELECT u.dst AS id, MIN(p.val) AS mv FROM {p} p "
            f"JOIN u ON p.id = u.src GROUP BY u.dst)",
            f"s{k} AS (SELECT {p}.id, LEAST({p}.val, COALESCE(m{k}.mv, {p}.val)) "
            f"AS val FROM {p} LEFT JOIN m{k} ON {p}.id = m{k}.id)",
        ]
    return (
        "WITH "
        + ", ".join(chain)
        + f", comp AS (SELECT id, CAST(val AS BIGINT) AS component FROM s{cc_iters}), "
        f"asn AS (SELECT 'mod' AS strategy, id, id % {parts_n} AS part FROM comp "
        f"UNION ALL SELECT 'community', id, component % {parts_n} FROM comp), "
        "cut AS (SELECT a1.strategy, COUNT(*) AS ne, "
        "SUM(CASE WHEN a1.part <> a2.part THEN 1 ELSE 0 END) AS nc "
        "FROM u JOIN asn a1 ON u.src = a1.id "
        "JOIN asn a2 ON u.dst = a2.id AND a2.strategy = a1.strategy GROUP BY 1), "
        "sz AS (SELECT strategy, part, COUNT(*) AS s FROM asn GROUP BY 1, 2), "
        "bal AS (SELECT strategy, MAX(s) AS mx, SUM(s) AS nv FROM sz GROUP BY 1) "
        "SELECT cut.strategy, ROUND(nc::DOUBLE / ne::DOUBLE, 6) AS cut_frac, "
        f"ROUND(mx::DOUBLE / (nv::DOUBLE / {float(parts_n)!r}), 6) AS balance "
        "FROM cut JOIN bal ON cut.strategy = bal.strategy"
    )


def _inc_pagerank_sql(
    prior_iters: int, iters: int, damping: float = 0.85
) -> str:
    """Twin of q_incremental_pagerank: the _pagerank_sql recurrence run
    first over the even-dst subgraph (its own N, degrees, dangling
    mass), then over the full graph seeded from the subgraph ranks
    (missing vertices at 1/N_full)."""
    parts = [
        _E,
        _V,
        "ea AS (SELECT src, dst FROM e WHERE dst % 2 = 0)",
        "va AS (SELECT src AS id FROM ea UNION SELECT dst AS id FROM ea)",
        "dega AS (SELECT src, COUNT(*) AS outdeg FROM ea GROUP BY src)",
        "nna AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM va)",
        "a0 AS (SELECT id, 1.0 / (SELECT n FROM nna) AS r FROM va)",
    ]
    for k in range(1, prior_iters + 1):
        p = f"a{k - 1}"
        parts += [
            f"da{k} AS (SELECT COALESCE(SUM(p.r), 0) AS dm FROM {p} p "
            f"LEFT JOIN dega ON p.id = dega.src WHERE dega.src IS NULL)",
            f"ma{k} AS (SELECT ea.dst AS id, SUM(p.r / dega.outdeg) AS s "
            f"FROM {p} p JOIN ea ON p.id = ea.src "
            f"JOIN dega ON dega.src = ea.src GROUP BY ea.dst)",
            f"a{k} AS (SELECT va.id, (1 - {damping}) / (SELECT n FROM nna) + "
            f"{damping} * (COALESCE(ma{k}.s, 0) + (SELECT dm FROM da{k}) / "
            f"(SELECT n FROM nna)) AS r FROM va LEFT JOIN ma{k} ON va.id = ma{k}.id)",
        ]
    parts += [
        "deg AS (SELECT src, COUNT(*) AS outdeg FROM e GROUP BY src)",
        "nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM v)",
        f"s0 AS (SELECT v.id, COALESCE(a{prior_iters}.r, 1.0 / (SELECT n FROM nn)) "
        f"AS r FROM v LEFT JOIN a{prior_iters} ON v.id = a{prior_iters}.id)",
    ]
    for k in range(1, iters + 1):
        p = f"s{k - 1}"
        parts += [
            f"d{k} AS (SELECT COALESCE(SUM(p.r), 0) AS dm FROM {p} p "
            f"LEFT JOIN deg ON p.id = deg.src WHERE deg.src IS NULL)",
            f"m{k} AS (SELECT e.dst AS id, SUM(p.r / deg.outdeg) AS s "
            f"FROM {p} p JOIN e ON p.id = e.src JOIN deg ON deg.src = e.src "
            f"GROUP BY e.dst)",
            f"s{k} AS (SELECT v.id, (1 - {damping}) / (SELECT n FROM nn) + "
            f"{damping} * (COALESCE(m{k}.s, 0) + (SELECT dm FROM d{k}) / "
            f"(SELECT n FROM nn)) AS r FROM v LEFT JOIN m{k} ON v.id = m{k}.id)",
        ]
    return (
        "WITH "
        + ", ".join(parts)
        + f" SELECT id, CAST(ROUND(r, 6) AS DOUBLE) AS rank FROM s{iters}"
    )


def _ktruss_sql(k: int, rounds: int) -> str:
    """Twin of q_ktruss: the triangle-support / edge-peel recurrence
    unrolled over the co-purchase edge table."""
    parts = [
        "li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem)",
        "pp0 AS (SELECT a.p AS src, b.p AS dst FROM li a JOIN li b "
        "ON a.o = b.o AND a.p < b.p GROUP BY 1, 2 HAVING COUNT(*) >= 2)",
    ]
    for r in range(1, rounds + 1):
        p = f"pp{r - 1}"
        parts += [
            f"tri{r} AS (SELECT e1.src AS a, e1.dst AS b, e2.dst AS c "
            f"FROM {p} e1 JOIN {p} e2 ON e1.dst = e2.src "
            f"JOIN {p} e3 ON e3.src = e1.src AND e3.dst = e2.dst)",
            f"sup{r} AS (SELECT src, dst, COUNT(*) AS support FROM "
            f"(SELECT a AS src, b AS dst FROM tri{r} "
            f"UNION ALL SELECT b, c FROM tri{r} "
            f"UNION ALL SELECT a, c FROM tri{r}) GROUP BY 1, 2)",
            f"pp{r} AS (SELECT src, dst FROM sup{r} WHERE support >= {k - 2})",
        ]
    return (
        "WITH "
        + ", ".join(parts)
        + f" SELECT src, dst, CAST(support AS BIGINT) AS support "
        f"FROM sup{rounds} WHERE support >= {k - 2}"
    )


def _hop_dist_sql(pivots: int, hops: int) -> str:
    """Twin of q_hop_distribution: the _harmonic_sql BFS chain, then a
    per-distance histogram with a running cumulative fraction."""
    parts = [
        _E,
        _U,
        f"pvt AS (SELECT l_orderkey AS pv FROM (SELECT DISTINCT l_orderkey "
        f"FROM lineitem ORDER BY 1 LIMIT {pivots}))",
        "d0 AS (SELECT pv AS id, pv, 0 AS dist FROM pvt)",
        "fr0 AS (SELECT id, pv, dist FROM d0)",
    ]
    for h in range(1, hops + 1):
        parts += [
            f"rh{h} AS (SELECT DISTINCT u.dst AS id, f.pv, {h} AS dist "
            f"FROM fr{h - 1} f JOIN u ON f.id = u.src)",
            f"fr{h} AS (SELECT r.id, r.pv, r.dist FROM rh{h} r "
            f"LEFT JOIN d{h - 1} d ON r.id = d.id AND r.pv = d.pv "
            f"WHERE d.id IS NULL)",
            f"d{h} AS (SELECT * FROM d{h - 1} UNION ALL SELECT * FROM fr{h})",
        ]
    return (
        "WITH "
        + ", ".join(parts)
        + f", hst AS (SELECT dist, COUNT(*) AS n_pairs FROM d{hops} GROUP BY 1), "
        f"tt AS (SELECT COUNT(*)::DOUBLE AS n FROM d{hops}) "
        "SELECT CAST(dist AS BIGINT) AS dist, n_pairs, "
        "ROUND((SUM(n_pairs) OVER (ORDER BY dist ROWS BETWEEN UNBOUNDED "
        "PRECEDING AND CURRENT ROW))::DOUBLE / (SELECT n FROM tt), 6) "
        "AS cum_frac FROM hst"
    )


def _label_spread_sql(rounds: int) -> str:
    """Twin of q_label_spread: the fixed-seed mode-adoption recurrence
    unrolled — the _lpa_sql vote/rank pattern with a CASE pinning seeds
    and NULL-labeled vertices casting no votes."""
    parts = [
        _E,
        _U,
        _V,
        "seeds AS (SELECT CAST(o_orderkey AS BIGINT) AS id, "
        "CAST(c_nationkey AS BIGINT) AS lbl FROM orders "
        "JOIN customer ON o_custkey = c_custkey WHERE o_orderkey % 10 = 0)",
        "s0 AS (SELECT v.id, seeds.lbl, seeds.lbl IS NOT NULL AS seed "
        "FROM v LEFT JOIN seeds ON v.id = seeds.id)",
    ]
    for k in range(1, rounds + 1):
        p = f"s{k - 1}"
        parts += [
            f"c{k} AS (SELECT u.dst AS id, p.lbl, COUNT(*) AS cnt FROM {p} p "
            f"JOIN u ON p.id = u.src WHERE p.lbl IS NOT NULL GROUP BY 1, 2)",
            f"t{k} AS (SELECT id, lbl, ROW_NUMBER() OVER "
            f"(PARTITION BY id ORDER BY cnt DESC, lbl ASC) AS rn FROM c{k})",
            f"s{k} AS (SELECT p.id, CASE WHEN p.seed THEN p.lbl "
            f"ELSE COALESCE(t.lbl, p.lbl) END AS lbl, p.seed FROM {p} p "
            f"LEFT JOIN (SELECT id, lbl FROM t{k} WHERE rn = 1) t "
            f"ON p.id = t.id)",
        ]
    return (
        "WITH "
        + ", ".join(parts)
        + f" SELECT id, CAST(lbl AS BIGINT) AS label FROM s{rounds} "
        "WHERE lbl IS NOT NULL"
    )


def _square_count_sql(cap: int) -> str:
    """Twin of q_square_count: capped wedge pairs, C(c,2) per pair,
    halved for the two diagonals of each square."""
    return (
        f"WITH {_E}, {_U}, "
        "deg AS (SELECT src, COUNT(*) AS d FROM u GROUP BY 1), "
        f"em AS (SELECT u.src, u.dst FROM u JOIN deg ON u.src = deg.src "
        f"WHERE deg.d <= {cap}), "
        "pr AS (SELECT l.dst AS a, r.dst AS b FROM em l JOIN em r "
        "ON l.src = r.src WHERE l.dst < r.dst), "
        "cm AS (SELECT a, b, COUNT(*) AS c FROM pr GROUP BY 1, 2) "
        "SELECT CAST(SUM(c * (c - 1) / 2) / 2 AS BIGINT) AS n_squares, "
        f"CAST((SELECT COUNT(*) FROM deg WHERE d > {cap}) AS BIGINT) "
        "AS excluded_middles FROM cm"
    )


def _weighted_sample_sql(k: int) -> str:
    """Twin of q_weighted_sample: same hash48 dyadic uniform, same
    -ln(u)/w key rounded to 9dp, same (skey, doc_id) cut order."""
    h = "md5('wsample|' || CAST(doc_id AS VARCHAR))"
    return (
        f"WITH t AS (SELECT doc_id, CAST(n_chars AS DOUBLE) AS w, "
        f"{_hash48_sql(h)} AS hv FROM documents WHERE n_chars > 0), "
        "s AS (SELECT doc_id, w AS weight, "
        f"ROUND(-ln((hv + 1) / {float(16 ** 12)!r}) / w, 9) AS skey FROM t) "
        f"SELECT doc_id, weight, skey FROM s ORDER BY skey, doc_id LIMIT {k}"
    )


def _hll_sql() -> str:
    """Twin of q_hll_shingles: identical md5 bucket/zero-run register
    construction and estimator arithmetic (the ALPHA·m² literal is the
    repr of the very double Spark inlines, so both engines divide the
    same numbers)."""
    from pregel_golang_implementation_spark.operators.sketches import _ALPHA, _M

    def hexint(start: int, nchars: int) -> str:
        return " + ".join(
            f"(strpos('0123456789abcdef', substr(h, {start + t}, 1)) - 1) "
            f"* {16 ** (nchars - 1 - t)}"
            for t in range(nchars)
        )

    am2 = repr(_ALPHA * _M * _M)
    return (
        f"WITH {_SHINGLES}, "
        "hh AS (SELECT md5(shingle) AS h FROM sh), "
        f"bx AS (SELECT CAST({hexint(1, 2)} AS INT) AS bucket, "
        f"CAST({hexint(3, 13)} AS BIGINT) AS x FROM hh), "
        "r AS (SELECT bucket, MAX(53 - length(regexp_replace(bin(x), '^0+', ''))) "
        "AS m_reg FROM bx GROUP BY 1), "
        "a AS (SELECT COUNT(*) AS present, SUM(POWER(2.0, -m_reg)) AS s_present "
        "FROM r) "
        f"SELECT CAST({_M} AS BIGINT) AS m, CAST(present AS BIGINT) AS "
        "registers_used, ROUND(CASE WHEN "
        f"{am2} / (s_present + ({_M} - present)) <= {2.5 * _M!r} "
        f"AND ({_M} - present) > 0 "
        f"THEN {float(_M)!r} * ln({float(_M)!r} / CAST({_M} - present AS DOUBLE)) "
        f"ELSE {am2} / (s_present + ({_M} - present)) END, 4) AS estimate FROM a"
    )


def oracle_sql() -> dict[str, str]:
    return {
        "pagerank_5iter": _pagerank_sql(PR_ITERS),
        "cc_6iter": _cc_sql(CC_ITERS),
        # resume(2 + 4 steps) must equal the uninterrupted 6-step run —
        # the oracle is literally the same 6-iteration chain
        "checkpoint_resume": _cc_sql(CC_ITERS),
        "component_sizes": (
            "SELECT component, CAST(COUNT(*) AS BIGINT) AS n_vertices "
            f"FROM ({_cc_sql(CC_ITERS)}) GROUP BY 1"
        ),
        "degree_histogram": (
            f"WITH {_E}, "
            "od AS (SELECT src AS id, COUNT(*) AS out_deg FROM e GROUP BY 1), "
            "id_ AS (SELECT dst AS id, COUNT(*) AS in_deg FROM e GROUP BY 1), "
            "deg AS (SELECT COALESCE(out_deg, 0) + COALESCE(in_deg, 0) AS degree "
            "FROM od FULL OUTER JOIN id_ ON od.id = id_.id) "
            "SELECT CAST(degree AS BIGINT) AS degree, CAST(COUNT(*) AS BIGINT) AS n_vertices "
            "FROM deg GROUP BY 1"
        ),
        "incremental_cc": _incremental_cc_sql(INC_CC_PRIOR_ITERS, INC_CC_ITERS),
        "sssp_4iter": _sssp_sql(SSSP_ITERS),
        "lpa_2iter": _lpa_sql(LPA_ITERS),
        "lpa_4iter": _lpa_sql(LPA4_ITERS),
        "scatter_combine_min": (
            f"WITH {_E} SELECT dst AS id, MIN(src + weight) AS msg, "
            "COUNT(*) AS n_msgs FROM e GROUP BY dst"
        ),
        "vertex_degrees": (
            f"WITH {_E}, "
            "od AS (SELECT src AS id, COUNT(*) AS out_deg FROM e GROUP BY 1), "
            "id_ AS (SELECT dst AS id, COUNT(*) AS in_deg FROM e GROUP BY 1) "
            "SELECT COALESCE(od.id, id_.id) AS id, COALESCE(out_deg, 0) AS out_deg, "
            "COALESCE(in_deg, 0) AS in_deg FROM od FULL OUTER JOIN id_ ON od.id = id_.id"
        ),
        "frontier_after_2": _CC2_ACTIVE_SQL,
        "triangle_count": (
            "WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem), "
            "pp AS (SELECT a.p AS src, b.p AS dst FROM li a JOIN li b ON a.o = b.o AND a.p < b.p "
            "GROUP BY 1, 2 HAVING COUNT(*) >= 2) "
            "SELECT COUNT(*) AS n_triangles FROM pp e1 "
            "JOIN pp e2 ON e1.dst = e2.src JOIN pp e3 ON e3.src = e1.src AND e3.dst = e2.dst"
        ),
        "triangles_per_vertex": (
            "WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem), "
            "pp AS (SELECT a.p AS src, b.p AS dst FROM li a JOIN li b ON a.o = b.o AND a.p < b.p "
            "GROUP BY 1, 2 HAVING COUNT(*) >= 2), "
            "tri AS (SELECT e1.src AS a, e1.dst AS b, e2.dst AS c FROM pp e1 "
            "JOIN pp e2 ON e1.dst = e2.src JOIN pp e3 ON e3.src = e1.src AND e3.dst = e2.dst) "
            "SELECT id, CAST(COUNT(*) AS BIGINT) AS triangles FROM "
            "(SELECT a AS id FROM tri UNION ALL SELECT b FROM tri UNION ALL SELECT c FROM tri) "
            "GROUP BY 1"
        ),
        "kcore_peel_3": _kcore_sql(KCORE_K, KCORE_ROUNDS),
        "hash_sample": (
            "SELECT doc_id, lang, source FROM documents "
            f"WHERE substr(md5('sample|' || doc_id::VARCHAR), 1, 4) < '{_hex_thr(SAMPLE_FRACTION)}'"
        ),
        "corpus_mix": _corpus_mix_sql(),
        "event_window_stats": (
            "SELECT CAST(epoch(time_bucket(INTERVAL '1 hour', ts)) AS BIGINT) AS window_start, "
            "event_type, COUNT(*) AS n, "
            # decimal(38,9) sum = order-independent (exact decimal addition
            # after one deterministic per-value rounding) — mirrors the
            # engine's _decimal_sum so partition order can never flip the
            # 6th decimal of the hash-compared total
            "CAST(ROUND(SUM(CAST(value AS DECIMAL(38,9))), 6) AS DOUBLE) AS total_value, "
            # TRY_CAST(NULLIF(...)): DuckDB regexp_extract yields '' for a
            # non-matching props string and CAST('' AS BIGINT) hard-errors,
            # whereas Spark yields NULL and avg() skips it — the twin must
            # skip too, or any event without a "k" property kills the oracle.
            "CAST(ROUND(AVG(TRY_CAST(NULLIF(regexp_extract(props, '\"k\":\\s*(\\d+)', 1), '') AS BIGINT)), 6) AS DOUBLE) AS avg_k "
            "FROM events GROUP BY 1, 2"
        ),
        "sessionize": (
            "WITH ev AS (SELECT user_id, event_id, "
            "CAST(floor(epoch(ts)) AS BIGINT) AS ep, value FROM events), "
            "f AS (SELECT user_id, event_id, ep, value, "
            "CASE WHEN LAG(ep) OVER (PARTITION BY user_id ORDER BY ep, event_id) IS NULL "
            "OR ep - LAG(ep) OVER (PARTITION BY user_id ORDER BY ep, event_id) > 1800 "
            "THEN 1 ELSE 0 END AS nw FROM ev), "
            "g AS (SELECT user_id, ep, value, SUM(nw) OVER (PARTITION BY user_id "
            "ORDER BY ep, event_id ROWS UNBOUNDED PRECEDING) AS sess FROM f) "
            # CAST: DuckDB's windowed SUM yields HUGEINT, which pandas
            # renders as float64 (1.0) while Spark emits long (1) — the
            # driver's exact value hash sees those as different even when
            # every value matches. Same rule as every other integer column
            # in this file: cast in the twin.
            "SELECT user_id, CAST(sess AS BIGINT) AS session_no, COUNT(*) AS n_events, "
            "MIN(ep) AS start_ts, MAX(ep) AS end_ts, "
            "CAST(ROUND(SUM(CAST(value AS DECIMAL(38,9))), 6) AS DOUBLE) AS total_value "
            "FROM g GROUP BY 1, 2"
        ),
        "pagerank_top10": (
            "SELECT * FROM ("
            + _pagerank_sql(PR_ITERS)
            + ") ORDER BY rank DESC, id ASC LIMIT 10"
        ),
        "personalized_pagerank": _ppr_sql(PR_ITERS),
        "pagerank_weighted": _pagerank_sql(PR_ITERS, weighted=True),
        "stratified_sample": _stratified_sample_sql(),
        "event_funnel": _funnel_sql(FUNNEL_STEPS),
        "assortativity": _assortativity_sql(),
        "mis_4iter": _materialize(_mis_sql(MIS_ITERS)),
        "link_predict": _materialize(_link_predict_sql(LP_K, LP_MAX_MID_DEG)),
        "last_touch": _last_touch_sql(),
        "hits_3iter": _materialize(_hits_sql(HITS_ITERS)),
        "greedy_coloring": _materialize(_coloring_sql(COLOR_ROUNDS, COLOR_INNER)),
        "random_walks": _materialize(_walks_sql(WALK_LEN)),
        "temporal_reach": _materialize(_temporal_sql(TEMPORAL_ITERS)),
        "scc_fwbw": _materialize(_scc_sql(SCC_INNER, SCC_TRIM)),
        "adamic_adar": _materialize(_adamic_adar_sql(LP_K, LP_MAX_MID_DEG)),
        "harmonic_4src": _materialize(
            _harmonic_sql(HARMONIC_PIVOTS, HARMONIC_HOPS)
        ),
        "copurchase_topk": _materialize(
            _copurchase_sql(LP_K, COPURCHASE_MAX_BASKET)
        ),
        "pack_sequences": _pack_sql(PACK_CAPACITY),
        "betweenness_2src": _materialize(
            _betweenness_sql(BETWEEN_PIVOTS, BETWEEN_HOPS)
        ),
        "hll_shingles": _materialize(_hll_sql()),
        "weighted_sample": _weighted_sample_sql(WSAMPLE_K),
        "square_count": _materialize(_square_count_sql(LP_MAX_MID_DEG)),
        "label_spread": _materialize(_label_spread_sql(SPREAD_ROUNDS)),
        "hop_distribution": _materialize(
            _hop_dist_sql(HARMONIC_PIVOTS, HARMONIC_HOPS)
        ),
        "ktruss_3": _materialize(_ktruss_sql(KTRUSS_K, KTRUSS_ROUNDS)),
        "incremental_pagerank": _materialize(
            _inc_pagerank_sql(INC_PR_PRIOR_ITERS, INC_PR_ITERS)
        ),
        "partition_quality": _materialize(
            _partition_quality_sql(CC_ITERS, PQUAL_PARTS)
        ),
        "powerlaw_alpha": (
            f"WITH {_E}, {_U}, "
            "deg AS (SELECT src AS id, COUNT(*) AS d FROM u GROUP BY 1), "
            f"tail AS (SELECT d FROM deg WHERE d >= {PL_DMIN}) "
            "SELECT COUNT(*) AS n_tail, "
            f"CAST({PL_DMIN} AS BIGINT) AS d_min, "
            f"ROUND(1.0 + COUNT(*) / SUM(ln(CAST(d AS DOUBLE) / {PL_DMIN - 0.5!r})), 6) "
            "AS alpha FROM tail"
        ),
        "clustering_coeff": _materialize(
            "WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem), "
            "pp AS (SELECT a.p AS src, b.p AS dst FROM li a JOIN li b ON a.o = b.o AND a.p < b.p "
            "GROUP BY 1, 2 HAVING COUNT(*) >= 2), "
            "tri AS (SELECT e1.src AS a, e1.dst AS b, e2.dst AS c FROM pp e1 "
            "JOIN pp e2 ON e1.dst = e2.src JOIN pp e3 ON e3.src = e1.src AND e3.dst = e2.dst), "
            "tpv AS (SELECT id, COUNT(*) AS t FROM (SELECT a AS id FROM tri "
            "UNION ALL SELECT b FROM tri UNION ALL SELECT c FROM tri) GROUP BY 1), "
            "deg AS (SELECT id, COUNT(*) AS degree FROM (SELECT src AS id FROM pp "
            "UNION ALL SELECT dst FROM pp) GROUP BY 1) "
            "SELECT deg.id, CAST(deg.degree AS BIGINT) AS degree, "
            "ROUND(2.0 * CAST(COALESCE(tpv.t, 0) AS DOUBLE) / "
            "CAST(deg.degree * (deg.degree - 1) AS DOUBLE), 6) AS coeff "
            "FROM deg LEFT JOIN tpv ON deg.id = tpv.id WHERE deg.degree >= 2"
        ),
    }


def _hex_thr(fraction: float) -> str:
    from pregel_golang_implementation_spark.operators.sampling import _hex_threshold

    return _hex_threshold(fraction)


def _corpus_mix_sql() -> str:
    cases = " ".join(
        f"WHEN '{v}' THEN {m}" for v, m in sorted(MIX_MULTIPLIERS.items())
    )
    return (
        f"WITH m AS (SELECT doc_id, source, CASE source {cases} ELSE 1.0 END AS mult "
        "FROM documents), "
        "c AS (SELECT doc_id, source, CAST(floor(mult) AS INT) + "
        "CASE WHEN substr(md5('mix|' || doc_id::VARCHAR), 1, 4) < "
        "printf('%04x', CAST(floor((mult - floor(mult)) * 65536) AS BIGINT)) "
        "THEN 1 ELSE 0 END AS n FROM m) "
        "SELECT doc_id, source, unnest(generate_series(0, n - 1)) AS copy_no "
        "FROM c WHERE n > 0"
    )


def _kcore_sql(k: int, rounds: int) -> str:
    """Twin of q_kcore: the peel recurrence unrolled — round r keeps
    vertices whose degree in the subgraph induced by round r-1's
    survivors is ≥ k (same HAVING filter the engine's
    ``kcore_peel`` applies per round)."""
    parts = [
        _E,
        _U,
        f"a1 AS (SELECT src AS id, COUNT(*) AS degree FROM u "
        f"GROUP BY 1 HAVING COUNT(*) >= {k})",
    ]
    for r in range(2, rounds + 1):
        p = f"a{r - 1}"
        parts.append(
            f"a{r} AS (SELECT u.src AS id, COUNT(*) AS degree FROM u "
            f"JOIN {p} s ON u.src = s.id JOIN {p} d ON u.dst = d.id "
            f"GROUP BY 1 HAVING COUNT(*) >= {k})"
        )
    return _materialize(
        "WITH "
        + ", ".join(parts)
        + f" SELECT id, degree::BIGINT AS degree FROM a{rounds}"
    )


