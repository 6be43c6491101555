"""Graph sources: synthetic seeded generators, testdata-derived edge
tables and the reference's native JSON fixture loader.

Replaces the reference's single hardcoded source (``ParseInput`` over
``Test/SampleNodes50.json`` — /root/reference/InputParsing.go:39-54,
Master.go:774) with proper pluggable sources.
"""

from __future__ import annotations

import json
import random

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

EDGE_SCHEMA = T.StructType(
    [
        T.StructField("src", T.LongType(), False),
        T.StructField("dst", T.LongType(), False),
        T.StructField("weight", T.DoubleType(), False),
    ]
)


# --------------------------------------------------------------- synthetic

def synthetic_edges(
    spark: SparkSession,
    num_vertices: int,
    avg_degree: int = 8,
    seed: int = 42,
    weight_max: int = 15,
    hub_fraction: float = 0.0,
    hub_degree: int = 0,
    num_partitions: int | None = None,
    dst_skew: float = 0.0,
) -> DataFrame:
    """Deterministic seeded random digraph, generated DISTRIBUTED (each
    partition seeds its own RNG from (seed, partition) — no driver-side
    materialization, scales to any size).  The reference generator is
    unseeded and driver-bound (Test/generate.py:1-20) — fixed here per
    FIXTURES.md.  ``hub_fraction``/``hub_degree`` add high-OUT-degree hub
    vertices to exercise skew handling (SURVEY.md §4 P7).

    ``dst_skew`` (a ≥ 1) draws DESTINATIONS Zipf-like instead of
    uniformly: dst = floor(n · U^a) for uniform U, giving a power-law
    in-degree distribution (density ∝ d^-(1 + a/(a-1)); a=4 → exponent
    ≈2.33, the web-graph range) with vertex 0 the heaviest hub — it receives
    a n^(-1/a) fraction of ALL edges (a=4, n=2M → 2.7%): the inbox-skew
    regime that the combine's map-side partial aggregation absorbs
    (``plans.spec.combine_messages``).  0 disables (uniform).
    """
    n_parts = num_partitions or max(8, int(spark.conf.get("spark.sql.shuffle.partitions")))
    hubs = int(num_vertices * hub_fraction)

    def gen(pid_iter):
        import pandas as pd

        for pdf in pid_iter:
            for pid in pdf["pid"]:
                rng = random.Random(seed * 1_000_003 + int(pid))
                lo = num_vertices * int(pid) // n_parts
                hi = num_vertices * (int(pid) + 1) // n_parts
                srcs, dsts, ws = [], [], []
                for v in range(lo, hi):
                    deg = hub_degree if (hubs and v < hubs) else max(
                        1, int(rng.expovariate(1.0 / avg_degree))
                    )
                    for _ in range(deg):
                        if dst_skew > 0:
                            u = min(
                                int(num_vertices * (rng.random() ** dst_skew)),
                                num_vertices - 1,
                            )
                        else:
                            u = rng.randrange(num_vertices)
                        if u == v:
                            continue
                        srcs.append(v)
                        dsts.append(u)
                        ws.append(float(rng.randint(1, weight_max)))
                yield pd.DataFrame({"src": srcs, "dst": dsts, "weight": ws})

    pids = spark.range(n_parts).select(F.col("id").alias("pid")).repartition(n_parts, "pid")
    return pids.mapInPandas(gen, schema=EDGE_SCHEMA).dropDuplicates(["src", "dst"])


# ------------------------------------------------------- testdata-derived

def edges_from_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bipartite order↔part graph from the driver's lineitem table:
    src=l_orderkey, dst=10_000_000 + l_partkey, weight=l_linenumber.
    Deterministic, DuckDB-expressible (for oracle_sql twins)."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.select(
            F.col("l_orderkey").cast("long").alias("src"),
            (F.lit(10_000_000) + F.col("l_partkey")).cast("long").alias("dst"),
            F.col("l_linenumber").cast("double").alias("weight"),
        )
        # deterministic weight per (src,dst) — dropDuplicates would keep an
        # arbitrary row's weight and break oracle comparison
        .groupBy("src", "dst")
        .agg(F.min("weight").alias("weight"))
    )


def parity_edges_from_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CYCLIC directed graph from lineitem: odd line numbers point
    order→part, even line numbers point part→order, so the bipartite
    structure closes real directed cycles (an order with both an odd and
    an even line participates in one).  The plain order→part derivation
    (``edges_from_lineitem``) is acyclic by construction — every SCC is
    a singleton — so directed-reachability operators (SCC) need this
    view.  Distinct, unweighted + weight=1.0, DuckDB-expressible."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    odd = F.col("l_linenumber") % 2 == 1
    part = (F.lit(10_000_000) + F.col("l_partkey")).cast("long")
    okey = F.col("l_orderkey").cast("long")
    return (
        li.select(
            F.when(odd, okey).otherwise(part).alias("src"),
            F.when(odd, part).otherwise(okey).alias("dst"),
        )
        .distinct()
        .withColumn("weight", F.lit(1.0))
    )


def temporal_edges_from_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric temporal contact edges: the order↔part interaction
    happens on the order's date.  (src, dst, weight = epoch micros of
    o_orderdate as an exact integer-valued double — the repo's UTC
    unix_micros/epoch_us cross-engine trick).  Per direction pair the
    earliest contact wins (MIN), deterministic for the oracle twin."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    base = li.join(o, li["l_orderkey"] == o["o_orderkey"]).select(
        F.col("l_orderkey").cast("long").alias("src"),
        (F.lit(10_000_000) + F.col("l_partkey")).cast("long").alias("dst"),
        # parquet NTZ timestamp → session-TZ timestamp (session is pinned
        # UTC) → micros: equals DuckDB's epoch_us on the naive value
        F.unix_micros(F.col("o_orderdate").cast("timestamp"))
        .cast("double")
        .alias("weight"),
    )
    rev = base.select(
        F.col("dst").alias("src"), F.col("src").alias("dst"), "weight"
    )
    return (
        base.unionByName(rev).groupBy("src", "dst").agg(F.min("weight").alias("weight"))
    )


# ----------------------------------------------- reference fixture loader

def load_reference_graph(spark: SparkSession, json_path: str) -> DataFrame:
    """Load the reference's native fixture shape — a JSON object keyed by
    stringified vertex id, values {ID, edges: {neighbor: weight}}
    (InputParsing.go:11-14, 27-37; FIXTURES.md F1) — as an edge DataFrame.

    Fixtures are small driver-side files (≤700 vertices), so a driver parse
    + parallelize is appropriate here; real corpora come from parquet.
    """
    with open(json_path) as f:
        nodes = json.load(f)
    rows = [
        (int(nid), int(nbr), float(w))
        for nid, node in nodes.items()
        for nbr, w in node["edges"].items()
    ]
    return spark.createDataFrame(rows, schema=EDGE_SCHEMA)
