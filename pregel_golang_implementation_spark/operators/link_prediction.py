"""Common-neighbors link prediction over an undirected graph.

The classic local link-prediction score (Liben-Nowell & Kleinberg 2003):
rank non-adjacent vertex pairs by how many neighbors they share.  On a
link graph this drives "related pages"; on a co-occurrence graph,
entity suggestion.

Scale shape: candidate pairs are generated through WEDGES (two edges
sharing a middle vertex), so the work is Σ_m deg(m)², which a hub
middle detonates quadratically.  Middles above ``max_middle_degree``
are therefore excluded up front — the standard stop-word cut for this
score: a vertex adjacent to millions says nothing about any specific
pair's affinity, exactly like a shingle shared by every document.  The
cut is NEVER silent: excluded middles are counted and reported via
``lp_report``.  Counting is one (a, b)-keyed aggregate with map-side
combine; existing edges leave via an anti-join; the per-vertex top-k
window partitions on the vertex id.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

log = logging.getLogger(__name__)


def adamic_adar_topk(
    und_edges: DataFrame,
    k: int = 3,
    max_middle_degree: int | None = 100,
) -> DataFrame:
    """(id, candidate, score, rank) — Adamic–Adar link prediction: rank
    non-adjacent pairs by Σ_m 1/ln(deg(m)) over shared neighbors m, so
    rare shared neighbors count more than promiscuous ones (Adamic &
    Adar 2003).  Same wedge generation, middle-degree stop-word cut, and
    per-vertex top-k as ``common_neighbor_topk``; every wedge middle has
    deg ≥ 2, so ln(deg) > 0 always.

    Determinism: the per-pair score is a double sum whose partition
    order is not fixed, so ranking compares ROUND(score, 6) (ties →
    smaller candidate id) and the returned score is the same rounded
    value — last-ulp drift can never flip the hash-compared rank.
    """
    # e feeds the degree aggregate, the wedge build and the non-edge
    # anti-join; e_mid self-joins; non_edges is mirrored twice — pin all
    # three (no exchange reuse in this build, r6) and release e after the
    # top-k result is materialized
    e = und_edges.select("src", "dst").persist()
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("_d"))
    if max_middle_degree is not None:
        dropped = deg.filter(F.col("_d") > max_middle_degree).count()
        if dropped:
            log.warning(
                "adamic_adar_topk: %d middle vertices above degree cap %d "
                "excluded from wedge generation",
                dropped,
                max_middle_degree,
            )
        mid_deg = deg.filter(F.col("_d") <= max_middle_degree)
    else:
        mid_deg = deg
    # each eligible middle carries its Adamic–Adar weight into the wedge;
    # degree-1 middles can't form a wedge anyway and would make ln(deg)=0
    # a hard ANSI divide-by-zero in this projection, so cut them first
    e_mid = (
        e.join(mid_deg.filter(F.col("_d") >= 2), "src")
        .withColumn("_w", F.lit(1.0) / F.log(F.col("_d").cast("double")))
        .localCheckpoint(eager=False)
    )
    pairs = (
        e_mid.alias("l")
        .join(e_mid.alias("r"), F.col("l.src") == F.col("r.src"))
        .filter(F.col("l.dst") < F.col("r.dst"))
        .select(F.col("l.dst").alias("a"), F.col("r.dst").alias("b"), F.col("l._w"))
    )
    scored = pairs.groupBy("a", "b").agg(
        F.round(F.sum("_w"), 6).alias("score")
    )
    non_edges = scored.join(
        e.select(F.col("src").alias("a"), F.col("dst").alias("b")),
        ["a", "b"],
        "left_anti",
    ).localCheckpoint(eager=False)
    mirrored = non_edges.select(
        F.col("a").alias("id"), F.col("b").alias("candidate"), "score"
    ).unionByName(
        non_edges.select(
            F.col("b").alias("id"), F.col("a").alias("candidate"), "score"
        )
    )
    w = Window.partitionBy("id").orderBy(F.desc("score"), F.asc("candidate"))
    out = (
        mirrored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "id", "candidate", "score", F.col("rank").cast("long").alias("rank")
        )
    )
    try:
        return out.localCheckpoint(eager=True)
    finally:
        e.unpersist()


def common_neighbor_topk(
    und_edges: DataFrame,
    k: int = 3,
    max_middle_degree: int | None = 100,
) -> DataFrame:
    """(id, candidate, common, rank) — for each vertex, the ``k``
    non-adjacent vertices sharing the most (cap-eligible) neighbors;
    deterministic ties → smallest candidate id.  ``und_edges`` must be
    symmetric (both directions present)."""
    # same pin discipline as adamic_adar_topk (r6)
    e = und_edges.select("src", "dst").persist()
    if max_middle_degree is not None:
        deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("_d"))
        dropped = deg.filter(F.col("_d") > max_middle_degree).count()
        if dropped:
            log.warning(
                "common_neighbor_topk: %d middle vertices above degree cap %d "
                "excluded from wedge generation (stop-word cut — raise "
                "max_middle_degree to include them)",
                dropped,
                max_middle_degree,
            )
        e_mid = e.join(
            deg.filter(F.col("_d") <= max_middle_degree).select("src"), "src"
        ).localCheckpoint(eager=False)
    else:
        e_mid = e
    # wedges through each eligible middle m: (a — m — b), a < b
    pairs = (
        e_mid.alias("l")
        .join(e_mid.alias("r"), F.col("l.src") == F.col("r.src"))
        .filter(F.col("l.dst") < F.col("r.dst"))
        .select(F.col("l.dst").alias("a"), F.col("r.dst").alias("b"))
    )
    common = pairs.groupBy("a", "b").agg(F.count(F.lit(1)).alias("common"))
    # drop pairs that are already edges (a<b ordering matches one direction
    # of the symmetric edge list)
    non_edges = common.join(
        e.select(F.col("src").alias("a"), F.col("dst").alias("b")),
        ["a", "b"],
        "left_anti",
    ).localCheckpoint(eager=False)
    # per-vertex view: each surviving pair scores both endpoints
    mirrored = non_edges.select(
        F.col("a").alias("id"), F.col("b").alias("candidate"), "common"
    ).unionByName(
        non_edges.select(
            F.col("b").alias("id"), F.col("a").alias("candidate"), "common"
        )
    )
    w = Window.partitionBy("id").orderBy(F.desc("common"), F.asc("candidate"))
    out = (
        mirrored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "id", "candidate", "common", F.col("rank").cast("long").alias("rank")
        )
    )
    try:
        return out.localCheckpoint(eager=True)
    finally:
        e.unpersist()
