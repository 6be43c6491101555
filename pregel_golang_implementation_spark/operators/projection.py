"""Bipartite projection: collapse an (entity, container) membership
table into an entity–entity co-occurrence graph.

This is how link graphs get BUILT in the first place — parts sharing an
order become a co-purchase graph, documents sharing a domain a
co-citation graph, tokens sharing a window a co-occurrence graph — and
it feeds every downstream operator in this repo (PageRank, CC, link
prediction) that assumes an edge table already exists.

Scale shape — the by-now-standard wedge discipline
(link_prediction.py): pair generation is a self-join keyed by the
container, so work is Σ_c size(c)² and one mega-container detonates it
quadratically.  Containers above ``max_container_size`` are excluded up
front (an order containing every part says nothing about any specific
pair — the stop-word cut), NEVER silently: the cut is logged with a
count.  Pair counting is one (a, b)-keyed aggregate with map-side
combine; the optional per-entity top-k windows on the entity id.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

log = logging.getLogger(__name__)


def cooccurrence_topk(
    membership: DataFrame,
    k: int = 3,
    max_container_size: int | None = 100,
    container_col: str = "container",
    entity_col: str = "entity",
) -> DataFrame:
    """(id, candidate, n_shared, rank) — for each entity, the ``k``
    co-members sharing the most (cap-eligible) containers; deterministic
    ties → smaller candidate id.  ``membership`` rows must be distinct
    (entity, container) pairs."""
    # pinned: m feeds the size aggregate (+ its count action) and both
    # self-join legs; counted is mirrored twice below (r6 — no exchange
    # reuse fires in this build)
    m = membership.select(
        F.col(entity_col).alias("entity"), F.col(container_col).alias("container")
    ).localCheckpoint(eager=False)
    if max_container_size is not None:
        sizes = m.groupBy("container").agg(F.count(F.lit(1)).alias("_n"))
        dropped = sizes.filter(F.col("_n") > max_container_size).count()
        if dropped:
            log.warning(
                "cooccurrence_topk: %d containers above size cap %d excluded "
                "from pair generation (stop-word cut)",
                dropped,
                max_container_size,
            )
        m = m.join(
            sizes.filter(F.col("_n") <= max_container_size).select("container"),
            "container",
        ).localCheckpoint(eager=False)
    pairs = (
        m.alias("l")
        .join(m.alias("r"), F.col("l.container") == F.col("r.container"))
        .filter(F.col("l.entity") < F.col("r.entity"))
        .select(F.col("l.entity").alias("a"), F.col("r.entity").alias("b"))
    )
    counted = pairs.groupBy("a", "b").agg(
        F.count(F.lit(1)).alias("n_shared")
    ).localCheckpoint(eager=False)
    mirrored = counted.select(
        F.col("a").alias("id"), F.col("b").alias("candidate"), "n_shared"
    ).unionByName(
        counted.select(
            F.col("b").alias("id"), F.col("a").alias("candidate"), "n_shared"
        )
    )
    w = Window.partitionBy("id").orderBy(F.desc("n_shared"), F.asc("candidate"))
    return (
        mirrored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "id", "candidate", "n_shared", F.col("rank").cast("long").alias("rank")
        )
    )
