"""Sequence packing — map every document into the fixed-capacity
training sequences it will occupy after GPT-style concat-and-chop.

LLM pretraining packs the tokenized corpus by concatenating documents
in a fixed order and chopping the stream into capacity-C sequences; the
pipeline question per document is "which sequences does it land in, at
what offset".  That is a GLOBAL exclusive prefix sum of token counts
over a deterministic document order — the one primitive naive Spark
does through a single-reducer `row_number OVER (ORDER BY …)` window,
which dies at scale.

Spark-first shape:

  1. one range Exchange on the deterministic shuffle key
     (md5(doc_id), doc_id) — md5 gives a corpus-shuffling order that is
     reproducible in any engine, and range partitioning makes partition
     i hold a contiguous key span;
  2. per-partition token-sum pass → P tiny rows to the driver, turned
     into per-partition prefix offsets (the documented metadata-collect
     class, plans/runner.py:562);
  3. per-partition cumulative-sum windows (partitioned by partition id,
     fully parallel) + the broadcast offset map = exact global prefix;
  4. sequence ids are integer arithmetic on the prefix: start/C and
     (start+tokens−1)/C — integer-exact, no FP anywhere.

At 100 TB this is one range shuffle + one window pass; the driver sees
P longs.  The same two-phase trick serves any "global running total"
need (file splits, shard manifests, byte offsets)."""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def pack_sequences(
    df: DataFrame,
    capacity: int,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
    num_ranges: int = 64,
) -> DataFrame:
    """(doc_id, start_token, first_seq, last_seq, n_seqs) — position of
    each document in the packed token stream: documents are concatenated
    in (md5(doc_id), doc_id) order and chopped into ``capacity``-token
    sequences; a long document may straddle several.  Zero-token rows
    are excluded.  Integer-exact and deterministic."""
    if capacity < 1:
        raise ValueError(f"capacity must be ≥ 1, got {capacity}")
    keyed = (
        df.select(
            F.col(id_col).cast("long").alias("id"),
            F.col(tokens_col).cast("long").alias("tokens"),
        )
        .filter(F.col("tokens") > 0)
        .withColumn("_h", F.md5(F.col("id").cast("string")))
        .repartitionByRange(num_ranges, "_h", "id")
    )
    keyed.persist()
    try:
        counts = {
            r["p"]: r["s"]
            for r in keyed.groupBy(F.spark_partition_id().alias("p"))
            .agg(F.sum("tokens").alias("s"))
            .collect()
        }
        offsets: dict[int, int] = {}
        acc = 0
        for pid in range(num_ranges):
            offsets[pid] = acc
            acc += counts.get(pid, 0)
        offset_expr = F.create_map(
            *[F.lit(x) for pid in range(num_ranges) for x in (pid, offsets[pid])]
        )
        w = (
            Window.partitionBy("_pid")
            .orderBy("_h", "id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        start = (
            F.sum("tokens").over(w) - F.col("tokens") + offset_expr[F.col("_pid")]
        ).cast("long")
        out = (
            keyed.withColumn("_pid", F.spark_partition_id())
            .withColumn("start_token", start)
            .select(
                F.col("id").alias(id_col),
                "start_token",
                F.floor(F.col("start_token") / capacity)
                .cast("long")
                .alias("first_seq"),
                F.floor((F.col("start_token") + F.col("tokens") - 1) / capacity)
                .cast("long")
                .alias("last_seq"),
            )
            .withColumn(
                "n_seqs", (F.col("last_seq") - F.col("first_seq") + 1).cast("long")
            )
        )
        # materialize before unpersisting the range-partitioned input
        return out.localCheckpoint(eager=True)
    finally:
        keyed.unpersist()
