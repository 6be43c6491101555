"""Batch event-log operators: tumbling-window stats and gap sessionization.

A training-data pipeline reprocesses and backfills its
interaction/event logs in batch.  All built-in column expressions; exact SQL twins in the DuckDB oracle.

Timestamps are reported as epoch seconds (long): integer-exact across
engines, no timezone-rendering ambiguity in the value hash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# JSON property extraction via regex — portable to any engine without a
# JSON extension; swap for get_json_object/json_extract in deployments
# that standardize on one engine.
_PROP_K_RE = r'"k":\s*(\d+)'


def _decimal_sum(col: str, scale: int = 6):
    """Order-independent money-style sum: cast each double to
    decimal(38,9) (one deterministic per-value rounding), sum exactly in
    decimal (addition is associative — no partition-order ulp drift), then
    round to ``scale`` and return double.  A plain ``round(sum(double))``
    can flip the last digit depending on which partition's partial lands
    first, which a value-hash correctness gate sees as a wrong answer."""
    return F.round(F.sum(F.col(col).cast("decimal(38,9)")), scale).cast("double")


def event_window_stats(
    events: DataFrame, window: str = "1 hour", ts_col: str = "ts"
) -> DataFrame:
    """(window_start, event_type, n, total_value, avg_k) — tumbling-window
    aggregate over the event log; ``avg_k`` exercises JSON-prop
    extraction from the ``props`` string column.

    Scale shape: one hash aggregate keyed by (window, event_type) —
    partial+final, uniform keys (time advances, types are few); the
    window assignment is a pure projection (``F.window``), so the scan
    streams.  window_start = epoch seconds of the bucket start."""
    return (
        events.groupBy(
            F.window(F.col(ts_col), window).alias("_w"), F.col("event_type")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            _decimal_sum("value").alias("total_value"),
            # try_cast: regexp_extract yields '' (not NULL) for an event
            # whose props has no "k" — under ANSI (Spark 4 default) a plain
            # cast('' as long) hard-fails the job; try_cast → NULL → avg
            # skips the event, matching the oracle's TRY_CAST(NULLIF(...))
            F.round(
                F.avg(
                    F.regexp_extract(F.col("props"), _PROP_K_RE, 1).try_cast("long")
                ),
                6,
            ).alias("avg_k"),
        )
        .select(
            F.unix_timestamp(F.col("_w.start")).alias("window_start"),
            "event_type",
            "n",
            "total_value",
            "avg_k",
        )
    )


def sessionize(
    events: DataFrame, gap_minutes: int = 30, ts_col: str = "ts"
) -> DataFrame:
    """(user_id, session_no, n_events, start_ts, end_ts, total_value) —
    gap-based sessionization: a new session starts when a user's
    inter-event gap exceeds ``gap_minutes``.  session_no is 1-based per
    user in time order.

    Classic two-window shape (lag → boundary flag → running sum), both
    windows partitioned by user_id — keys fan out across all reducers;
    per-task work is bounded by the busiest single user's event count
    (an event log's whales are ~1e4-1e6 events, not corpus-scale; for a
    pathological firehose user, pre-split by day first).  Ties on ts
    break by event_id so sessions are deterministic."""
    gap = gap_minutes * 60
    epoch = F.unix_timestamp(F.col(ts_col))
    # order by the SAME epoch-seconds key the gap uses (not the raw
    # microsecond timestamp) so session assignment is bit-identical in
    # any engine computing on epoch seconds
    w = Window.partitionBy("user_id").orderBy(epoch, "event_id")
    prev = F.lag(epoch).over(w)
    new_sess = F.when(
        prev.isNull() | ((epoch - prev) > gap), F.lit(1)
    ).otherwise(F.lit(0))
    flagged = events.withColumn("_new", new_sess).withColumn(
        "_sess",
        F.sum("_new").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return flagged.groupBy("user_id", F.col("_sess").alias("session_no")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min(epoch).alias("start_ts"),
        F.max(epoch).alias("end_ts"),
        _decimal_sum("value").alias("total_value"),
    )


def funnel(
    events: DataFrame,
    steps: tuple[str, ...] = ("view", "click", "purchase"),
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """(user_id, t_<step>_us ..., depth) — ordered-funnel analysis: for
    each user, the earliest time each step was reached STRICTLY AFTER
    the previous step's reach time, and the number of steps completed in
    order.  Unreached steps report -1 (not NULL — keeps the column int64
    in pandas/Arrow on both engines).

    Scale shape: one type-filtered aggregate per funnel step, each a
    map-side-combinable min keyed by user_id (uniform), chained with
    user_id-keyed joins — every join key is the same, so a cluster
    co-partitions all of them under one exchange reuse.  No windows, no
    per-user event sorting: an n-step funnel costs n filtered aggs, not
    a sort of the whole log.  Timestamps compare in integer
    microseconds, so "strictly after" is exact in any engine.
    """
    # parquet timestamps arrive as TIMESTAMP_NTZ; the session pins
    # spark.sql.session.timeZone=UTC (session.py:61), so the cast is a
    # micros-preserving relabel and unix_micros matches DuckDB epoch_us
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    # pinned: each funnel step scans the typed events and references the
    # accumulated `out` twice (stage filter + left join), so the plan
    # would double per step without the per-step pin (r6 — the repo's
    # standard plan-doubling guard)
    ev = events.select(
        "user_id", F.col(type_col).alias("_ty"), us.alias("_t")
    ).localCheckpoint(eager=False)
    base = ev.select(F.col("user_id")).distinct()
    out = base
    prev_col = None
    for step in steps:
        col = f"t_{step}_us"
        stage = ev.filter(F.col("_ty") == step).select("user_id", "_t")
        if prev_col is not None:
            stage = stage.join(
                out.select("user_id", prev_col), "user_id"
            ).filter(
                (F.col(prev_col) >= 0) & (F.col("_t") > F.col(prev_col))
            )
        reached = stage.groupBy("user_id").agg(F.min("_t").alias(col))
        out = out.join(reached, "user_id", "left").withColumn(
            col, F.coalesce(F.col(col), F.lit(-1)).cast("long")
        ).localCheckpoint(eager=False)
        prev_col = col
    depth = sum(
        (F.col(f"t_{s}_us") >= 0).cast("long") for s in steps
    )
    return out.withColumn("depth", depth)


def last_touch(
    events: DataFrame,
    target: str = "purchase",
    touch: str = "view",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """(event_id, user_id, t_target_us, t_touch_us, gap_us) — as-of
    attribution: for every ``target`` event, the most recent ``touch``
    event by the same user STRICTLY BEFORE it (-1 when none) — the
    as-of-join shape (point-in-time lookup) expressed as one running
    window maximum instead of an inequality join: a conditional max over
    rows-preceding is a single pass per user in time order, where the
    naive target×touch inequality join is quadratic in events-per-user.

    Window keys are user_id (uniform); ordering is (epoch µs, event_id)
    so simultaneous events resolve deterministically in any engine.
    """
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    w = (
        Window.partitionBy("user_id")
        .orderBy(us, "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prior_touch = F.max(F.when(F.col(type_col) == touch, us)).over(w)
    out = events.withColumn("_t", us).withColumn(
        "_last", F.coalesce(prior_touch, F.lit(-1))
    )
    return out.filter(F.col(type_col) == target).select(
        "event_id",
        "user_id",
        F.col("_t").alias("t_target_us"),
        F.col("_last").cast("long").alias("t_touch_us"),
        F.when(F.col("_last") >= 0, F.col("_t") - F.col("_last"))
        .otherwise(F.lit(-1))
        .cast("long")
        .alias("gap_us"),
    )
