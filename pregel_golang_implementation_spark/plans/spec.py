"""Algorithm specification: the vertex program as Column expressions.

The reference's only extension point is the hand-written Go vertex program
``Compute()`` (/root/reference/Vertex.go:68-88) plus its scatter
``SendMessageToWorker()`` (Vertex.go:54-66).  Here an algorithm is a pure
declarative 5-tuple — (init, msg, combiner kind, apply, halt) — over DataFrame
columns, so Catalyst/Tungsten (codegen, map-side partial aggregation)
execute it; no per-row Python anywhere on the hot path.  The loop runs with
AQE off (plans/runner.py), so nothing here relies on it: the partial
aggregate below the exchange is what absorbs a hub's inbox skew.

Semantics contract (mirrors the reference's superstep, minus its races —
SURVEY.md §2.3, §7 "hard parts (f)"):
  msg       = msg_fn(value(src), weight(src→dst))       # scatter, Vertex.go:56-61
  inbox(v)  = fold(combiner) over all msgs targeting v  # fold, Vertex.go:71-80
  value'    = apply_fn(value(v), inbox(v), globals)     # relax, Vertex.go:74-77
  active'   = active_fn(value, value', inbox)           # vote-to-halt, Worker.go:707
  halt when no vertex is active                          # Master.go:1044-1063
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# (src_value, edge_weight) -> message value
MsgFn = Callable[[Column, Column], Column]
# (old_value, combined_msg_or_null, globals) -> new value.  Globals reach
# apply as Column literals: the previous superstep's ``global_aggs``.
ApplyFn = Callable[[Column, Column, dict], Column]
# (old_value, new_value, combined_msg_or_null) -> active boolean
ActiveFn = Callable[[Column, Column, Column], Column]

# The combiner kinds: algebraic folds (min for CC/SSSP, sum for PageRank)
# and the mode vote (label propagation).
FOLDS = {"min": F.min, "sum": F.sum}
COMBINERS = (*FOLDS, "mode")


def _mode_argmax(counts: DataFrame) -> DataFrame:
    """(id, msg, cnt) partial counts → (id, msg): the winner
    is max by (cnt, -msg), i.e. most frequent label with deterministic
    ties → smallest label, as ONE algebraic aggregate (struct ordering
    is field-lexicographic).  Replaces the earlier row_number window:
    an aggregate partial-combines map-side and has no per-id sort, so a
    hub vertex whose inbox holds millions of distinct labels costs one
    running max per map partition instead of a single-task sort of all
    its (label, count) rows — the window was the last reducer-skew
    point in the LPA plan."""
    return (
        counts.groupBy("id")
        .agg(F.max(F.struct(F.col("cnt"), (-F.col("msg")).alias("_neg"))).alias("_w"))
        .select("id", (-F.col("_w._neg")).alias("msg"))
    )


def combine_messages(msgs: DataFrame, kind: str) -> DataFrame:
    """Fold messages (id, msg) into exactly one (id, msg) row per target
    id — the superstep's exchange.  Spark's partial+final hash
    aggregation gives the sender-side combine the reference lacks (it
    folds at the receiver only, Vertex.go:71-80; SURVEY.md §4 P2).  No
    message count rides the exchange: the runner counts on the
    pre-shuffle message frame.

    The partial aggregate is also the skew handling (SURVEY.md §4 P7; the
    reference routes a hub's whole inbox to one worker, Worker.go:821):
    for min/sum a hub's inbox leaves each map partition as ONE partial
    row, so the reducer sees at most one row per map partition; for mode
    the first exchange is keyed on (id, label), so a hub's votes spread
    over its distinct labels and reach the argmax as (label, cnt)
    partials."""
    if kind == "mode":
        # count per (id, label), then argmax per id: both algebraic and
        # map-side combinable, no window, no Python
        counts = msgs.groupBy("id", "msg").agg(F.count(F.lit(1)).alias("cnt"))
        return _mode_argmax(counts)
    return msgs.groupBy("id").agg(FOLDS[kind]("msg").alias("msg"))


def default_active(old: Column, new: Column, msg: Column) -> Column:
    """Reference halt-voting: a vertex stays active iff its value changed
    this superstep (Vertex.go:82-85 'updated' + Worker.go:707 IDLE)."""
    return ~(new.eqNullSafe(old))


@dataclass
class AlgorithmSpec:
    """A Pregel vertex program as declarative column expressions.

    ``init_fn`` takes the vertices DataFrame (at least column ``id``) and
    returns (id, value [, static columns...]).  Static columns listed in
    ``static_cols`` (e.g. a dangling flag for PageRank) are carried through
    every superstep unchanged.  ``combiner`` names the fold over each
    vertex's inbox, one of ``COMBINERS``; ``combine_messages`` builds the
    exchange from it.
    """

    name: str
    init_fn: Callable[[DataFrame], DataFrame]
    msg_fn: MsgFn
    combiner: str
    apply_fn: ApplyFn
    active_fn: ActiveFn = default_active
    static_cols: tuple[str, ...] = ()
    # scatter only changed vertices (delta/frontier execution — SURVEY.md §4 P5).
    # Must be False when the combiner needs messages from ALL neighbors
    # every round (e.g. mode for LPA), not just changed ones.
    use_frontier: bool = True
    # name -> state aggregate recomputed each superstep, available to
    # apply_fn via the globals dict (e.g. PageRank dangling mass).
    global_aggs: dict[str, Column] = field(default_factory=dict)
    max_supersteps: int = 200
    params: dict = field(default_factory=dict)

    def __post_init__(self):
        if self.combiner not in COMBINERS:
            raise ValueError(
                f"unknown combiner {self.combiner!r}; expected one of {COMBINERS}"
            )
