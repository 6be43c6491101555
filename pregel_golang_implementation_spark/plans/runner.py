"""The superstep runner: BSP loop as iterative DataFrame passes.

Replaces the reference's entire control plane — master barrier state
machine (/root/reference/Master.go:1014-1068), exchange phases
(Master.go:834-845), per-vertex goroutines (Worker.go:695-713), TCP
message routing (Worker.go:799-849) and the full-graph value gather
(Master.go:958-967) — with:

  superstep  = one Spark job        (DAG scheduler is the barrier)
  exchange   = one shuffle          (groupBy(dst) on the messages)
  routing    = hash partitioning    (replaces id % numWorkers, InputParsing.go:63)
  gather     = scalar metrics agg   (never collects vertex state to the driver)
  recovery   = parquet checkpoint + manifest (replaces verticesValue snapshot,
               Master.go:28, and RESTART_STATE restore, Worker.go:641-654)

Scale design (SURVEY.md §4):
  - edges are hash-partitioned by src ONCE and cached; state is produced
    partitioned by id from the combine groupBy, so the state⋈messages join
    needs no extra shuffle (P1 co-partitioning).
  - frontier/delta execution: only changed vertices scatter (P5).
  - small frontiers are broadcast to skip the scatter-join shuffle (P11).
  - every barrier is one eager localCheckpoint, so lineage is cut every
    superstep and the iterative plan never grows (P10).
  - the loop runs with AQE off: partition counts are explicit, so a
    barrier stays one Spark job and its checkpoint keeps the hash(id)
    partitioning.
  - inbox skew is absorbed by the combine's map-side partial aggregation
    (spec.combine_messages): for min/sum a hub's inbox leaves each map
    partition as ONE partial row; for mode the first exchange is keyed on
    (id, label), so a hub's votes spread over its distinct labels.
"""

from __future__ import annotations

import contextlib
import copy
import json
import math
import os
import time
from dataclasses import dataclass, field
from typing import Callable

import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, Observation, Row, SparkSession
from pyspark.sql import functions as F

from pregel_golang_implementation_spark.plans.spec import AlgorithmSpec, combine_messages

STATE_SCHEMA_DOC = "state(id: long, value: double, active: boolean, *static)"


def sum64(c: Column) -> Column:
    """The exact sum of a long column at any row count: a decimal(28,0)
    sum widens to decimal(38,0), where a long sum (ANSI mode) raises on
    overflow past 2^63 — about 4e9 hashes.  Fold it mod 2^64 on the
    driver for an order-free 64-bit digest."""
    return F.sum(c.cast("decimal(28,0)"))


@dataclass
class SuperstepMetrics:
    """Per-superstep counters (north_rule: messages sent, active vertices,
    convergence delta; the reference only ever recorded total wall time —
    Master.go:1052-1053).  Every superstep is its own barrier action, so
    each counter and ``wall_secs`` belong to exactly one step."""

    superstep: int
    active_vertices: int
    messages_sent: int
    max_delta: float
    num_vertices: int
    wall_secs: float
    globals: dict = field(default_factory=dict)

    def to_dict(self) -> dict:
        return {
            "superstep": self.superstep,
            "active_vertices": self.active_vertices,
            "messages_sent": self.messages_sent,
            "max_delta": self.max_delta,
            "num_vertices": self.num_vertices,
            "wall_secs": self.wall_secs,
            "globals": self.globals,
        }


@dataclass
class PregelResult:
    state: DataFrame  # (id, value, active, *static)
    supersteps: int
    converged: bool
    metrics: list[SuperstepMetrics]

    @property
    def total_messages(self) -> int:
        return sum(m.messages_sent for m in self.metrics)


@dataclass(frozen=True)
class Layout:
    """Edges laid out for the loop by ``PregelRunner.layout``: cached
    ``(src, dst, weight)``, hash-partitioned by src into
    ``num_partitions`` and sorted within partitions.  ``fingerprint`` is
    the order-free sum of ``xxhash64(src, dst, weight)`` over the INPUT
    edges (before the layout's transform) mod 2^64; with ``num_edges``,
    the laid-out edge count, it names the graph in a checkpoint's
    manifest."""

    edges: DataFrame
    num_partitions: int
    num_edges: int
    fingerprint: int

    @property
    def graph(self) -> dict:
        return {"edges": self.num_edges, "fingerprint": self.fingerprint}

    def unpersist(self) -> None:
        self.edges.unpersist()


class PregelRunner:
    def __init__(
        self,
        spark: SparkSession,
        spec: AlgorithmSpec,
        num_partitions: int | None = None,
        checkpoint_dir: str | None = None,
        checkpoint_every: int = 0,
    ):
        self.spark = spark
        self.spec = spec
        # None ⇒ SCALE-ADAPTIVE: resolved from the edge count at
        # layout time as min(conf, max(8, ⌈edges / 75k⌉)) — the
        # configured shuffle partitioning is an UPPER bound chosen for the
        # cluster, and a small graph (or a shrunken residual/dup graph)
        # paying one task per configured partition spends more wall on
        # task dispatch than on rows (guide §2.2/§6: size partitions to
        # the data, not to a constant; measured at sf0.1/600k edges:
        # 8 partitions beat the conf 32 by 1.5-3s per run on pagerank/CC).
        # Large graphs hit the conf cap and behave exactly as before.
        # The count is resolved per run and never written back here, so a
        # reused runner sizes each graph afresh; only when the conf is at
        # or below MIN_PARTITIONS (the formula can then only return the
        # conf) is it fixed once, here.
        self._conf_partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))
        if num_partitions is None and self._conf_partitions <= self.MIN_PARTITIONS:
            num_partitions = self._conf_partitions
        self.num_partitions = num_partitions
        self.checkpoint_dir = checkpoint_dir
        self.checkpoint_every = checkpoint_every
        # per-graph inputs stored by checkpoint(): the next run releases
        # them once its initial state is stored, so they are not pinned
        # through every superstep
        self._inputs: list[DataFrame] = []

    # ----------------------------------------------------------------- setup

    EDGES_PER_PARTITION = 75_000  # adaptive floor: ≥75k edge rows per task
    MIN_PARTITIONS = 8
    BROADCAST_FRONTIER_MAX = 100_000  # frontiers up to this size are broadcast

    def layout(
        self,
        edges: DataFrame,
        transform: Callable[[DataFrame], DataFrame] | None = None,
    ) -> Layout:
        """Lay the edges out for the loop: the one place edges are
        shuffled.  ``(src, dst, weight)`` is hash-partitioned by ``src``;
        ``transform``, if given, then reshapes it using only that
        clustering (a per-src aggregate or window adds no exchange) and
        must return the same three columns.  One Spark job persists the
        result and observes its size and fingerprint.  The caller owns
        the returned layout and releases it with ``Layout.unpersist``."""
        cols = [F.col("src").cast("long"), F.col("dst").cast("long")]
        if "weight" in edges.columns:
            cols.append(F.col("weight").cast("double"))
        else:
            cols.append(F.lit(1.0).alias("weight"))
        e = edges.select(*cols)
        with self._loop_conf():
            staged = None
            n = self.num_partitions
            if n is None:
                # size the layout to the data (scale-adaptive note in
                # __init__) WITHOUT running the edge lineage twice: cache
                # the un-laid-out edges, count them to pick the partition
                # count, then shuffle FROM the cache into the layout and
                # drop the staging cache — the lineage executes once.
                e = staged = e.persist()
                n = min(
                    self._conf_partitions,
                    max(self.MIN_PARTITIONS, math.ceil(staged.count() / self.EDGES_PER_PARTITION)),
                )
            # the graph's fingerprint, observed on the input edges as
            # they enter the layout: it depends on the input alone, not
            # on the float sums a transform may take in shuffle order
            fp = Observation()
            e = e.repartition(n, "src").observe(fp, sum64(F.xxhash64(*e.columns)).alias("fp"))
            if transform is not None:
                e = transform(e)
            # The layout is sorted within partitions so the cached edge
            # order is a function of the DATA, not of shuffle-fetch
            # interleaving: every float message-sum accumulates map-side
            # in edge order.  Bit-identical float runs of the same graph
            # (resume vs cold) also need the reduce side to merge the
            # partial sums in a fixed order, which holds in local mode
            # only — tests pin float bit-identity there and nowhere else.
            # A total order over every column, so ties can't reorder.
            e = e.sortWithinPartitions(*e.columns).persist()
            # materialize once; the fingerprint is observed on this job
            num_edges = e.count()
            if staged is not None:
                staged.unpersist()
        fingerprint = int(fp.get["fp"] or 0) % (1 << 64)
        return Layout(e, n, num_edges, fingerprint)

    @contextlib.contextmanager
    def _laid_out(self, edges: DataFrame | Layout):
        """``edges`` as a Layout: a caller's Layout as it is (the caller
        owns it), raw edges laid out here and released on the way out —
        a long-lived session runs many jobs through many runners, and
        leaked edge caches evict useful blocks."""
        if isinstance(edges, Layout):
            yield edges
            return
        lay = self.layout(edges)
        try:
            yield lay
        finally:
            lay.unpersist()

    @staticmethod
    def vertices_from_edges(edges: DataFrame) -> DataFrame:
        return (
            edges.select(F.col("src").alias("id"))
            .union(edges.select(F.col("dst").alias("id")))
            .distinct()
        )

    def _init_state(self, vertices: DataFrame) -> DataFrame:
        state = self.spec.init_fn(vertices)
        if "active" not in state.columns:
            state = state.withColumn("active", F.lit(True))
        # cast only what needs it: a no-op cast leaves an alias the
        # optimizer drops, and the barrier's checkpoint then records its
        # hash(id) partitioning under an id the next joins do not match
        types = dict(state.dtypes)
        typed = [
            F.col(c) if types[c] == t else F.col(c).cast(t).alias(c)
            for c, t in (("id", "bigint"), ("value", "double"), ("active", "boolean"))
        ]
        return state.select(*typed, *self.spec.static_cols)

    @staticmethod
    def _barrier(frame: DataFrame, obs: Observation, aggs: list, cols: list) -> DataFrame:
        """The loop's one materialization: ``aggs`` are observed on
        ``frame`` while an eager localCheckpoint stores its ``cols`` — one
        Spark job, the BSP barrier.  With AQE off the checkpoint keeps the
        frame's hash(id) partitioning, so the next superstep's joins do not
        re-shuffle state, and it cuts the lineage every step."""
        return frame.observe(obs, *aggs).select(*cols).localCheckpoint(eager=True)

    @staticmethod
    def release(barrier: DataFrame) -> None:
        """Drop a dead barrier's blocks now rather than at the JVM's next
        GC; a barrier's logical plan is the LogicalRDD over its checkpoint.
        (``RDD.unpersist`` would do the same but logs a lost-lineage
        warning for every checkpointed RDD, i.e. once per superstep.)"""
        rdd = barrier._jdf.queryExecution().logical().rdd()
        barrier.sparkSession.sparkContext._jsc.sc().unpersistRDD(rdd.id(), False)

    def checkpoint(self, frame: DataFrame, layout: Layout, *aggs: Column) -> tuple[DataFrame, Row]:
        """``frame`` stored as one eager localCheckpoint with ``aggs``
        observed on that same job, under the loop's settings for
        ``layout``: how an operator derives a per-graph input (a vertex
        set and its size) from a layout in one job.  The runner's next
        run releases the checkpoint once its initial state, which copies
        it, is stored; a caller that runs nothing releases it with
        ``release`` (releasing twice is harmless)."""
        obs = Observation("checkpoint")
        with self._loop_conf(layout.num_partitions):
            out = self._barrier(frame, obs, list(aggs), frame.columns)
        self._inputs.append(out)
        return out, obs.get

    # ------------------------------------------------------------- superstep

    def _one_superstep(
        self,
        state: DataFrame,
        edges: DataFrame,
        g: dict,
        prev_active: int,
        msg_obs: Observation,
    ) -> DataFrame:
        """One superstep's frame.  ``g`` holds the previous superstep's
        ``spec.global_aggs`` values; ``msg_obs`` counts messages on the
        pre-shuffle frame, so the combine ships no count partial."""
        spec = self.spec
        frontier = state.filter("active") if spec.use_frontier else state
        small_frontier = (
            spec.use_frontier and 0 < prev_active <= self.BROADCAST_FRONTIER_MAX
        )
        if small_frontier:
            # small frontier: ship it to every edge partition instead of
            # shuffling the (much larger) edge table (SURVEY.md §4 P11)
            frontier = F.broadcast(frontier)
        else:
            # both sides are already hash-partitioned on the join key
            # (edges by src once at setup; state by id from the previous
            # apply join) — a shuffle-hash join skips the per-superstep
            # sort that sort-merge would redo on the full edge table every
            # iteration (iterative workloads never amortize that sort)
            frontier = frontier.hint("shuffle_hash")

        # scatter: the join IS the message send (replaces Vertex.go:54-66 +
        # the worker TCP mesh Worker.go:799-849). Aliased — state lineage can
        # derive from edges (vertices_from_edges), a classic ambiguous
        # self-join otherwise.
        msgs = (
            frontier.alias("f")
            .join(edges.alias("e"), F.col("f.id") == F.col("e.src"), "inner")
            .select(
                F.col("e.dst").alias("id"),
                spec.msg_fn(F.col("f.value"), F.col("e.weight")).alias("msg"),
            )
        )
        # messages-sent observed HERE, map-side, before the partial agg
        # collapses rows — no count rides the exchange (O21)
        msgs = msgs.observe(msg_obs, F.count(F.lit(1)).alias("_msgs_sent"))
        # combine: sender-side partial agg + final agg — the exchange shuffle
        combined = combine_messages(msgs, spec.combiner)

        # apply: fold inbox into state (replaces Vertex.go:68-88); both
        # sides partitioned by id → shuffle-hash, no sort
        joined = state.join(combined.hint("shuffle_hash"), "id", "left")
        # per-superstep scalars as literals: measured faster than a
        # broadcast 1-row frame despite recompiling codegen every
        # superstep (A/B on 19M edges, local[16]: literal ~3s/step
        # steady vs column 5-33s/step)
        gcols = {k: F.lit(float(g[k] or 0.0)) for k in spec.global_aggs}
        old, msg = F.col("value"), F.col("msg")
        new = spec.apply_fn(old, msg, gcols).cast("double")
        # one projection: each DataFrame call is analysed on the spot, so
        # value, active and delta are built as one select over the join
        return joined.select(
            F.col("id"),
            *[F.col(c) for c in spec.static_cols],
            new.alias("value"),
            spec.active_fn(old, new, msg).alias("active"),
            # inf-inf would be NaN; equal values (incl. ±inf) are delta 0
            F.when(new.eqNullSafe(old), F.lit(0.0)).otherwise(F.abs(new - old)).alias("_delta"),
        )

    # ------------------------------------------------------------------ run

    @contextlib.contextmanager
    def _loop_conf(self, num_partitions: int | None = None):
        """Run with AQE off (so a barrier is one job and keeps its
        partitioning) and restore the caller's settings on the way out.
        Given a layout's ``num_partitions``, the shuffle partitions are
        pinned to it, so the message combine lands co-partitioned with
        state.  The settings are session-wide: another thread's job on
        the same session during a run sees them too."""
        conf = self.spark.conf
        keys = ("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")
        saved = {k: conf.get(k) for k in keys}
        conf.set("spark.sql.adaptive.enabled", "false")
        if num_partitions is not None:
            conf.set("spark.sql.shuffle.partitions", str(num_partitions))
        try:
            yield
        finally:
            for k, v in saved.items():
                conf.set(k, v)

    def run(
        self,
        edges: DataFrame | Layout,
        vertices: DataFrame | None = None,
        state: DataFrame | None = None,
        start_superstep: int = 0,
        max_supersteps: int | None = None,
    ) -> PregelResult:
        """Run the BSP loop to convergence (no active vertices — the
        reference's all-workers-SEND_EMPTY condition, Master.go:1044-1063)
        or to ``max_supersteps`` (``None`` ⇒ the spec's cap; 0 runs no
        superstep).  ``edges`` is raw edges, laid out for this run and
        released after it, or a caller's ``Layout``, used as it is."""
        spec = self.spec
        if max_supersteps is None:
            max_supersteps = spec.max_supersteps
        elif max_supersteps < 0:
            raise ValueError(f"max_supersteps must be >= 0, got {max_supersteps}")
        # a run may only write steps past every committed one: a fresh
        # run's snapshots would interleave with another run's (resume()
        # restarts from whichever step is highest), and a rewritten step
        # keeps its old MANIFEST.json over the new, maybe partial, files
        if self.checkpoint_dir:
            found = self.latest_checkpoint(self.checkpoint_dir)
            if found is not None and found[0] > start_superstep:
                raise ValueError(
                    f"checkpoint_dir {self.checkpoint_dir!r} already holds a "
                    f"committed snapshot at step {found[0]}: resume() it or "
                    "use an empty dir"
                )
        # the result state is a checkpoint of its own, so it never
        # depends on the layout's blocks
        with self._laid_out(edges) as lay, self._loop_conf(lay.num_partitions):
            if state is None and vertices is None:
                # derive vertices from the laid-out (cached, partitioned)
                # edges, not the raw input: the distinct reads the edge
                # cache instead of re-running the source scan lineage
                vertices = self.vertices_from_edges(lay.edges)
            return self._run_loop(lay, vertices, state, start_superstep, max_supersteps)

    def _run_loop(
        self,
        lay: Layout,
        vertices: DataFrame | None,
        state: DataFrame | None,
        start_superstep: int,
        max_steps: int,
    ) -> PregelResult:
        spec = self.spec
        global_cols = [c.alias(k) for k, c in spec.global_aggs.items()]
        if state is None:
            state = self._init_state(vertices)
        # the initial (or resumed, or caller-supplied) state goes through
        # the same barrier as every superstep; its observation yields the
        # globals that superstep 1 applies
        obs = Observation(f"superstep_{start_superstep}")
        state = self._barrier(
            state.repartition(lay.num_partitions, "id"), obs,
            [F.count(F.lit(1)).alias("_n"), *global_cols], state.columns,
        )
        g = {k: obs.get[k] for k in spec.global_aggs}
        while self._inputs:  # copied into the initial state — now dead
            self.release(self._inputs.pop())
        prev_active = -1  # unknown → don't broadcast on step 1

        metrics: list[SuperstepMetrics] = []
        step = start_superstep
        converged = False
        last_ckpt_step = None
        # metrics + global aggregates ride on the barrier via the
        # Observation API — no second pass over state (the reference
        # needs a whole master round-trip for this, Master.go:958-967)
        agg_cols = [
            F.sum(F.col("active").cast("long")).alias("_active"),
            F.max("_delta").alias("_maxdelta"),
            F.count(F.lit(1)).alias("_n"),
            *global_cols,
        ]
        state_cols = ["id", *spec.static_cols, "value", "active"]
        while step - start_superstep < max_steps:
            step += 1
            t0 = time.monotonic()
            obs = Observation(f"superstep_{step}")
            msg_obs = Observation(f"msgs_{step}")
            full = self._one_superstep(state, lay.edges, g, prev_active, msg_obs)
            new_state = self._barrier(full, obs, agg_cols, state_cols)
            wall = time.monotonic() - t0
            row = obs.get
            g = {k: row[k] for k in spec.global_aggs}
            self.release(state)  # the previous barrier's blocks — now dead
            state = new_state

            m = SuperstepMetrics(
                superstep=step,
                active_vertices=int(row["_active"] or 0),
                messages_sent=int(msg_obs.get["_msgs_sent"] or 0),
                max_delta=float(row["_maxdelta"] or 0.0),
                num_vertices=int(row["_n"]),
                wall_secs=wall,
                globals=g,
            )
            metrics.append(m)
            prev_active = m.active_vertices
            converged = m.active_vertices == 0

            if self.checkpoint_dir and self.checkpoint_every and (
                step % self.checkpoint_every == 0
            ):
                self._write_checkpoint(state, step, metrics, lay)
                last_ckpt_step = step

            if converged:
                break

        # a run that made no superstep (e.g. a resume with 0 steps left)
        # leaves the committed snapshot and its history as they were
        if self.checkpoint_dir and metrics and last_ckpt_step != step:
            self._write_checkpoint(state, step, metrics, lay)
        return PregelResult(
            state=state, supersteps=step - start_superstep, converged=converged,
            metrics=metrics,
        )

    # ----------------------------------------------------------- checkpoint

    def _write_checkpoint(
        self,
        state: DataFrame,
        step: int,
        metrics: list[SuperstepMetrics],
        lay: Layout,
    ) -> None:
        """Durable snapshot + manifest (replaces the master's verticesValue
        map, Master.go:28, and MASTER_SYNC replication, Master.go:810-821).
        The manifest is written AFTER the parquet commit and acts as the
        atomic marker (replaces the Start/Exit write-ahead marker log,
        Master.go:969-1012)."""
        path = os.path.join(self.checkpoint_dir, f"step={step:06d}")
        state_dir = os.path.join(path, "state")
        state.write.mode("overwrite").parquet(state_dir)
        # rows per state partition, from the committed files' footers (no
        # second Spark job): each task writes part-<partition>-*.parquet
        rows: dict[int, int] = {}
        for name in os.listdir(state_dir):
            if name.startswith("part-") and name.endswith(".parquet"):
                pid = int(name.split("-")[1])
                n = pq.read_metadata(os.path.join(state_dir, name)).num_rows
                rows[pid] = rows.get(pid, 0) + n
        lineage = [{"partition": p, "rows": n} for p, n in sorted(rows.items()) if n]
        manifest = {
            "algorithm": self.spec.name,
            "params": self.spec.params,
            "superstep": step,
            "num_partitions": lay.num_partitions,
            "graph": lay.graph,
            "static_cols": list(self.spec.static_cols),
            "partition_lineage": lineage,
            "counters": metrics[-1].to_dict() if metrics else {},
            "history": [m.to_dict() for m in metrics],
        }
        tmp = os.path.join(path, "MANIFEST.json.tmp")
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=2)
        os.replace(tmp, os.path.join(path, "MANIFEST.json"))

    @staticmethod
    def latest_checkpoint(checkpoint_dir: str) -> tuple[int, dict] | None:
        """Find the newest COMMITTED snapshot (manifest present)."""
        if not os.path.isdir(checkpoint_dir):
            return None
        best = None
        for name in sorted(os.listdir(checkpoint_dir)):
            mf = os.path.join(checkpoint_dir, name, "MANIFEST.json")
            if name.startswith("step=") and os.path.exists(mf):
                with open(mf) as f:
                    manifest = json.load(f)
                best = (manifest["superstep"], manifest)
        return best

    def resume(
        self, edges: DataFrame | Layout, max_supersteps: int | None = None
    ) -> PregelResult:
        """Resume from the last committed checkpoint (reference semantics:
        restart from the last completed superstep's values; in-flight
        messages are pure functions of state so re-scatter is free —
        Worker.go:641-654, SURVEY.md §4.4).  ``edges`` is taken as in
        ``run`` and must lay out to the graph the manifest names."""
        if self.checkpoint_dir is None:
            raise ValueError("resume() needs a checkpoint_dir to resume from")
        found = self.latest_checkpoint(self.checkpoint_dir)
        if found is None:
            return self.run(edges, max_supersteps=max_supersteps)
        step, manifest = found
        # a checkpoint dir written by a DIFFERENT algorithm/spec would
        # silently resume into wrong results — the manifest records
        # everything needed to refuse (reference analogue: RESTART_STATE
        # only ever restores the same hardcoded program, Worker.go:641-654;
        # a multi-algorithm engine must check).
        want = {
            "algorithm": self.spec.name,
            "params": json.loads(json.dumps(self.spec.params)),
            "static_cols": list(self.spec.static_cols),
        }
        got = {k: manifest.get(k) for k in want}
        if got != want:
            raise ValueError(
                f"checkpoint at {self.checkpoint_dir!r} was written by a "
                f"different spec: manifest has {got}, runner has {want}"
            )
        runner = self
        if self.num_partitions is None:
            # adopt the snapshot's layout — the adaptive sizing already
            # ran (and was recorded) when the checkpoint was written.  A
            # copy pinned to it runs the rest, so this runner keeps the
            # caller's setting.
            runner = copy.copy(self)
            runner.num_partitions = int(manifest["num_partitions"])
        # run()'s first barrier lays the snapshot out by hash(id), inside
        # the loop's AQE-off scope
        path = os.path.join(self.checkpoint_dir, f"step={step:06d}", "state")
        with runner._laid_out(edges) as lay:
            # the snapshot is only meaningful on the graph it was computed
            # on; a manifest that names no graph cannot vouch for one
            if manifest.get("graph") != lay.graph:
                raise ValueError(
                    f"checkpoint at {self.checkpoint_dir!r} was written for a "
                    f"different graph: manifest has {manifest.get('graph')}, "
                    f"the edges lay out to {lay.graph}"
                )
            return runner.run(
                lay, state=self.spark.read.parquet(path), start_superstep=step,
                max_supersteps=max_supersteps,
            )
