"""The benchmark's two workloads.

``pagerank-uniform`` puts the runner's full-scatter superstep loop under
load; ``corpus-linkgraph`` runs the corpus-to-graph pipeline, where
``sources`` and the checkpoint/resume path do most of the work.  Each
workload makes its input from a seed (written to parquet once per
seed, with its oracle beside it), loads that input into a session, runs
its job through the engine's public API (``sources`` → ``operators`` →
``plans.runner``) and checks every output against the oracle.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from pregel_golang_implementation_spark import operators
from pregel_golang_implementation_spark import sources
from pregel_golang_implementation_spark.operators.connected_components import symmetrize
from pregel_golang_implementation_spark.plans import PregelRunner

import corpus_gen
import oracles

PR_TOL = 1e-6
EDGE_FILES = 8  # parquet parts of an edge table


class NullTracer:
    def span(self, name):
        return contextlib.nullcontext({"attrs": {}})


NULL_TRACER = NullTracer()


def uniform_digraph(n: int, seed: int) -> tuple[np.ndarray, np.ndarray]:
    """Seeded simple digraph on ids 0..n-1: every vertex draws 8 uniform
    destinations, then self-loops and duplicates are dropped.  The fixed
    out-degree makes PageRank halt after the same number of supersteps on
    every seed, so seeds vary the data but not the amount of work."""
    rng = np.random.default_rng(seed)
    src = np.repeat(np.arange(n, dtype=np.int64), 8)
    dst = rng.integers(0, n, len(src), dtype=np.int64)
    pairs = np.unique(np.stack([src, dst], axis=1)[src != dst], axis=0)
    return pairs[:, 0], pairs[:, 1]


def _write_edges(path: str, src: np.ndarray, dst: np.ndarray) -> None:
    """Edge table (src, dst, weight) as ``EDGE_FILES`` parquet parts, rows shuffled."""
    os.makedirs(path)
    order = np.random.default_rng(len(src)).permutation(len(src))
    weight = 1.0 + (src * 7 + dst) % 15
    for i, part in enumerate(np.array_split(order, EDGE_FILES)):
        pq.write_table(
            pa.table({"src": src[part], "dst": dst[part], "weight": weight[part].astype(np.float64)}),
            os.path.join(path, f"part-{i:05d}.parquet"),
        )


def _graph_stats(src: np.ndarray, dst: np.ndarray) -> dict:
    ids = np.unique(np.concatenate([src, dst]))
    return {
        "vertices": int(len(ids)),
        "edges": int(len(src)),
        "max_in_degree": int(np.bincount(np.searchsorted(ids, dst)).max()),
    }


def _dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total


class Workload:
    name = ""

    def __init__(self, scale: dict):
        self.scale = scale

    # ---------------------------------------------------------------- input

    def prepare(self, data_dir: str, seed: int) -> dict:
        """Make the seed's input and oracle unless already cached; returns
        the input stats.  ``meta.json`` is written last, as the marker."""
        meta_path = os.path.join(data_dir, "meta.json")
        if not os.path.exists(meta_path):
            shutil.rmtree(data_dir, ignore_errors=True)
            os.makedirs(data_dir)
            stats = self._generate(data_dir, seed)
            with open(meta_path + ".tmp", "w") as f:
                json.dump(stats, f)
            os.replace(meta_path + ".tmp", meta_path)
        with open(meta_path) as f:
            return json.load(f)

    def oracle(self, data_dir: str) -> dict:
        with np.load(os.path.join(data_dir, "oracle.npz")) as z:
            return {k: z[k] for k in z.files}

    def _generate(self, data_dir: str, seed: int) -> dict:
        raise NotImplementedError

    def load(self, spark, data_dir: str) -> dict:
        raise NotImplementedError

    def solve(self, spark, inputs: dict, work_dir: str, tracer=NULL_TRACER) -> dict:
        raise NotImplementedError

    def reset(self, work_dir: str) -> None:
        """Clear what one timed job leaves behind (untimed)."""

    def check(self, results: dict, oracle: dict) -> list[str]:
        raise NotImplementedError


def _check_labels(name: str, result, want_ids, want_labels) -> list[str]:
    pdf = result.state.select("id", "value").toPandas().sort_values("id")
    if not np.array_equal(pdf["id"].to_numpy(), want_ids):
        return [f"{name}: vertex set differs from the oracle"]
    bad = int(np.sum(pdf["value"].to_numpy().astype(np.int64) != want_labels))
    return [f"{name}: {bad} labels differ from the oracle"] if bad else []


# ------------------------------------------------------- pagerank workload

class PagerankUniform(Workload):
    """Full-scatter BSP loop: every vertex sends every superstep through the
    sum combine, and ``sources`` does no work.  At the benchmark's size the
    runner's per-superstep Spark jobs (scheduling, planning, code
    generation) cost more than the data they move."""

    name = "pagerank-uniform"

    def _generate(self, data_dir, seed):
        src, dst = uniform_digraph(self.scale["vertices"], seed)
        _write_edges(os.path.join(data_dir, "edges"), src, dst)
        ids, rank, steps = oracles.pagerank(src, dst, tol=PR_TOL)
        np.savez(os.path.join(data_dir, "oracle.npz"), ids=ids, rank=rank, steps=np.int64(steps))
        return _graph_stats(src, dst)

    def load(self, spark, data_dir):
        edges = spark.read.parquet(os.path.join(data_dir, "edges")).persist()
        edges.count()
        return {"edges": edges}

    def solve(self, spark, inputs, work_dir, tracer=NULL_TRACER):
        with tracer.span("operators.pagerank"):
            res = operators.pagerank(spark, inputs["edges"], tol=PR_TOL)
        return {"pagerank": res}

    def check(self, results, oracle):
        res = results["pagerank"]
        pdf = res.state.select("id", "value").toPandas().sort_values("id")
        got_ids, got = pdf["id"].to_numpy(), pdf["value"].to_numpy()
        errs = []
        if not res.converged or res.supersteps != int(oracle["steps"]):
            errs.append(f"pagerank: {res.supersteps} supersteps, oracle {int(oracle['steps'])}")
        if not np.array_equal(got_ids, oracle["ids"]):
            errs.append("pagerank: vertex set differs from the oracle")
        elif not np.allclose(got, oracle["rank"], rtol=1e-6, atol=1e-12):
            bad = int(np.sum(~np.isclose(got, oracle["rank"], rtol=1e-6, atol=1e-12)))
            errs.append(f"pagerank: {bad} ranks differ from the oracle beyond rtol 1e-6")
        if abs(got.sum() - 1.0) > 1e-6:
            errs.append(f"pagerank: rank mass {got.sum():.9f} is not 1 +- 1e-6")
        return errs


# ---------------------------------------------------------- corpus workload

class CorpusLinkgraph(Workload):
    """The north-star pipeline: ``sources`` does most of the work (sha256
    check, Arrow-UDF import extraction, dense ids), the runner writes
    parquet checkpoints as well as reading, and the mode combine runs.
    LPA stops at superstep ``crash_step`` as if the process died there
    and finishes through ``PregelRunner.resume``, ``lpa_cap`` supersteps
    in all.  Both are part of the scale, so the input cache, which holds
    the LPA oracle, is keyed by them."""

    name = "corpus-linkgraph"
    checkpoint_every = 1

    def _generate(self, data_dir, seed):
        c = corpus_gen.generate_corpus(
            seed, num_repos=self.scale["repos"], files_per_repo=self.scale["files_per_repo"]
        )
        cols = list(zip(*c.rows))
        names = ["repo", "path", "commit", "lang", "content"]
        pq.write_table(
            pa.table(dict(zip(names, cols))), os.path.join(data_dir, "corpus.parquet"),
            row_group_size=max(1, len(c.rows) // 8),
        )
        mcols = list(zip(*c.manifest))
        pq.write_table(
            pa.table(dict(zip(["repo", "path", "content_sha256"], mcols))),
            os.path.join(data_dir, "manifest.parquet"),
        )
        vid = c.vertex_ids()
        pairs = sorted((vid[(a, b)], vid[(x, y)]) for a, b, x, y in c.golden)
        src = np.array([p[0] for p in pairs], np.int64)
        dst = np.array([p[1] for p in pairs], np.int64)
        ids, labels, rounds = oracles.label_propagation(src, dst, self.scale["lpa_cap"])
        np.savez(
            os.path.join(data_dir, "oracle.npz"),
            src=src, dst=dst, ids=ids, labels=labels, rounds=np.int64(rounds),
            files=np.int64(len(c.rows)), import_lines=np.int64(c.import_lines),
        )
        stats = _graph_stats(src, dst)
        stats.update(files=len(c.rows), content_mb=c.content_bytes / 1e6,
                     import_lines=c.import_lines)
        return stats

    def load(self, spark, data_dir):
        corpus = spark.read.parquet(os.path.join(data_dir, "corpus.parquet")).persist()
        manifest = spark.read.parquet(os.path.join(data_dir, "manifest.parquet")).persist()
        corpus.count()
        manifest.count()
        return {"corpus": corpus, "manifest": manifest}

    def solve(self, spark, inputs, work_dir, tracer=NULL_TRACER):
        ckpt = os.path.join(work_dir, "ckpt")
        with tracer.span("sources.verify_content_sha256"):
            mismatches = sources.verify_content_sha256(inputs["corpus"], inputs["manifest"]).count()
        with tracer.span("sources.corpus_edge_table"):
            edges, ids = sources.corpus_edge_table(inputs["corpus"])
            edges = edges.localCheckpoint(eager=True)
        with tracer.span("operators.label_propagation"):
            # the run stops at crash_step as if the process died there
            operators.label_propagation(
                spark, edges, max_supersteps=self.scale["crash_step"],
                checkpoint_dir=ckpt, checkpoint_every=self.checkpoint_every,
            )
        runner = PregelRunner(
            spark, operators.lpa_spec(self.scale["lpa_cap"]),
            checkpoint_dir=ckpt, checkpoint_every=self.checkpoint_every,
        )
        step, _ = PregelRunner.latest_checkpoint(ckpt)
        lpa = runner.resume(symmetrize(edges), max_supersteps=self.scale["lpa_cap"] - step)
        return {"mismatches": mismatches, "edges": edges, "ids": ids, "lpa": lpa,
                "resumed_from": step, "checkpoint_bytes": _dir_bytes(ckpt)}

    def reset(self, work_dir):
        shutil.rmtree(os.path.join(work_dir, "ckpt"), ignore_errors=True)

    def check(self, results, oracle):
        errs = []
        if results["mismatches"] != 0:
            errs.append(f"sha256: {results['mismatches']} rows mismatch the manifest")
        ids = results["ids"].select("id").toPandas()["id"].to_numpy()
        if not np.array_equal(np.sort(ids), np.arange(1, int(oracle["files"]) + 1)):
            errs.append("assign_vertex_ids: ids are not dense 1..files")
        e = results["edges"].select("src", "dst").toPandas()
        got = np.unique(np.stack([e["src"].to_numpy(), e["dst"].to_numpy()], axis=1), axis=0)
        want = np.stack([oracle["src"], oracle["dst"]], axis=1)
        if len(got) != len(e) or not np.array_equal(got, want):
            errs.append(f"corpus_edge_table: {len(e)} edges, golden set has {len(want)}")
        if results["resumed_from"] != min(self.scale["crash_step"], int(oracle["rounds"])):
            errs.append(f"resume: started from superstep {results['resumed_from']}")
        errs += _check_labels("label_propagation", results["lpa"], oracle["ids"], oracle["labels"])
        return errs


WORKLOADS = {w.name: w for w in (PagerankUniform, CorpusLinkgraph)}

# input sizes: "full" is what the benchmark measures, "toy" is the self-test
SCALES = {
    "full": {
        "pagerank-uniform": {"vertices": 30_000},
        "corpus-linkgraph": {"repos": 14, "files_per_repo": 150, "lpa_cap": 2, "crash_step": 1},
    },
    "toy": {
        "pagerank-uniform": {"vertices": 400},
        "corpus-linkgraph": {"repos": 7, "files_per_repo": 12, "lpa_cap": 2, "crash_step": 1},
    },
}


def make(name: str, scale: str = "full") -> Workload:
    return WORKLOADS[name](SCALES[scale][name])
