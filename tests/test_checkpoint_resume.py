"""Kill/resume semantics (SURVEY.md §4.4, reference Worker.go:601-654):
resume from the last committed snapshot must produce a final state
identical to an uninterrupted run, and the manifest must carry
per-partition lineage + counters (north_rule)."""

from __future__ import annotations

import json
import os
import signal
import subprocess
import sys
import time

import pytest
from pyspark.sql import functions as F

from pregel_golang_implementation_spark.operators.connected_components import (
    cc_spec,
    symmetrize,
)
from pregel_golang_implementation_spark.plans.runner import PregelRunner
from tests.oracles import oracle_cc


def _chain_edges(spark, n=12):
    df = spark.createDataFrame(
        [(i, i + 1, 1.0) for i in range(n)], "src long, dst long, weight double"
    )
    return symmetrize(df)


def test_resume_matches_uninterrupted(spark, tmp_path):
    edges = _chain_edges(spark)
    ck = str(tmp_path / "ck")

    interrupted = PregelRunner(
        spark, cc_spec(), checkpoint_dir=ck, checkpoint_every=2
    ).run(edges, max_supersteps=3)
    assert not interrupted.converged  # "killed" mid-run

    resumed = PregelRunner(spark, cc_spec(), checkpoint_dir=ck).resume(edges)
    full = PregelRunner(spark, cc_spec()).run(edges)
    assert resumed.converged and full.converged
    a = {r["id"]: r["value"] for r in resumed.state.collect()}
    b = {r["id"]: r["value"] for r in full.state.collect()}
    assert a == b


def test_manifest_carries_lineage_and_counters(spark, tmp_path):
    edges = _chain_edges(spark, n=20)
    ck = str(tmp_path / "ck2")
    res = PregelRunner(spark, cc_spec(), checkpoint_dir=ck, checkpoint_every=2).run(
        edges, max_supersteps=2
    )
    found = PregelRunner.latest_checkpoint(ck)
    assert found is not None
    step, manifest = found
    assert step == 2
    assert manifest["algorithm"] == "connected_components"
    assert sum(p["rows"] for p in manifest["partition_lineage"]) == 21
    # the lineage is the snapshotted state's own partition layout
    per_partition = (
        res.state.groupBy(F.spark_partition_id().alias("pid")).count().collect()
    )
    assert sorted((p["partition"], p["rows"]) for p in manifest["partition_lineage"]) == (
        sorted((r["pid"], r["count"]) for r in per_partition)
    )
    c = manifest["counters"]
    assert {"active_vertices", "messages_sent", "max_delta"} <= set(c)
    # the parquet snapshot itself must be readable and complete
    state = spark.read.parquet(os.path.join(ck, "step=000002", "state"))
    assert state.count() == 21


def test_resume_ignores_uncommitted_snapshot(spark, tmp_path):
    """A snapshot directory without MANIFEST.json (crash mid-write) must be
    skipped — manifest presence is the atomic commit marker."""
    edges = _chain_edges(spark, n=10)
    ck = str(tmp_path / "ck3")
    PregelRunner(spark, cc_spec(), checkpoint_dir=ck, checkpoint_every=1).run(
        edges, max_supersteps=2
    )
    # fake a torn step=3 write: state dir present, no manifest
    os.makedirs(os.path.join(ck, "step=000003", "state"), exist_ok=True)
    step, _ = PregelRunner.latest_checkpoint(ck)
    assert step == 2


def test_fresh_run_refuses_a_used_checkpoint_dir(spark, tmp_path):
    """A fresh run in a dir that holds another run's committed snapshots
    must fail before it writes: otherwise resume() restarts from the
    other run's highest step and returns that graph's vertices."""
    ck = str(tmp_path / "ck_shared")
    chain_a = _chain_edges(spark)  # ids 0..12
    done = PregelRunner(spark, cc_spec(), checkpoint_dir=ck, checkpoint_every=1).run(chain_a)
    assert done.converged
    step_a, manifest_a = PregelRunner.latest_checkpoint(ck)
    assert step_a == done.supersteps

    chain_b = symmetrize(spark.createDataFrame(  # ids 100..112
        [(i, i + 1, 1.0) for i in range(100, 112)], "src long, dst long, weight double"
    ))
    runner_b = PregelRunner(spark, cc_spec(), checkpoint_dir=ck, checkpoint_every=1)
    with pytest.raises(ValueError, match=f"already holds.*step {step_a}"):
        runner_b.run(chain_b, max_supersteps=2)
    assert PregelRunner.latest_checkpoint(ck) == (step_a, manifest_a)
    snap = spark.read.parquet(os.path.join(ck, f"step={step_a:06d}", "state"))
    assert sorted(r["id"] for r in snap.select("id").collect()) == list(range(13))


def test_run_refuses_to_rewrite_committed_steps(spark, tmp_path):
    """A run started at step k in a dir with committed steps past k must
    fail before it writes: rewriting step k+1 would keep that step's old
    MANIFEST.json over the new, maybe partial, parquet files."""
    edges = _chain_edges(spark)
    ck = str(tmp_path / "ck_rewrite")
    PregelRunner(spark, cc_spec(), checkpoint_dir=ck, checkpoint_every=1).run(
        edges, max_supersteps=3
    )
    committed = PregelRunner.latest_checkpoint(ck)
    assert committed[0] == 3
    step1 = spark.read.parquet(os.path.join(ck, "step=000001", "state"))
    runner = PregelRunner(spark, cc_spec(), checkpoint_dir=ck, checkpoint_every=1)
    with pytest.raises(ValueError, match="already holds.*step 3"):
        runner.run(edges, state=step1, start_superstep=1)
    assert PregelRunner.latest_checkpoint(ck) == committed


def test_resume_refuses_a_different_graph(spark, tmp_path):
    """A snapshot names the graph it was computed on: the manifest holds
    the laid-out edge count and an order-free fingerprint, and resume()
    refuses edges that lay out to another graph of the same size, and a
    manifest that names no graph."""
    ck = str(tmp_path / "ck_graph")
    chain_a = _chain_edges(spark)  # ids 0..12
    PregelRunner(spark, cc_spec(), checkpoint_dir=ck, checkpoint_every=1).run(
        chain_a, max_supersteps=2
    )
    step, manifest = PregelRunner.latest_checkpoint(ck)
    chain_b = symmetrize(spark.createDataFrame(  # ids 100..112, also 24 edges
        [(i, i + 1, 1.0) for i in range(100, 112)], "src long, dst long, weight double"
    ))
    runner = PregelRunner(spark, cc_spec(), checkpoint_dir=ck)
    with pytest.raises(ValueError, match="different graph"):
        runner.resume(chain_b)
    assert PregelRunner.latest_checkpoint(ck) == (step, manifest)
    assert manifest["graph"]["edges"] == 24

    del manifest["graph"]
    with open(os.path.join(ck, f"step={step:06d}", "MANIFEST.json"), "w") as f:
        json.dump(manifest, f)
    with pytest.raises(ValueError, match="different graph"):
        runner.resume(chain_a)


def test_resume_without_checkpoint_dir_raises(spark):
    runner = PregelRunner(spark, cc_spec())
    with pytest.raises(ValueError, match="checkpoint_dir"):
        runner.resume(_chain_edges(spark))


SCRIPT = os.path.join(os.path.dirname(__file__), "..", "scripts", "run_pagerank.py")


@pytest.mark.parametrize(
    "extra",
    [
        ["--algorithm", "pagerank"],
        ["--algorithm", "sssp", "--checkpoint-dir", "ck"],
        ["--algorithm", "cc"],
    ],
    ids=["pagerank", "sssp-with-checkpoint-dir", "cc-without-checkpoint-dir"],
)
def test_script_rejects_unsupported_resume(tmp_path, extra):
    """--resume only works for cc with a checkpoint dir; any other
    combination must fail at argument parsing, before a SparkSession (and
    before anything could overwrite the snapshots being resumed from).
    JAVA_HOME points nowhere, so starting Spark would fail differently."""
    env = dict(os.environ, JAVA_HOME=str(tmp_path / "no-java"))
    proc = subprocess.run(
        [sys.executable, SCRIPT, "--edges", str(tmp_path / "e"),
         "--out", str(tmp_path / "o"), "--resume", *extra],
        capture_output=True, text=True, env=env, cwd=tmp_path, timeout=120,
    )
    assert proc.returncode == 2
    assert "resume" in proc.stderr
    assert "Traceback" not in proc.stderr


def test_sigkill_mid_run_then_resume(spark, tmp_path):
    """A real crash: SIGKILL the whole process group of a checkpointing CC
    run (driver and JVM) once step 2 is committed, then resume here; the
    labels must equal the union-find oracle's."""
    pairs = [(i, i + 1) for i in range(39)] + [(100, 101), (101, 102)]
    edges_path = str(tmp_path / "edges.parquet")
    spark.createDataFrame(pairs, "src long, dst long").write.parquet(edges_path)
    ck = tmp_path / "ck_kill"
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    py_path = os.environ.get("PYTHONPATH")
    env = dict(
        os.environ,
        PYTHONPATH=root + (os.pathsep + py_path if py_path else ""),
        PYSPARK_SUBMIT_ARGS="--master local[2] --driver-memory 1g pyspark-shell",
    )
    with open(tmp_path / "child.log", "w") as log:
        proc = subprocess.Popen(
            [sys.executable, SCRIPT, "--algorithm", "cc", "--edges", edges_path,
             "--out", str(tmp_path / "out"), "--checkpoint-dir", str(ck),
             "--checkpoint-every", "1"],
            stdout=log, stderr=subprocess.STDOUT, env=env, cwd=tmp_path,
            start_new_session=True,
        )
    try:
        deadline = time.monotonic() + 180
        while not (ck / "step=000002" / "MANIFEST.json").exists():
            assert proc.poll() is None, (
                f"run exited ({proc.returncode}) before committing step 2:\n"
                + (tmp_path / "child.log").read_text()[-3000:]
            )
            assert time.monotonic() < deadline, "step 2 not committed in 180 s"
            time.sleep(0.2)
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait(timeout=30)
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    while True:  # the group is gone once its last member (the JVM) is
        try:
            os.killpg(proc.pid, 0)
        except ProcessLookupError:
            break
        assert time.monotonic() < deadline, "killed run's JVM still alive"
        time.sleep(0.2)

    step, manifest = PregelRunner.latest_checkpoint(str(ck))
    assert step >= 2 and manifest["counters"]["active_vertices"] > 0  # mid-run
    res = PregelRunner(spark, cc_spec(), checkpoint_dir=str(ck), checkpoint_every=1).resume(
        symmetrize(spark.read.parquet(edges_path))
    )
    assert res.converged
    assert {r["id"]: r["value"] for r in res.state.collect()} == oracle_cc(pairs)
