"""Kill/resume semantics (SURVEY.md §4.4, reference Worker.go:601-654):
resume from the last committed snapshot must produce a final state
identical to an uninterrupted run, and the manifest must carry
per-partition lineage + counters (north_rule)."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

from pregel_golang_implementation_spark.operators.connected_components import (
    cc_spec,
    symmetrize,
)
from pregel_golang_implementation_spark.plans.runner import PregelRunner


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
