"""Toy-scale self-test of the benchmark.

    python3 -m pytest perfbench -q

Runs every workload on toy inputs, untraced and traced, and checks that
every metric is printed with its unit and that a corrupted result is
caught and counted as a failed job.
"""

from __future__ import annotations

import dataclasses
import json
import os
import shutil
import subprocess
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import run  # noqa: E402

WORKLOADS = ("pagerank-uniform", "corpus-linkgraph")


def _run(workload, trace, corrupt=None):
    argv = ["--workload", workload, "--seed", "3", "--seconds", "1",
            "--trace", str(trace), "--scale", "toy"]
    return run.run(argv, corrupt=corrupt)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_every_metric_printed_with_unit(workload, trace, capsys):
    result = _run(workload, trace)
    out = capsys.readouterr().out
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    expected = run.metric_units("per_layer" if trace else "end_to_end")
    assert {k: v["unit"] for k, v in result["metrics"].items()} == expected
    for name, unit in expected.items():
        assert f"{name}: " in out and out.split(f"{name}: ", 1)[1].split("\n")[0].endswith(unit)
    assert json.loads(out.strip().splitlines()[-1]) == result


def _perturb_one_rank(results):
    from pyspark.sql import functions as F

    res = results["pagerank"]
    first = res.state.agg(F.min("id")).first()[0]
    value = F.when(F.col("id") == first, F.col("value") + 1e-3).otherwise(F.col("value"))
    return {**results, "pagerank": dataclasses.replace(res, state=res.state.withColumn("value", value))}


def _change_one_label(results):
    from pyspark.sql import functions as F

    res = results["lpa"]
    first = res.state.agg(F.min("id")).first()[0]
    value = F.when(F.col("id") == first, F.lit(-1.0)).otherwise(F.col("value"))
    return {**results, "lpa": dataclasses.replace(res, state=res.state.withColumn("value", value))}


@pytest.mark.parametrize(
    "workload, corrupt",
    [("pagerank-uniform", _perturb_one_rank), ("corpus-linkgraph", _change_one_label)],
)
def test_corrupted_result_is_counted_as_failed(workload, corrupt, capsys):
    result = _run(workload, 0, corrupt=corrupt)
    assert not result["correct"]
    assert result["failed"] == result["attempted"] >= 1


def test_exits_nonzero_without_the_engine(tmp_path):
    shutil.copytree(run.HERE, tmp_path / "perfbench")
    shutil.copy(run.BENCHMARK_JSON, tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", WORKLOADS[0], "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
