#!/usr/bin/env python3
"""Benchmark of the link-graph engine: one seeded workload per run.

    python3 perfbench/run.py --workload pagerank-uniform --seed 1 --seconds 10 --trace 0

Run from the repository root.  The run is a closed loop: one driver
process runs one job at a time on ``local[4]`` with pinned shuffle
partitions, checks every result against an oracle, and prints each metric
by name and unit; the last line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}``.

A run sets up once: it boots the JVM, opens the session and reads and
caches the input; ``setup_s`` is that wall.  It then runs ``WARMUP_JOBS``
untimed jobs, which the JVM needs before job walls level off, and times
jobs until the seconds are up and at least ``MIN_TIMED_JOBS`` have run;
``solve_s`` is their median.

``--trace 0`` reports the end-to-end metrics.  ``--trace 1`` reports the
per-layer metrics instead: the session has the Spark event log on, and
jobs run in rounds of plain, traced, traced, plain, where a traced job has
spans around every call into an engine layer; the spans are written to
``.perfbench_work/traces/``.  ``trace.overhead_ratio`` is the median
traced wall over the median plain wall of the same session.

Everything the run writes (inputs cached per seed, Spark scratch space,
event logs, checkpoints) stays under ``.perfbench_work/`` in the root.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
PACKAGE = "pregel_golang_implementation_spark"

CORES = min(4, os.cpu_count() or 1)
SHUFFLE_PARTITIONS = 4
DRIVER_MEM = "4g"
YOUNG_GEN = "1g"
WARMUP_JOBS = 2
MIN_TIMED_JOBS = 2
# --trace 1: whether each job of a round is traced; the order cancels a
# linear drift of job walls between the plain and the traced jobs
TRACE_ROUND = (False, True, True, False)

BENCHMARK_JSON = os.path.join(ROOT, "BENCHMARK.json")
# operators whose work is split between their own prep and a runner child
RUNNER_OPERATORS = ("pagerank", "label_propagation")


def metric_units(kind: str) -> dict[str, str]:
    """``{name: unit}`` of the "end_to_end" or "per_layer" metrics."""
    with open(BENCHMARK_JSON) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def pin_environment() -> None:
    """Keep every file the run writes, and every process it starts,
    inside the checkout and on the pinned settings."""
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    py_path = os.environ.get("PYTHONPATH")
    os.environ.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=local,
        SPARK_GRAFT_LOCAL_DIR=local,
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_GRAFT_CPUS=str(CORES),
        # Python workers import the package by name (mapInPandas UDFs)
        PYTHONPATH=ROOT + (os.pathsep + py_path if py_path else ""),
        # no JVM (launcher or driver) writes perf data to /tmp/hsperfdata_*
        JAVA_TOOL_OPTIONS="-XX:-UsePerfData",
    )
    # engine A/B switches stay at their defaults
    for knob in ("PREGEL_SLIM_SHUFFLE", "PREGEL_GLOBALS_MODE"):
        os.environ.pop(knob, None)
    for p in (ROOT, HERE):
        if p not in sys.path:
            sys.path.insert(0, p)


def start_session(event_log_dir: str | None = None):
    from pregel_golang_implementation_spark.session import get_spark

    conf = {
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        # a fixed heap and young generation keep the JVM's peak resident
        # set a function of the work, not of heap-resizing decisions
        "spark.driver.extraJavaOptions": (
            f"-Xms{DRIVER_MEM} -Xmn{YOUNG_GEN} -Djava.io.tmpdir={os.path.join(WORK, 'tmp')}"
        ),
    }
    if event_log_dir:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark(
        app_name="perfbench", cores=CORES, shuffle_partitions=SHUFFLE_PARTITIONS,
        extra_conf=conf,
    )


def jvm_pid() -> int:
    """The driver JVM: spark-submit execs into ``java``, so the gateway's
    launcher process is the JVM itself."""
    from pyspark import SparkContext

    pid = SparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/comm") as f:
        comm = f.read().strip()
    if comm != "java":
        raise RuntimeError(f"gateway process {pid} is {comm!r}, not the driver JVM")
    return pid


def cpu_steal_s() -> float:
    """Seconds a hypervisor has taken from the CPUs (steal time), per CPU;
    printed around the timed jobs so contention on a shared host shows."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") / (os.cpu_count() or 1)


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def shutdown(spark) -> None:
    """Stop the session, then the JVM, and wait until it has exited."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)


# ------------------------------------------------------------- measuring

def one_job(wl, spark, inputs, job_dir, oracle, tracer=None, corrupt=None):
    """Run the job once and check it.  Returns (wall or None if it raised,
    root span, errors)."""
    from workloads import NULL_TRACER

    tr = tracer or NULL_TRACER
    wl.reset(job_dir)
    wall, root = None, None
    try:
        with tr.span("solve") as root:
            t0 = time.monotonic()
            results = wl.solve(spark, inputs, job_dir, tr)
            wall = time.monotonic() - t0
        root["attrs"]["checkpoint_bytes"] = results.get("checkpoint_bytes", 0)
        if corrupt is not None:
            results = corrupt(results)
        errors = wl.check(results, oracle)
    except Exception:
        traceback.print_exc()
        errors = ["job raised"]
    for e in errors:
        print(f"check failed: {e}", file=sys.stderr)
    return wall, root, errors


def layer_metrics(tr, root, per_span, stats) -> dict:
    from tracing import spark_counters

    d = tr.duration
    desc = tr.descendants(root["id"])

    def total(name):
        return sum((d(r) for r in desc if r["name"] == name), 0.0)

    runs = [r for r in desc if r["name"] == "runner.run"]
    steps = [s for r in runs for s in r["attrs"]["steps"]]
    walls = [s["wall"] for s in steps]
    msgs = sum(s["msgs"] for s in steps)
    prep_self = sum(
        d(op) - sum(d(c) for c in tr.children(op["id"]) if c["name"] == "runner.run")
        for op in desc if op["name"] in {f"operators.{a}" for a in RUNNER_OPERATORS}
    )
    extract = [r for r in desc if r["name"] == "sources.extract_import_edges"]
    import_s = total("sources.extract_import_edges")
    spark = spark_counters(per_span, [root["id"]] + [r["id"] for r in desc])
    m = {
        "sources.sha256_verify_s": total("sources.verify_content_sha256"),
        "sources.import_edges_s": import_s,
        "sources.vertex_ids_s": total("sources.assign_vertex_ids"),
        "sources.content_mb_per_s": stats.get("content_mb", 0.0) / import_s if import_s else 0.0,
        "sources.import_resolve_ratio": (
            sum(r["attrs"]["rows"] for r in extract) / stats["import_lines"] if extract else 0.0
        ),
        "operators.prep_self_s": prep_self,
        "runner.layout_s": sum(d(r) for r in runs) - sum(walls),
        "runner.supersteps": len(steps),
        "runner.superstep_s": statistics.median(walls) if walls else 0.0,
        "runner.first_superstep_s": walls[0] if walls else 0.0,
        "runner.edges_per_s": (
            statistics.median(s["msgs"] / s["wall"] for s in steps) if steps else 0.0
        ),
        "runner.messages_sent": msgs,
        "runner.useful_msg_ratio": sum(s["active"] for s in steps) / msgs if msgs else 0.0,
        "runner.checkpoint_mb": root["attrs"]["checkpoint_bytes"] / 1e6,
        "runner.resume_s": total("runner.resume"),
        "spark.jobs": spark["jobs"],
        "spark.stages": spark["stages"],
        "spark.tasks": spark["tasks"],
        "spark.task_failures": spark["task_failures"],
        "spark.shuffle_write_mb": spark["shuffle_write_bytes"] / 1e6,
        "spark.shuffle_records": spark["shuffle_records"],
        "spark.spill_mb": spark["spill_bytes"] / 1e6,
        "spark.gc_s": spark["gc_s"],
        "spark.busy_frac": spark["executor_run_s"] / (d(root) * CORES),
    }
    for op in RUNNER_OPERATORS:
        m[f"operators.{op}_s"] = total(f"operators.{op}")
    return m


def _record_run(rec, result):
    rec["attrs"]["steps"] = [
        {"wall": s.wall_secs, "msgs": s.messages_sent, "active": s.active_vertices}
        for s in result.metrics
    ]
    return result


def _materialize(rec, df):
    # the extraction runs inside its own span; later joins read the copy
    df = df.localCheckpoint(eager=True)
    rec["attrs"]["rows"] = df.count()
    return df


def layer_wraps(tr):
    """Spans around the engine calls the workloads make indirectly."""
    from pregel_golang_implementation_spark.plans import PregelRunner
    from pregel_golang_implementation_spark.sources import corpus as corpus_mod

    return [
        tr.wrap(PregelRunner, "run", "runner.run", _record_run),
        tr.wrap(PregelRunner, "resume", "runner.resume"),
        tr.wrap(corpus_mod, "extract_import_edges", "sources.extract_import_edges", _materialize),
        tr.wrap(corpus_mod, "assign_vertex_ids", "sources.assign_vertex_ids"),
    ]


def run(argv=None, corrupt=None) -> dict:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("full", "toy"), default="full",
                   help="input size; toy is for the self-test")
    args = p.parse_args(argv)

    pin_environment()
    import workloads
    from tracing import Tracer, read_event_log

    if args.workload not in workloads.WORKLOADS:
        p.error(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
    wl = workloads.make(args.workload, args.scale)
    sizes = "-".join(f"{k}{v}" for k, v in sorted(wl.scale.items()))
    tag = f"{args.workload}-{sizes}-seed{args.seed}"
    data_dir = os.path.join(WORK, "inputs", tag)
    job_dir = os.path.join(WORK, "jobs", args.workload)
    trace_dir = os.path.join(WORK, "traces")
    log_dir = None
    if args.trace:
        log_dir = os.path.join(trace_dir, "eventlog", tag)
        shutil.rmtree(log_dir, ignore_errors=True)
        os.makedirs(log_dir)
    os.makedirs(job_dir, exist_ok=True)
    print(f"loadavg_1min: {os.getloadavg()[0]:.2f}")

    t0 = time.monotonic()
    stats = wl.prepare(data_dir, args.seed)
    oracle = wl.oracle(data_dir)
    print(f"input_prepare_s: {time.monotonic() - t0:.2f}")
    print("input: " + json.dumps(stats, sort_keys=True))

    t0 = time.monotonic()
    spark = start_session(log_dir)
    boot_s = time.monotonic() - t0
    try:
        jvm = jvm_pid()
        inputs = wl.load(spark, data_dir)
        setup_s = time.monotonic() - t0
        # in a traced run the round's first plain job stands in for the last
        # warm-up, so the traced jobs run at the same JVM age as the timed
        # jobs of an untraced run
        warm = []
        for _ in range(WARMUP_JOBS - args.trace):
            t0 = time.monotonic()
            wl.reset(job_dir)
            wl.solve(spark, inputs, job_dir)
            warm.append(time.monotonic() - t0)
        print(f"boot_s: {boot_s:.2f}; warm-up walls: {[round(w, 2) for w in warm]}")

        tr = Tracer(spark.sparkContext) if args.trace else None
        plain, traced, roots, attempted, failed = [], [], [], 0, 0
        steal0 = cpu_steal_s()
        deadline = time.monotonic() + args.seconds
        while True:
            trace_job = args.trace and TRACE_ROUND[attempted % len(TRACE_ROUND)]
            with contextlib.ExitStack() as stack:
                for w in layer_wraps(tr) if trace_job else ():
                    stack.enter_context(w)
                wall, root, errors = one_job(
                    wl, spark, inputs, job_dir, oracle, tr if trace_job else None, corrupt
                )
            attempted += 1
            failed += bool(errors)
            if wall is not None:
                (traced if trace_job else plain).append(wall)
                if trace_job:
                    roots.append(root)
            done = attempted % len(TRACE_ROUND) == 0 if args.trace else attempted >= MIN_TIMED_JOBS
            if done and time.monotonic() >= deadline:
                break
        print(f"cpu_steal_s per CPU while timing: {cpu_steal_s() - steal0:.2f}")
        print(f"solve_s samples: {[round(w, 2) for w in plain]}")
        if not plain or (args.trace and not traced):
            raise SystemExit("no job completed: nothing was measured")
        if not args.trace:
            metrics = {
                "setup_s": setup_s,
                "solve_s": statistics.median(plain),
                "jvm_peak_rss_mb": peak_rss_mb(jvm),
            }
            units = metric_units("end_to_end")
        else:
            print(f"traced solve_s samples: {[round(w, 2) for w in traced]}")
            app_id = spark.sparkContext.applicationId
    finally:
        shutdown(spark)  # also closes the event log

    if args.trace:
        per_span = read_event_log(os.path.join(log_dir, app_id))
        per_job = [layer_metrics(tr, r, per_span, stats) for r in roots]
        metrics = {k: statistics.median(j[k] for j in per_job) for k in per_job[0]}
        metrics["session.start_s"] = boot_s
        metrics["trace.overhead_ratio"] = statistics.median(traced) / statistics.median(plain)
        metrics["failed_frac"] = failed / attempted
        units = metric_units("per_layer")
        tr.dump(os.path.join(trace_dir, tag + ".json"), {
            "input": stats, "metrics": metrics,
            "spark_per_span": {str(k): v for k, v in per_span.items()},
        })

    for name, unit in units.items():
        print(f"{name}: {metrics[name]} {unit}")
    print(f"jobs attempted: {attempted}; failed: {failed}")
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }
    print(json.dumps(result))
    return result


def main() -> int:
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"{PACKAGE}/ not found next to perfbench/: run from a full checkout",
              file=sys.stderr)
        return 2
    run()
    return 0


if __name__ == "__main__":
    sys.exit(main())
