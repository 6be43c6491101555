"""SparkSession factory with the engine's default tuning.

Replaces the reference's hand-rolled cluster bring-up (ServerAddress.json
parsing + TCP mesh formation — /root/reference/Master.go:102-128,
Worker.go:39-106): on Spark the "cluster" is the session.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


MIN_TMPFS_FREE_BYTES = 8 << 30  # don't point spills at a nearly-full tmpfs


def get_spark(
    app_name: str = "pregel-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    tmpfs_local_dir: bool = False,
) -> SparkSession:
    """Build a local session tuned for iterative graph jobs.

    ``cores=None`` uses ``$SPARK_GRAFT_CPUS`` (default all).  Shuffle
    partitions default to the core count — iterative supersteps re-shuffle
    the same state every step, so 200 tiny partitions (Spark's default)
    would add per-step scheduler overhead with zero parallelism benefit.
    AQE stays on for runtime coalescing and skew-join splitting everywhere
    except the Pregel loop: ``PregelRunner.run`` turns it off for its own
    duration (explicit partition counts, one job per superstep) and
    restores the caller's setting.  The reference has no skew handling at
    all (SURVEY.md §4 P7).
    """
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    if shuffle_partitions is None:
        shuffle_partitions = max(8, cores)
    # Shuffle/spill files on tmpfs are an OPT-IN for bench/tooling sessions
    # whose shuffle volume is known-bounded (tmpfs_local_dir=True; measured
    # +6-11% absolute and +0.03 scaling efficiency, BENCH/BASELINE.md §2).
    # NOT the library default: spill exists precisely for data that doesn't
    # fit in RAM, and a RAM-backed spill dir turns "spills to disk" into
    # ENOSPC/OOM for any job whose shuffle exceeds free /dev/shm.  Even
    # when opted in, fall back to disk unless tmpfs has headroom.  On a
    # real cluster the equivalent is pointing spark.local.dir at striped
    # local NVMe.  SPARK_GRAFT_LOCAL_DIR overrides either way (explicit
    # path, or empty string to force disk).
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir is None and tmpfs_local_dir and os.path.isdir("/dev/shm"):
        st = os.statvfs("/dev/shm")
        if st.f_bavail * st.f_frsize >= MIN_TMPFS_FREE_BYTES:
            local_dir = "/dev/shm/pregel-spark-local"
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
    )
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
