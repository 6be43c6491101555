"""spark-submit entry point (north_rule: "run via spark-submit --py-files").

  spark-submit --py-files pregel_spark.zip scripts/run_pagerank.py \
      --edges /path/to/edges.parquet --out /path/to/ranks \
      [--algorithm pagerank|cc|sssp|lpa] [--tol 1e-6] [--source 1] \
      [--checkpoint-dir /path/ckpt] [--resume] [--max-supersteps 100]

--resume continues a cc run from its last checkpoint in --checkpoint-dir;
the other algorithms cannot resume.

Build the zip:  (cd /root/repo && zip -qr pregel_spark.zip \
                 pregel_golang_implementation_spark)
Works identically with plain `python` in local mode (pyspark pip install).
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import SparkSession


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--edges", required=True, help="parquet with src,dst[,weight]")
    p.add_argument("--out", required=True)
    p.add_argument("--algorithm", default="pagerank",
                   choices=["pagerank", "cc", "sssp", "lpa"])
    p.add_argument("--damping", type=float, default=0.85)
    p.add_argument("--tol", type=float, default=1e-6)
    p.add_argument("--source", type=int, default=1)
    p.add_argument("--max-supersteps", type=int, default=100)
    p.add_argument("--checkpoint-dir", default=None)
    p.add_argument("--checkpoint-every", type=int, default=10)
    p.add_argument("--resume", action="store_true")
    p.add_argument("--num-partitions", type=int, default=None)
    args = p.parse_args()
    if args.resume and args.algorithm != "cc":
        p.error("--resume is only supported with --algorithm cc")
    if args.resume and not args.checkpoint_dir:
        p.error("--resume needs --checkpoint-dir")

    spark = SparkSession.builder.appName(f"pregel-{args.algorithm}").getOrCreate()
    from pregel_golang_implementation_spark.operators import (
        connected_components,
        label_propagation,
        pagerank,
        sssp,
    )
    from pregel_golang_implementation_spark.operators.connected_components import (
        cc_spec,
        symmetrize,
    )
    from pregel_golang_implementation_spark.plans.runner import PregelRunner

    edges = spark.read.parquet(args.edges)
    kw = {}
    if args.num_partitions:
        kw["num_partitions"] = args.num_partitions
    if args.checkpoint_dir:
        kw["checkpoint_dir"] = args.checkpoint_dir
        kw["checkpoint_every"] = args.checkpoint_every

    if args.resume:
        runner = PregelRunner(spark, cc_spec(args.max_supersteps), **kw)
        # the edges connected_components lays out: resume checks the
        # snapshot's graph fingerprint against them
        res = runner.resume(symmetrize(edges, dedup=False))
    elif args.algorithm == "pagerank":
        res = pagerank(spark, edges, damping=args.damping, tol=args.tol,
                       max_supersteps=args.max_supersteps, **kw)
    elif args.algorithm == "cc":
        res = connected_components(spark, edges, max_supersteps=args.max_supersteps, **kw)
    elif args.algorithm == "sssp":
        res = sssp(spark, edges, source=args.source,
                   max_supersteps=args.max_supersteps, **kw)
    else:
        res = label_propagation(spark, edges, max_supersteps=args.max_supersteps, **kw)

    res.state.select("id", "value").write.mode("overwrite").parquet(args.out)
    report = {
        "algorithm": args.algorithm,
        "supersteps": res.supersteps,
        "converged": res.converged,
        "total_messages": res.total_messages,
        "per_superstep": [m.to_dict() for m in res.metrics],
    }
    print(json.dumps(report))
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
