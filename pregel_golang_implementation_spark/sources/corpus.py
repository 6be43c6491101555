"""Source-code corpus → link graph (BASELINE.json input_hint).

Input table: (repo: string, path: string, commit: string, lang: string,
content: string).  Edges are import/include references between files,
keyed by repo+path, extracted with a JVM regex (regexp_extract_all +
explode), so the corpus → graph path starts no Python worker (no
per-row Python — input_hint).  Per-row invariant: sha2(content, 256)
equality against the recorded scan (enforced JVM-side, zero Python).

The reference has no corpus path at all — its only source is a JSON
adjacency file (InputParsing.go:39-54); this module is the north_rule's
"edge table derived from an Iceberg source-code corpus" re-expressed over
parquet (Iceberg jars are not in this image — the reader is format-
agnostic: pass any DataFrame with the 5-column shape).
"""

from __future__ import annotations

import hashlib
import random

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

CORPUS_SCHEMA = T.StructType(
    [
        T.StructField("repo", T.StringType(), False),
        T.StructField("path", T.StringType(), False),
        T.StructField("commit", T.StringType(), False),
        T.StructField("lang", T.StringType(), False),
        T.StructField("content", T.StringType(), False),
    ]
)


# ----------------------------------------------------------- synthetic gen

def _module_name(path: str) -> str:
    return path[: -len(".py")].replace("/", ".") if path.endswith(".py") else path


def synthetic_corpus(
    spark: SparkSession,
    num_repos: int = 5,
    files_per_repo: int = 40,
    imports_per_file: int = 4,
    seed: int = 42,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Deterministic synthetic corpus (FIXTURES.md F3).

    Returns (corpus, expected_edges, scan_manifest):
      corpus(repo, path, commit, lang, content)
      expected_edges(src_repo, src_path, dst_repo, dst_path) — golden edge set
      scan_manifest(repo, path, content_sha256) — the "reference scan" for
        the per-row sha256 invariant
    Imports are intra-repo module references, so the ground truth is exact.
    """
    rng = random.Random(seed)
    rows, golden = [], []
    for r in range(num_repos):
        repo = f"org/repo-{r}"
        commit = hashlib.sha1(f"{seed}/{repo}".encode()).hexdigest()[:12]
        paths = [f"pkg/mod_{i}.py" for i in range(files_per_repo)]
        for i, path in enumerate(paths):
            targets = sorted(
                {
                    rng.randrange(files_per_repo)
                    for _ in range(rng.randint(0, imports_per_file * 2))
                }
                - {i}
            )
            lines = [f"import {_module_name(paths[t])}" for t in targets]
            lines.append(f"\ndef f_{i}():\n    return {i} * {rng.randint(1, 99)}\n")
            rows.append((repo, path, commit, "python", "\n".join(lines)))
            for t in targets:
                golden.append((repo, path, repo, paths[t]))
    corpus = spark.createDataFrame(rows, schema=CORPUS_SCHEMA)
    expected = spark.createDataFrame(
        golden, schema="src_repo string, src_path string, dst_repo string, dst_path string"
    )
    manifest = spark.createDataFrame(
        [(r, p, hashlib.sha256(c.encode()).hexdigest()) for (r, p, _, _, c) in rows],
        schema="repo string, path string, content_sha256 string",
    )
    return corpus, expected, manifest


# ------------------------------------------------------------- invariants

def verify_content_sha256(corpus: DataFrame, scan_manifest: DataFrame) -> DataFrame:
    """Per-row invariant vs the reference scan: sha2(content,256) equality
    (BASELINE.json input_hint).  JVM-side sha2 — no Python.  Returns the
    mismatch rows (empty ⇒ invariant holds); full-outer so missing/extra
    rows also surface."""
    hashed = corpus.select(
        "repo", "path", F.sha2(F.col("content"), 256).alias("actual_sha256")
    )
    return (
        hashed.join(scan_manifest, ["repo", "path"], "full_outer")
        .filter(
            ~F.col("actual_sha256").eqNullSafe(F.col("content_sha256"))
        )
        .select("repo", "path", "actual_sha256", "content_sha256")
    )


# --------------------------------------------------------- edge extraction

# module-style import target: "import pkg.mod_3" / "from pkg.mod_3 import x".
# Java regex flags that give Python ``re.MULTILINE`` semantics on str:
#   m  ^ matches at the start of every line;
#   d  only \n ends a line (Java also breaks at a lone \r, U+0085 and
#      U+2028 without it — Python does not);
#   U  \w and \s are Unicode-aware, as Python's are on str (Java's are
#      ASCII-only without it).
# Two known divergences from Python remain: Java does not treat
# \x1c-\x1f as whitespace, and Java's Unicode \w accepts combining marks
# inside a name (Python's identifier grammar allows them too).
# tests/test_corpus.py pins the rest against ``re.findall``.
IMPORT_PATTERN = r"(?mdU)^\s*(?:from|import)\s+([A-Za-z_][\w\.]*)"


def _import_refs(corpus: DataFrame) -> DataFrame:
    """(src_repo, src_path, dst_module): one row per import statement,
    extracted by a JVM regex — no Python worker."""
    return corpus.select(
        F.col("repo").alias("src_repo"),
        F.col("path").alias("src_path"),
        F.explode(
            F.regexp_extract_all("content", F.lit(IMPORT_PATTERN), F.lit(1))
        ).alias("dst_module"),
    )


def extract_import_edges(corpus: DataFrame) -> DataFrame:
    """corpus → file-level reference edges (src_repo, src_path, dst_repo,
    dst_path), resolving module names against the corpus's own file list
    within the same repo.  Unresolvable imports (stdlib/third-party) drop
    out via the inner join — exactly the ground-truth edge set."""
    refs = _import_refs(corpus)
    files = corpus.select(
        F.col("repo").alias("dst_repo"),
        F.col("path").alias("dst_path"),
        F.regexp_replace(
            F.regexp_replace(F.col("path"), r"\.py$", ""), "/", "."
        ).alias("dst_module"),
    )
    return (
        refs.join(
            files,
            (refs["src_repo"] == files["dst_repo"])
            & (refs["dst_module"] == files["dst_module"]),
            "inner",
        )
        .select("src_repo", "src_path", "dst_repo", "dst_path")
        .dropDuplicates()
    )


# monotonically_increasing_id() puts the partition index in the upper 31
# bits and the row's index within its partition in the lower 33
_ROW_BITS = (1 << 33) - 1


def assign_vertex_ids(corpus: DataFrame, num_partitions: int | None = None) -> DataFrame:
    """Deterministic dense long ids for (repo, path), starting at 1 —
    SURVEY.md §7 hard part (d).  xxhash64 would be sparse/collision-prone
    at 10^12 files; the global (repo, path) rank is deterministic and
    dense.

    Scale-safe zipWithIndex pattern in one range-partitioned pass (NO
    global sort or unpartitioned window — a single-reducer sort is THE
    driver-bottleneck equivalent at 10^12 files):
      1. range-partition the (repo, path) keys — partition i holds
         strictly smaller keys than partition i+1 — and drop duplicates
         (range partitioning already clusters equal keys: no second
         exchange);
      2. sort within partitions and project spark_partition_id() plus
         monotonically_increasing_id(), whose low 33 bits are the row's
         index within its partition; one eager localCheckpoint stores it
         (re-sampling range boundaries on recompute could shift rows
         between partitions and desynchronize the counts from the rows);
      3. one small aggregate over the checkpoint yields per-partition row
         counts (one row per partition);
      4. id = offset[partition] + index + 1, a projection with the
         cumulative offsets as a literal array.
    The result equals the global (repo, path) rank wherever the sampled
    range boundaries fall (tests/test_round2_fixes.py
    test_vertex_ids_partition_invariant pins this, and with it the bit
    layout of monotonically_increasing_id).
    """
    spark = corpus.sparkSession
    n_parts = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    keyed = (
        corpus.select("repo", "path")
        .repartitionByRange(n_parts, "repo", "path")
        .dropDuplicates()
        .sortWithinPartitions("repo", "path")
        .select(
            "repo", "path",
            F.spark_partition_id().alias("_pid"),
            F.monotonically_increasing_id().alias("_mid"),
        )
        .localCheckpoint(eager=True)
    )
    counts = dict(keyed.groupBy("_pid").count().collect())
    offsets, acc = [], 0
    for pid in range(n_parts):
        offsets.append(acc)
        acc += counts.get(pid, 0)
    offset = F.lit(offsets).cast("array<bigint>")[F.col("_pid")]
    return keyed.select(
        "repo", "path",
        (offset + F.col("_mid").bitwiseAND(F.lit(_ROW_BITS)) + 1).alias("id"),
    )


def corpus_edge_table(corpus: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Full pipeline: corpus → (edges(src,dst,weight), vertices(id,repo,path))."""
    ids = assign_vertex_ids(corpus)
    pairs = extract_import_edges(corpus)
    src_ids = ids.select(
        F.col("repo").alias("src_repo"), F.col("path").alias("src_path"),
        F.col("id").alias("src"),
    )
    dst_ids = ids.select(
        F.col("repo").alias("dst_repo"), F.col("path").alias("dst_path"),
        F.col("id").alias("dst"),
    )
    edges = (
        pairs.join(src_ids, ["src_repo", "src_path"])
        .join(dst_ids, ["dst_repo", "dst_path"])
        .select("src", "dst", F.lit(1.0).alias("weight"))
    )
    return edges, ids
