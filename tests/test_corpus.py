"""Corpus → edge-table pipeline: golden edge set, sha256 invariant,
deterministic id assignment, the import pattern's semantics against
Python ``re``, and no Python in any plan the pipeline executes
(BASELINE.json input_hint + north_star)."""

from __future__ import annotations

import re
from collections import defaultdict

from pregel_golang_implementation_spark.operators import pagerank
from pregel_golang_implementation_spark.sources import (
    extract_import_edges,
    synthetic_corpus,
    verify_content_sha256,
)
from pregel_golang_implementation_spark.sources.corpus import (
    CORPUS_SCHEMA,
    _import_refs,
    assign_vertex_ids,
    corpus_edge_table,
)

# plan nodes (and the UDF expression) of every way Spark runs Python code
PYTHON_NODES = (
    "MapInPandas", "PythonMapInArrow", "ArrowEvalPython", "BatchEvalPython", "PythonUDF",
)


def test_extraction_matches_golden_edges(spark):
    corpus, expected, _ = synthetic_corpus(spark, num_repos=3, files_per_repo=25, seed=9)
    got = extract_import_edges(corpus)
    cols = ["src_repo", "src_path", "dst_repo", "dst_path"]
    sym_diff = got.select(cols).exceptAll(expected.select(cols)).count() + expected.select(
        cols
    ).exceptAll(got.select(cols)).count()
    assert sym_diff == 0
    assert got.count() == expected.count()


def test_sha256_invariant_holds_and_detects_tamper(spark):
    corpus, _, manifest = synthetic_corpus(spark, num_repos=2, files_per_repo=10, seed=4)
    assert verify_content_sha256(corpus, manifest).count() == 0
    # tamper one row → exactly one mismatch surfaces
    from pyspark.sql import functions as F

    tampered = corpus.withColumn(
        "content",
        F.when(
            (F.col("repo") == "org/repo-0") & (F.col("path") == "pkg/mod_0.py"),
            F.concat(F.col("content"), F.lit("\n# tampered")),
        ).otherwise(F.col("content")),
    )
    bad = verify_content_sha256(tampered, manifest).collect()
    assert len(bad) == 1 and bad[0]["path"] == "pkg/mod_0.py"


def test_vertex_ids_dense_and_deterministic(spark):
    corpus, _, _ = synthetic_corpus(spark, num_repos=2, files_per_repo=15, seed=4)
    ids1 = {(r["repo"], r["path"]): r["id"] for r in assign_vertex_ids(corpus).collect()}
    ids2 = {(r["repo"], r["path"]): r["id"] for r in assign_vertex_ids(corpus).collect()}
    assert ids1 == ids2
    vals = sorted(ids1.values())
    assert vals == list(range(1, len(vals) + 1))


def test_pagerank_over_corpus_graph(spark):
    corpus, _, _ = synthetic_corpus(spark, num_repos=3, files_per_repo=20, seed=2)
    edges, ids = corpus_edge_table(corpus)
    res = pagerank(spark, edges, tol=1e-6)
    assert res.converged
    total = res.state.groupBy().sum("value").first()[0]
    assert abs(total - 1.0) < 1e-6


def test_import_pattern_matches_python_re(spark):
    """The JVM import pattern finds exactly what Python ``re`` finds with
    the same pattern under re.MULTILINE: Unicode names and indentation,
    CRLF, and only \\n as a line break (a lone \\r, U+0085 and U+2028 are
    not line breaks in Python)."""
    py = re.compile(r"^\s*(?:from|import)\s+([A-Za-z_][\w\.]*)", re.MULTILINE)
    cases = [
        "import pkg.módulo\n",
        "from pkg.数据 import z\n",
        "\u00a0\u00a0import nbsp_indent\n\timport tab_indent\n",
        "import os\r\nfrom a.b import c\r\nimport sys\r\n",
        "x = 1\rimport lone_cr\n",
        "x = 1\u0085import nel\n",
        "x = 1\u2028import line_sep\n",
        "import\n\n   blank_gap\nfrom\n\nb.gap import y\n",
        'v = "see import os"\n',
        "import a.b_c.d9\nfrom .rel import x\n  from  _priv.m import q\n",
    ]
    corpus = spark.createDataFrame(
        [("r", f"f{i}.py", "c", "python", text) for i, text in enumerate(cases)],
        schema=CORPUS_SCHEMA,
    )
    got = defaultdict(list)
    for r in _import_refs(corpus).collect():
        got[r["src_path"]].append(r["dst_module"])
    for i, text in enumerate(cases):
        assert sorted(got[f"f{i}.py"]) == sorted(py.findall(text)), repr(text)
    assert sum(len(py.findall(t)) for t in cases) == 11  # the cases do match


def test_corpus_path_plans_no_python(spark, executed_plans):
    """Extraction, id assignment and the whole corpus → graph pipeline
    execute no Python: no Arrow/pandas or row-at-a-time UDF node in any
    plan they run, so no Python worker starts."""
    corpus, _, _ = synthetic_corpus(spark, num_repos=2, files_per_repo=6, seed=3)
    plans = executed_plans(
        lambda: (
            extract_import_edges(corpus).collect(),
            assign_vertex_ids(corpus).collect(),
            [df.collect() for df in corpus_edge_table(corpus)],
        )
    )
    assert len(plans) >= 3
    for plan in plans:
        for node in PYTHON_NODES:
            assert node not in plan, f"{node} in an executed plan:\n{plan}"
