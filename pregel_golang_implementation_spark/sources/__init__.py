from pregel_golang_implementation_spark.sources.graphs import (
    edges_from_lineitem,
    load_reference_graph,
    synthetic_edges,
)
from pregel_golang_implementation_spark.sources.corpus import (
    assign_vertex_ids,
    corpus_edge_table,
    extract_import_edges,
    synthetic_corpus,
    verify_content_sha256,
)

__all__ = [
    "edges_from_lineitem",
    "load_reference_graph",
    "synthetic_edges",
    "assign_vertex_ids",
    "corpus_edge_table",
    "extract_import_edges",
    "synthetic_corpus",
    "verify_content_sha256",
]
