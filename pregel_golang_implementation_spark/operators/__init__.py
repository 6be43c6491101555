from pregel_golang_implementation_spark.operators.pagerank import (
    pagerank,
    pagerank_spec,
    personalized_pagerank,
    personalized_pagerank_spec,
)
from pregel_golang_implementation_spark.operators.connected_components import (
    connected_components,
    cc_spec,
    incremental_connected_components,
)
from pregel_golang_implementation_spark.operators.sssp import sssp, sssp_spec
from pregel_golang_implementation_spark.operators.label_propagation import (
    label_propagation,
    lpa_spec,
)
from pregel_golang_implementation_spark.operators.triangles import (
    triangle_count,
    triangles_per_vertex,
)

__all__ = [
    "pagerank",
    "pagerank_spec",
    "personalized_pagerank",
    "personalized_pagerank_spec",
    "connected_components",
    "cc_spec",
    "incremental_connected_components",
    "sssp",
    "sssp_spec",
    "label_propagation",
    "lpa_spec",
    "triangle_count",
    "triangles_per_vertex",
]
