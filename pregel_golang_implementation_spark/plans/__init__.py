from pregel_golang_implementation_spark.plans.spec import (
    COMBINERS,
    AlgorithmSpec,
    combine_messages,
)
from pregel_golang_implementation_spark.plans.runner import PregelRunner, PregelResult, SuperstepMetrics

__all__ = [
    "AlgorithmSpec",
    "COMBINERS",
    "PregelRunner",
    "PregelResult",
    "SuperstepMetrics",
    "combine_messages",
]
