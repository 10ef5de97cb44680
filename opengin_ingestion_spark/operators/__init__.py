"""Relational + CDC operators of the engine.

Each module re-expresses a reference behavior (cited per-module) as an
idiomatic Catalyst-optimizable DataFrame transformation — declarative plans,
partial aggregation, broadcast/bucket pruning — never driver-side loops.
"""

from opengin_ingestion_spark.operators.salt import ensure_min_parallelism  # noqa: F401
from opengin_ingestion_spark.operators.schema_map import (  # noqa: F401
    SchemaMapping,
    apply_schema_mapping,
)
from opengin_ingestion_spark.operators.compact import (  # noqa: F401
    compact,
    fold_heavy_compact,
    rebucket,
)
from opengin_ingestion_spark.operators.evolution import (  # noqa: F401
    SchemaEvolutionError,
    align_to_schema,
    evolve_schema,
)
from opengin_ingestion_spark.operators.merge import MergeResult, merge_batch  # noqa: F401
