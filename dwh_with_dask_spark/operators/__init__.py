"""Composed operators: things Spark has no single builtin for.

Each operator is a composition of DataFrame builtins (preferred) or an
Arrow-batched Pandas UDF (only where builtins can't express the
semantics). All are plain functions DataFrame → DataFrame so they chain
lazily and Catalyst optimizes across operator boundaries.
"""

from dwh_with_dask_spark.operators.caching import CacheScope
from dwh_with_dask_spark.operators.ids import sequential_id
from dwh_with_dask_spark.operators.joins import asof_join, range_join, salted_join
from dwh_with_dask_spark.operators.sessionize import sessionize_outline

__all__ = [
    "CacheScope",
    "sequential_id",
    "asof_join",
    "range_join",
    "salted_join",
    "sessionize_outline",
]
