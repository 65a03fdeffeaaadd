"""SQL-checkable query registry (the driver's t2 correctness surface).

Every operator the reweighting pipeline runs or audits registers here as a
named query: a PySpark callable ``(spark, sf_dir) -> DataFrame`` plus (where
expressible) an equivalent ANSI-SQL oracle string that DuckDB runs over the
same parquet tables.  ``__spark_entry__.py`` is a thin shim over this registry.

Float discipline: distributed sums reorder, so every accumulated float
column is rounded identically on both sides (counts / keys / min / max are
exact and preferred where possible).
"""

from __future__ import annotations

from entropy_balance_weighting_spark.queries.registry import (
    QUERIES,
    Query,
    oracle_map,
    query_fns,
    register,
)

# Import for side effect: each module registers its queries.
from entropy_balance_weighting_spark.queries import core  # noqa: E402,F401
from entropy_balance_weighting_spark.queries import data_layer  # noqa: E402,F401
from entropy_balance_weighting_spark.queries import ingest  # noqa: E402,F401
from entropy_balance_weighting_spark.queries import pipeline_dq  # noqa: E402,F401
from entropy_balance_weighting_spark.queries import pipeline_sampling  # noqa: E402,F401
from entropy_balance_weighting_spark.queries import solver  # noqa: E402,F401

__all__ = ["QUERIES", "Query", "register", "query_fns", "oracle_map"]
