"""Sources & sinks: problem-bundle serialization (SURVEY §2.1 S2/S3) and
storage layout (partitioned/bucketed parquet)."""

from entropy_balance_weighting_spark.sources.layout import (
    write_bucketed,
    write_partitioned,
)

__all__ = [
    "write_bucketed",
    "write_partitioned",
]
