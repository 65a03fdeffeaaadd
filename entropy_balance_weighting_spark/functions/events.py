"""CDC changelog compaction: latest record per key under a version order."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def compact_changelog(
    df: DataFrame,
    *,
    keys: tuple[str, ...],
    version: tuple[str, ...],
    count_col: str = "n_changes",
) -> DataFrame:
    """CDC log compaction: one row per key — the key's LATEST full
    record under the ``version`` ordering (lexicographic over the
    given columns) — plus how many change records the key carried.
    The MERGE-to-snapshot half of a change-data-capture pipeline;
    callers apply their delete semantics as a filter over the
    compacted row (op columns survive compaction like any other).

    100 TB shape — the reason this is NOT a window: latest-per-key via
    ``row_number() OVER (PARTITION BY key ORDER BY version DESC)``
    shuffles EVERY change record, then sorts each partition.  This
    plan uses ``max_by(full_row_struct, version_struct)`` — a
    declarative aggregate with map-side partial merge — so each map
    task pre-compacts its local changes and the exchange carries one
    candidate row per (task, key), not the log.  On a year of CDC
    against a bounded key space that is orders of magnitude less
    shuffle.  Ties in ``version`` are undefined (same as MERGE): give
    the version a unique tiebreaker column (a change sequence id).
    """
    ver = F.struct(*[F.col(c) for c in version])
    payload = F.struct(*[F.col(c) for c in df.columns])
    agg = df.groupBy(*[F.col(k) for k in keys]).agg(
        F.max_by(payload, ver).alias("__last"),
        F.count(F.lit(1)).alias(count_col),
    )
    non_key = [c for c in df.columns if c not in keys]
    return agg.select(
        *keys,
        *[F.col(f"__last.{c}").alias(c) for c in non_key],
        count_col,
    )
