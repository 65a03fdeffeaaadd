"""Smoke tests for the driver contract (__spark_entry__.py)."""

from __future__ import annotations

import __spark_entry__ as entrymod


def test_entry_returns_rows(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) == {"moment", "n", "wmean"}


def test_queries_and_oracles_aligned():
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    assert len(qs) >= 1
    # every oracle key must have a query
    assert set(oracles).issubset(set(qs))


def test_registry_fits_correctness_window():
    """The external correctness check runs at most DRIVER_WINDOW queries
    per round, in enumeration order.  Every registered query must fit
    inside it and be enumerated exactly once, so each one is
    oracle-checked every round; a bulk addition past the window fails
    here instead of needing a rotation."""
    from entropy_balance_weighting_spark.queries.registry import (
        DRIVER_WINDOW,
        QUERIES,
    )

    assert len(QUERIES) <= DRIVER_WINDOW
    assert sorted(entrymod.queries()) == sorted(QUERIES)


def test_queries_md_index_is_current():
    """QUERIES.md must match the live registry (regenerate with
    `python -m entropy_balance_weighting_spark.queries.index`)."""
    from pathlib import Path

    from entropy_balance_weighting_spark.queries.index import render

    assert Path("/root/repo/QUERIES.md").read_text() == render()
