"""Mirror of the driver's t2 gate: every registered query with an oracle must
match DuckDB on row count, sorted-column schema, and values (order-insensitive).

Run at sf0.001 by default (fast); set EBW_TEST_SF=/root/testdata/sf0.01 to
reproduce the driver's exact scale.
"""

from __future__ import annotations

import math
import os

import pytest

from tests.conftest import SF_SMOKE, register_duck_views

SF_DIR = os.environ.get("EBW_TEST_SF", SF_SMOKE)


def _queries():
    from entropy_balance_weighting_spark.queries import QUERIES

    return QUERIES


def _token(v):
    """Map one value to a comparison token, driver-hash style: int and float
    are DISTINCT types (the driver fetches the oracle through pandas, where a
    DuckDB HUGEINT ``sum(int)`` becomes float64 and stringifies ``5.0`` vs
    Spark's long ``5`` — an untyped oracle sum must fail here, locally)."""
    if hasattr(v, "to_pydatetime"):  # pandas.Timestamp -> datetime
        v = v.to_pydatetime()
    elif type(v).__module__ == "numpy":  # numpy scalar -> python scalar
        v = v.item()
    if isinstance(v, bool):
        return repr(v)
    if isinstance(v, float):
        return "f:nan" if math.isnan(v) else f"f:{v:.9g}"
    if isinstance(v, int):
        return f"i:{v}"
    return repr(v)


def _normalize(rows, columns):
    """Sort columns by name, then rows, mapping values to typed tokens."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = sorted(tuple(_token(row[i]) for i in order) for row in rows)
    return [columns[i] for i in order], out


@pytest.mark.parametrize("name", sorted(_queries().keys()))
def test_query_matches_duckdb_oracle(spark, duck, name):
    q = _queries()[name]
    if q.oracle is None:
        df = q.fn(spark, SF_DIR)
        assert df.count() >= 0  # rows-only check, mirroring the driver
        return

    register_duck_views(duck, SF_DIR)
    spark_df = q.fn(spark, SF_DIR)
    spark_cols = spark_df.columns
    spark_rows = [tuple(r) for r in spark_df.collect()]

    # fetch through pandas, as the driver does — this is what turns an
    # untyped HUGEINT sum into float64 and exposes oracle typing bugs
    oracle_res = duck.execute(q.oracle)
    oracle_cols = [d[0] for d in oracle_res.description]
    oracle_pdf = oracle_res.df()
    oracle_rows = list(oracle_pdf.itertuples(index=False, name=None))

    assert sorted(spark_cols) == sorted(oracle_cols), f"{name}: column names differ"
    assert len(spark_rows) == len(oracle_rows), f"{name}: row count differs"

    s_cols, s_norm = _normalize(spark_rows, spark_cols)
    o_cols, o_norm = _normalize(oracle_rows, oracle_cols)
    mismatches = [
        (a, b) for a, b in zip(s_norm, o_norm) if a != b
    ]
    assert not mismatches, f"{name}: first mismatches {mismatches[:5]}"


def test_snapshot_diff_classifies(spark):
    from entropy_balance_weighting_spark.queries.pipeline_dq import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "doc_id long, text string"
    )
    new = spark.createDataFrame(
        [(2, "b"), (3, "c2"), (4, "d")], "doc_id long, text string"
    )
    got = {r.id: r.status for r in snapshot_diff(old, new).collect()}
    assert got == {1: "removed", 2: "unchanged", 3: "changed", 4: "added"}
