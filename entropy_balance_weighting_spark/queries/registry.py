"""Registry machinery for SQL-checkable queries."""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class Query:
    name: str
    fn: QueryFn
    oracle: str | None  # ANSI SQL for DuckDB; None → rows-only check
    survey: str  # SURVEY §2 operator id(s), e.g. "A1,E10,U1"
    bench: bool = False  # include in bench.py headline set


QUERIES: dict[str, Query] = {}


def register(
    name: str, *, oracle: str | None = None, survey: str = "", bench: bool = False
) -> Callable[[QueryFn], QueryFn]:
    """Decorator: register a query under ``name`` with its DuckDB oracle."""

    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = Query(name=name, fn=fn, oracle=oracle, survey=survey, bench=bench)
        return fn

    return deco


# Observed driver window size (rounds 4-6 all recorded exactly 50 rows).
# The registry must fit inside it, so every query is oracle-checked every
# round in registration order (``tests/test_entry.py`` guards the bound).
DRIVER_WINDOW = 50


def query_fns() -> dict[str, QueryFn]:
    return {name: q.fn for name, q in QUERIES.items()}


def oracle_map() -> dict[str, str]:
    return {name: q.oracle for name, q in QUERIES.items() if q.oracle is not None}
