"""Pin the r13 duplicate-subtree (recompute) eliminations.

Every reuse of an unpersisted DataFrame re-expands its whole subtree, so a
multi-consumer operator silently re-scans the corpus once per consumer.
The r13 optimization round audited all registered queries
(`spikes/scan_multiplicity.py`) and removed the real duplicates; this test
walks the optimized logical plan the same way (relation leaves per table,
each distinct cache build charged once, repeated references to the same
cache deduped) and pins the fixed queries' leaf counts so a dropped
persist or a re-introduced duplicate branch fails loudly.
"""

from __future__ import annotations

from collections import Counter
from pathlib import Path

import pytest

from tests.conftest import SF_SMOKE


def _scan_counts(jplan, seen_caches=None) -> Counter:
    if seen_caches is None:
        seen_caches = set()
    out: Counter = Counter()
    cls = jplan.getClass().getSimpleName()
    if cls == "InMemoryRelation":
        key = jplan.cacheBuilder().hashCode()
        if key in seen_caches:
            return out
        seen_caches.add(key)
        for tbl, n in _scan_counts(jplan.cachedPlan(), seen_caches).items():
            out[tbl] += 1 if n else 0
        return out
    if cls == "LogicalRelation":
        path = None
        try:
            roots = jplan.relation().location().rootPaths()
            if roots.length() > 0:
                path = roots.apply(0).toString()
        except Exception:
            path = jplan.simpleString(80)
        out[Path(path).name] += 1
        return out
    it = jplan.children().iterator()
    while it.hasNext():
        out += _scan_counts(it.next(), seen_caches)
    if hasattr(jplan, "subqueries"):
        sit = jplan.subqueries().iterator()
        while sit.hasNext():
            out += _scan_counts(sit.next(), seen_caches)
    return out


# (query, table, max relation leaves for that table in the optimized plan)
_PINS = [
    # explode-unpivot + persisted counts
    ("dq_column_entropy", "documents.parquet", 1),
    # single stack(4) Generate for numeric + one-hot moments
    ("a1_weighted_moment_totals", "lineitem.parquet", 1),
    # national mean from the K-row group partials
    ("t2_largest_miss", "lineitem.parquet", 1),
]


@pytest.mark.parametrize("name,table,max_leaves", _PINS)
def test_no_duplicate_corpus_subtrees(spark, name, table, max_leaves):
    from entropy_balance_weighting_spark.queries import QUERIES

    df = QUERIES[name].fn(spark, SF_SMOKE)
    counts = _scan_counts(df._jdf.queryExecution().optimizedPlan())
    got = counts.get(table, 0)
    assert got <= max_leaves, (
        f"{name}: {got} relation leaves on {table} (max {max_leaves}) — "
        f"a shared subtree lost its persist or a duplicate branch came "
        f"back; full counts: {dict(counts)}"
    )
