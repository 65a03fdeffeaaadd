"""Blanket physical-plan lint over EVERY registered query: structural
anti-patterns that would be scale-killers at 100 TB fail here no matter
which query reintroduces them.

Complements the targeted pins in test_physical_plans.py (which assert
specific GOOD shapes — broadcasts, pushdowns, partial aggs); this file
asserts the absence of BAD shapes globally, so a future query can't ship
with a cartesian product, an inequality nested-loop join, or a
row-at-a-time Python UDF without a test going red.
"""

from __future__ import annotations

import pytest

from tests.conftest import SF_SMOKE

_FORBIDDEN = (
    # O(N·M) joins — every operator here is designed to avoid them
    "CartesianProduct",
    "BroadcastNestedLoopJoin",
    # row-at-a-time Python — only Arrow-batched variants are allowed
    # (those plan as ArrowEvalPython / MapInArrow / FlatMapGroupsInPandas)
    "BatchEvalPython",
)

# Queries where a BroadcastNestedLoopJoin is the CORRECT plan: a keyless
# cross join against a broadcast 1-row scalar aggregate.  The cost is
# O(N); a broadcast must still be present.
_SCALAR_CROSSJOIN_OK = {
    "t2_largest_miss",  # 1-row national-mean aggregate
    "m1_feasible_targets",  # 1-row global weight total
    "dq_skew_profile",  # 1-row totals aggregate broadcast into the profile
}


def _queries():
    from entropy_balance_weighting_spark.queries import QUERIES

    return QUERIES


@pytest.mark.parametrize("name", sorted(_queries().keys()))
def test_no_forbidden_plan_nodes(spark, name):
    q = _queries()[name]
    df = q.fn(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    forbidden = _FORBIDDEN
    if name in _SCALAR_CROSSJOIN_OK:
        forbidden = tuple(n for n in forbidden if n != "BroadcastNestedLoopJoin")
        assert "BroadcastExchange" in plan, (
            f"{name}: allowlisted cross join must broadcast its small side"
        )
    hits = [node for node in forbidden if node in plan]
    assert not hits, f"{name}: forbidden plan nodes {hits}\n{plan[:2000]}"
