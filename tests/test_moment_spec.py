"""Exact-value unit tests for the MomentSpec data layer."""

from __future__ import annotations

import logging

import pytest
from pyspark.sql import functions as F

from entropy_balance_weighting_spark.plans import MomentSpec, build_problem_tables


@pytest.fixture(scope="module")
def tiny(spark):
    rows = [
        (1, "CA", "a", 2.0, 10.0),
        (2, "CA", "b", 3.0, 20.0),
        (3, "NY", "a", 5.0, 30.0),
        (4, "NY", "a", -1.0, 40.0),  # dropped by the w>0 filter (V2)
        (5, None, "b", 1.0, 50.0),  # dropped by dropna (V3)
    ]
    return spark.createDataFrame(rows, ["id", "state", "cat", "w", "x"])


def test_builder_long_encoding_exact(tiny):
    spec = MomentSpec(
        weight_col="w",
        numeric=("x",),
        onehot=("cat",),
        intercept=True,
        row_key=("id",),
    )
    pt = build_problem_tables(tiny, spec)
    # moments: sorted names, dense int ids
    assert pt.moment_names == ["_count", "cat=a", "cat=b", "x"]
    assert pt.k == 4

    # row 4 dropped by w>0; row 5 kept (its null is in 'state', unused here —
    # dropna only considers columns the spec references)
    w0 = {r["row_id"]: r["w0"] for r in pt.w0.collect()}
    assert len(w0) == 4
    assert sorted(w0.values()) == [1.0, 2.0, 3.0, 5.0]

    # X^T w0 per moment, exact
    totals = {
        r["moment_id"]: r["total"]
        for r in pt.x_long.join(pt.w0, "row_id")
        .groupBy("moment_id")
        .agg(F.sum(F.col("value") * F.col("w0")).alias("total"))
        .collect()
    }
    # _count: 2+3+5+1; cat=a: 2+5; cat=b: 3+1; x: 2*10+3*20+5*30+1*50
    assert totals == {0: 11.0, 1: 7.0, 2: 4.0, 3: 280.0}


def test_group_normalized_weights_sum_to_one(tiny):
    spec = MomentSpec(
        weight_col="w",
        numeric=("x",),
        group=("state",),
        normalize_weights_within_group=True,
        row_key=("id",),
    )
    pt = build_problem_tables(tiny, spec)
    assert pt.moment_names == ["grp=CA|x", "grp=NY|x"]
    sums = {
        r["moment_id"]: r["s"]
        for r in pt.x_long.join(pt.w0, "row_id")
        .groupBy("moment_id")
        .agg(F.sum("w0").alias("s"))
        .collect()
    }
    # after V2/V3 filters NY has a single row with weight 5 → normalized 1.0
    assert sums[0] == pytest.approx(1.0)
    assert sums[1] == pytest.approx(1.0)


def test_no_moments_raises(tiny):
    with pytest.raises(ValueError):
        build_problem_tables(tiny, MomentSpec(weight_col="w", row_key=("id",)))


def test_interaction_moments_exact(tiny):
    """R-formula ``a:b`` cross terms (ref: test_colinear.py:66-78 builds
    these via formulaic): numeric×numeric is a product moment,
    numeric×categorical is a per-category copy of the numeric value,
    categorical×categorical is a joint indicator."""
    spec = MomentSpec(
        weight_col="w",
        numeric=("x",),
        onehot=("cat",),
        interactions=(("x", "cat"), ("x", "x")),
        row_key=("id",),
    )
    pt = build_problem_tables(tiny, spec)
    assert pt.moment_names == ["cat=a", "cat=b", "x", "x:cat=a", "x:cat=b", "x:x"]
    totals = {
        r["moment_name"]: r["total"]
        for r in pt.x_long.join(pt.w0, "row_id")
        .join(F.broadcast(pt.moments), "moment_id")
        .groupBy("moment_name")
        .agg(F.sum(F.col("value") * F.col("w0")).alias("total"))
        .collect()
    }
    # rows kept: (w=2,x=10,a) (w=3,x=20,b) (w=5,x=30,a) (w=1,x=50,b)
    assert totals["x:cat=a"] == pytest.approx(2 * 10 + 5 * 30)
    assert totals["x:cat=b"] == pytest.approx(3 * 20 + 1 * 50)
    assert totals["x:x"] == pytest.approx(2 * 100 + 3 * 400 + 5 * 900 + 1 * 2500)

    # packed arrays agree with the long encoding per row
    packed = {
        r["row_id"]: dict(zip(r["idx"], r["val"]))
        for r in pt.packed_arrays.collect()
    }
    long_rows = {}
    for r in pt.x_long.collect():
        long_rows.setdefault(r["row_id"], {})[r["moment_id"]] = r["value"]
    assert packed == long_rows


def test_interaction_cat_cat_and_grouped(spark):
    rows = [(1, "CA", "a", "hi", 2.0), (2, "CA", "b", "lo", 3.0),
            (3, "NY", "a", "lo", 5.0)]
    df = spark.createDataFrame(rows, ["id", "state", "cat", "lvl", "w"])
    spec = MomentSpec(
        weight_col="w",
        onehot=("cat", "lvl"),
        interactions=(("cat", "lvl"),),
        group=("state",),
        row_key=("id",),
    )
    pt = build_problem_tables(df, spec)
    assert "grp=CA|cat=a:lvl=hi" in pt.moment_names
    assert "grp=NY|cat=a:lvl=lo" in pt.moment_names
    # joint indicator only for observed combos within each group
    assert "grp=CA|cat=a:lvl=lo" not in pt.moment_names
    totals = {
        r["moment_name"]: r["t"]
        for r in pt.x_long.join(pt.w0, "row_id")
        .join(F.broadcast(pt.moments), "moment_id")
        .groupBy("moment_name")
        .agg(F.sum(F.col("value") * F.col("w0")).alias("t"))
        .collect()
    }
    assert totals["grp=CA|cat=a:lvl=hi"] == pytest.approx(2.0)
    assert totals["grp=CA|cat=b:lvl=lo"] == pytest.approx(3.0)


def test_combo_fast_path_names_and_sums_match_long_table(spark):
    """Without a row_key the builder names the moments and sums Σ value·w0
    per moment on the driver, from its per-combo aggregate.  Both must
    agree with what Spark emits: the distinct long-table names, and the
    weighted sums over ``x_long_w0``.  Null categories and a null group
    exercise the null-name rules; a combo whose only ``y`` is null has a
    moment but no sum."""
    from entropy_balance_weighting_spark.plans.moment_spec import (
        long_moments,
        prepared_rows,
    )

    rows = [
        (1, "CA", "a", "u", 2.0, 1.0, 3.0),
        (2, "CA", "b", "v", 3.0, 2.0, None),
        (3, "NY", "a", "v", 5.0, 0.5, 1.5),
        (4, "NY", None, "u", 1.5, 4.0, 2.0),
        (5, None, "b", "u", 0.7, 3.0, 1.0),
        (6, "CA", "a", "u", 1.2, -1.0, 0.25),
    ]
    df = spark.createDataFrame(
        rows, "id int, state string, cat string, kind string, w double, "
        "x double, y double",
    )
    spec = MomentSpec(
        weight_col="w",
        numeric=("x",),
        intercept=True,
        onehot=("cat", "kind"),
        interactions=(("x", "y"), ("cat", "y"), ("x", "kind"), ("cat", "kind")),
        group=("state",),
        dropna=False,
    )
    pt = build_problem_tables(df, spec)
    assert pt.weighted_sums is not None  # the combo-aggregate fast path

    emitted = sorted(
        r["moment_name"]
        for r in long_moments(prepared_rows(df, spec), spec)
        .select("moment_name")
        .where(F.col("moment_name").isNotNull())
        .distinct()
        .collect()
    )
    assert pt.moment_names == emitted
    assert "grp=|cat=b:kind=u" in emitted  # null group part skipped

    relational = {
        pt.moment_names[r["moment_id"]]: r["t"]
        for r in pt.x_long_w0.groupBy("moment_id")
        .agg(F.sum(F.col("value") * F.col("w0")).alias("t"))
        .collect()
    }
    assert relational["grp=CA|cat=b:y"] is None  # row 2's y is null
    expected = {nm: t for nm, t in relational.items() if t is not None}
    assert pt.weighted_sums == pytest.approx(expected, rel=1e-12, abs=0)


def test_interaction_collinear_problem_solves(spark):
    """A deliberately collinear interaction design (x:cat duplicates x when
    cat has one level... built with redundant cross terms) still converges —
    the Tikhonov defense covers interaction-induced rank deficiency
    (ref: test_colinear.py semantics)."""
    import numpy as np
    import pandas as pd

    from entropy_balance_weighting_spark import entropy_balance
    from entropy_balance_weighting_spark.plans.moment_spec import (
        targets_from_problem,
    )

    rng = np.random.default_rng(53)
    n = 300
    pdf = pd.DataFrame(
        {
            "rid": np.arange(n),
            "w": rng.uniform(0.5, 2.0, size=n),
            "x0": rng.uniform(size=n),
            "cat": rng.choice(["a", "b"], size=n),
        }
    )
    spec = MomentSpec(
        weight_col="w",
        numeric=("x0",),
        onehot=("cat",),
        # x0:cat spans x0 exactly (x0 = x0:cat=a + x0:cat=b) → collinear
        interactions=(("x0", "cat"),),
        row_key=("rid",),
    )
    pt = build_problem_tables(spark.createDataFrame(pdf), spec)
    targets = targets_from_problem(pt, perturb=0.01)
    res = entropy_balance(
        mean_population_moments=targets,
        x_sample=pt,
        options={"force_distributed": True},
    )
    assert res.converged, res.error_message
    ach = {
        r["moment_id"]: r["a"]
        for r in pt.x_long.join(res.new_weights, "row_id")
        .groupBy("moment_id")
        .agg((F.sum(F.col("value") * F.col("new_weight")) / pt.sum_w0).alias("a"))
        .collect()
    }
    tgt = {
        r["moment_id"]: r["target"]
        for r in targets.join(pt.moments, "moment_name").collect()
    }
    for mid, t in tgt.items():
        assert ach[mid] == pytest.approx(t, rel=1e-5)


def test_spread_width_is_size_derived_and_self_disabling(spark, monkeypatch, caplog):
    """r14: the small-input spread derives its width from the optimizer's
    size estimate (clamped to [2, defaultParallelism]) instead of a
    full-width defaultParallelism wave; wide inputs skip the spread; a
    failing size estimate falls back to full width with one named
    warning."""
    from entropy_balance_weighting_spark.plans import moment_spec
    from entropy_balance_weighting_spark.plans.moment_spec import _spread_width

    cores = spark.sparkContext.defaultParallelism
    small = spark.range(0, 10, 1, 1).selectExpr(
        "id", "cast(id as double) w0"
    )
    # tiny estimate -> the floor of 2 (never a full-width wave)
    w = _spread_width(small)
    assert w == 2, w
    # self-disabling: input already at >= half the cores
    wide = small.repartition(max(2, cores))
    assert _spread_width(wide) is None
    # a 1-byte target maxes out at the core count, never beyond
    with monkeypatch.context() as m:
        m.setattr(moment_spec, "_SPREAD_BYTES", 1)
        assert _spread_width(small) == cores

    # the private JVM size-estimate chain failing falls back to the full
    # width and says so, once per process
    class _NoStats:
        def __init__(self, jdf):
            self._jdf = jdf

        def __getattr__(self, name):
            return getattr(self._jdf, name)

        def queryExecution(self):
            raise RuntimeError("size estimate unavailable")

    monkeypatch.setattr(moment_spec, "_SPREAD_FALLBACK_WARNED", False)
    broken = small.select("*")
    monkeypatch.setattr(broken, "_jdf", _NoStats(broken._jdf))
    with caplog.at_level(logging.WARNING, logger="entropy_balance_weighting_spark"):
        assert _spread_width(broken) == cores
        assert _spread_width(broken) == cores
    fallbacks = [
        r for r in caplog.records if r.getMessage().startswith("spread_width_fallback")
    ]
    assert len(fallbacks) == 1, caplog.records
    assert fallbacks[0].levelno == logging.WARNING


def test_local_relation_keeps_schema_through_broadcast_join(spark):
    """Driver-held tables are Arrow local relations: no RDD under them,
    and a dim table's nullable string keys and ``array<int>`` ids survive
    a broadcast join (a null key matches null-safe)."""
    from pyspark.sql import types as T

    from entropy_balance_weighting_spark.plans.moment_spec import (
        local_relation,
    )

    schema = T.StructType(
        [
            T.StructField("__cmb_g", T.StringType(), True),
            T.StructField("idx", T.ArrayType(T.IntegerType(), False), False),
        ]
    )
    dim = local_relation(spark, [("a", [0, 1]), (None, [2, 3])], schema)
    assert dim.schema == schema
    assert dim._jdf.queryExecution().analyzed().nodeName() == "LocalRelation"
    rows = spark.createDataFrame([(1, "a"), (2, None)], "rid int, g string")
    got = {
        r["rid"]: list(r["idx"])
        for r in rows.join(
            F.broadcast(dim), F.col("g").eqNullSafe(F.col("__cmb_g"))
        ).collect()
    }
    assert got == {1: [0, 1], 2: [2, 3]}
    empty = local_relation(spark, [], schema)
    assert empty.schema == schema and empty.count() == 0
