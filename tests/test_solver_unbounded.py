"""Unbounded solver tests: golden cases, moment-match invariant, failure
semantics, and local↔distributed kernel parity (SURVEY §5 layers 1-3, 6).
"""

from __future__ import annotations

import numpy as np
import pytest

from entropy_balance_weighting_spark import entropy_balance


def moment_gap(x, w, m, w0):
    return x.T @ w - m * np.sum(w0)


# --- golden hand-solvable cases (FIXTURES.md §2) ---------------------------


def test_golden_1():
    x = np.array([[1.0], [2.0]])
    w0 = np.array([1.0, 1.0])
    m = np.array([1.5])
    res = entropy_balance(mean_population_moments=m, x_sample=x, weights0=w0)
    assert res.converged
    assert np.allclose(res.new_weights, [1.0, 1.0], atol=1e-6)
    assert np.allclose(moment_gap(x, res.new_weights, m, w0), 0, atol=1e-5)


def test_golden_2():
    x = np.array([[-1.0], [2.0]])
    w0 = np.array([0.5, 0.5])
    m = np.array([0.0])
    res = entropy_balance(mean_population_moments=m, x_sample=x, weights0=w0)
    assert res.converged
    # sum-normalized weights are 2/3, 1/3 (FIXTURES.md golden_2); the raw
    # solution is wstar = q∘r with r = (2^{1/3}, 2^{-2/3})
    normalized = res.new_weights / np.sum(res.new_weights)
    assert np.allclose(normalized, [2.0 / 3, 1.0 / 3], atol=1e-6)
    assert np.allclose(moment_gap(x, res.new_weights, m, w0), 0, atol=1e-5)


def test_golden_readme():
    x = np.array(
        [
            [1.0, 0.0, 0.0],
            [0.0, 1.0, 0.0],
            [0.0, 0.0, 1.0],
            [1.0, 0.0, 0.0],
            [0.0, 1.0, 1.0],
        ]
    )
    w0 = np.ones(5)
    m = np.array([0.35, 0.30, 0.33])
    res = entropy_balance(mean_population_moments=m, x_sample=x, weights0=w0)
    assert res.converged
    assert np.allclose(moment_gap(x, res.new_weights, m, w0), 0, atol=1e-5)


# --- randomized moment-match invariant (the defining postcondition) --------


def test_dense_uniform_moment_match():
    rng = np.random.default_rng(12522)
    n, k = 10_000, 40
    x = rng.uniform(size=(n, k))
    w0 = np.ones(n)
    m = np.mean(rng.uniform(size=(300, k)), axis=0)
    res = entropy_balance(mean_population_moments=m, x_sample=x, weights0=w0)
    assert res.converged
    assert res.n_iterations <= 30
    assert np.allclose(moment_gap(x, res.new_weights, m, w0), 0, atol=1e-5)
    # weights stay close to original (entropy objective)
    assert abs(np.corrcoef(res.new_weights, w0 + rng.normal(0, 1e-12, n))[0, 1]) < 1


def test_weighted_initials_preserved_scale():
    rng = np.random.default_rng(7)
    n, k = 5_000, 5
    x = rng.uniform(size=(n, k))
    w0 = rng.uniform(0.5, 2.0, size=n)
    m = (x.T @ w0) / np.sum(w0) * 1.01
    res = entropy_balance(mean_population_moments=m, x_sample=x, weights0=w0)
    assert res.converged
    assert np.allclose(moment_gap(x, res.new_weights, m, w0), 0, atol=1e-5)
    assert np.isclose(np.sum(res.new_weights), np.sum(w0), rtol=0.2)


# --- collinear robustness (Tikhonov defense; ref test_colinear shape) ------


def test_collinear_columns_still_converge():
    rng = np.random.default_rng(100)
    n = 1000
    c0 = rng.uniform(size=n)
    x = np.column_stack([c0, -0.3 * c0])
    w0 = np.ones(n)
    base = np.mean(c0) * 1.05
    m = np.array([base, -0.3 * base])
    res = entropy_balance(mean_population_moments=m, x_sample=x, weights0=w0)
    assert res.converged
    assert np.allclose(moment_gap(x, res.new_weights, m, w0), 0, atol=1e-4)


# --- validation (must raise; FIXTURES.md §6) -------------------------------


@pytest.mark.parametrize(
    "corrupt",
    ["x_nan", "x_inf", "m_nan", "w_zero", "w_negative", "w_nan"],
)
def test_invalid_inputs_raise(corrupt):
    x = np.array([[1.0], [2.0]])
    w0 = np.array([1.0, 1.0])
    m = np.array([1.5])
    if corrupt == "x_nan":
        x[0, 0] = np.nan
    elif corrupt == "x_inf":
        x[1, 0] = np.inf
    elif corrupt == "m_nan":
        m[0] = np.nan
    elif corrupt == "w_zero":
        w0[0] = 0.0
    elif corrupt == "w_negative":
        w0[1] = -1.0
    elif corrupt == "w_nan":
        w0[0] = np.nan
    with pytest.raises(ValueError):
        entropy_balance(mean_population_moments=m, x_sample=x, weights0=w0)


def test_unknown_option_raises():
    with pytest.raises(ValueError, match="Unknown options"):
        entropy_balance(
            mean_population_moments=np.array([1.5]),
            x_sample=np.array([[1.0], [2.0]]),
            weights0=np.ones(2),
            options={"max_stepz": 3},
        )


# --- failure semantics -----------------------------------------------------


def test_infeasible_returns_original_weights():
    # all-positive X but a negative target: no positive weights can reach it
    x = np.array([[0.1], [0.2], [0.3]])
    w0 = np.ones(3)
    m = np.array([-1.0])
    res = entropy_balance(
        mean_population_moments=m, x_sample=x, weights0=w0
    )
    assert not res.converged
    assert np.allclose(res.new_weights, w0)  # original weights returned
    assert res.failure_weights is not None
    assert res.error_message != ""


# --- warm start (C7) -------------------------------------------------------


def test_warm_start_converges_faster_or_equal():
    rng = np.random.default_rng(5)
    n, k = 2000, 8
    x = rng.uniform(size=(n, k))
    w0 = np.ones(n)
    m = (x.T @ w0) / n * 1.02
    cold = entropy_balance(mean_population_moments=m, x_sample=x, weights0=w0)
    assert cold.converged
    guess = cold.new_weights / w0
    warm = entropy_balance(
        mean_population_moments=m,
        x_sample=x,
        weights0=w0,
        options={"initial_ratio_guess": guess},
    )
    assert warm.converged
    assert warm.n_iterations <= cold.n_iterations


# --- distributed kernel parity --------------------------------------------


@pytest.fixture(scope="module")
def small_problem_tables(spark):
    from entropy_balance_weighting_spark.plans import MomentSpec, build_problem_tables

    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    # NOTE: no intercept — a uniformly perturbed one-hot target set sums to
    # 1.01, which would contradict an exact intercept target of 1.0 (the
    # indicators sum to the intercept column) and make the problem infeasible.
    spec = MomentSpec(
        weight_col="l_quantity",
        numeric=("l_discount", "l_tax"),
        onehot=("l_returnflag",),
        # no unique natural key in the synthetic lineitem — use the default
        # shuffle-free monotonic id (safe: rows are checkpointed before fan-out)
    )
    return build_problem_tables(li, spec)


def test_distributed_matches_local(spark, small_problem_tables):
    from pyspark.sql import functions as F

    from entropy_balance_weighting_spark.plans import MomentSpec
    from entropy_balance_weighting_spark.plans.moment_spec import (
        targets_from_weighted_means,
    )

    pt = small_problem_tables
    spec = MomentSpec(
        weight_col="l_quantity",
        numeric=("l_discount", "l_tax"),
        onehot=("l_returnflag",),
        # no unique natural key in the synthetic lineitem — use the default
        # shuffle-free monotonic id (safe: rows are checkpointed before fan-out)
    )
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    targets = targets_from_weighted_means(li, spec, perturb=0.01)

    local = entropy_balance(
        mean_population_moments=targets,
        x_sample=pt,
        weights0=None,
        options={"local_threshold": 10**9},
    )
    dist = entropy_balance(
        mean_population_moments=targets,
        x_sample=pt,
        weights0=None,
        options={"force_distributed": True},
    )
    assert local.converged and dist.converged

    local_w = {r["row_id"]: r["new_weight"] for r in local.new_weights.collect()}
    dist_w = {r["row_id"]: r["new_weight"] for r in dist.new_weights.collect()}
    assert set(local_w) == set(dist_w)
    diffs = [abs(local_w[rid] - dist_w[rid]) for rid in local_w]
    assert max(diffs) < 1e-6
    assert local.n_iterations == dist.n_iterations


def test_distributed_warm_start_matches_local(spark):
    """A distributed Newton warm start (the guess rides in the base, the
    weight program starts at ``("guess",)``) follows LocalKernel's
    warm-start path — same criterion at every iteration, starting from the
    guess — to the same weights in the same number of iterations; rows
    the guess frame lacks start at ratio 1."""
    import pandas as pd
    from pyspark.sql import functions as F

    from entropy_balance_weighting_spark.plans import (
        MomentSpec,
        build_problem_tables,
    )

    rng = np.random.default_rng(11)
    n, k = 300, 3
    x = rng.uniform(size=(n, k))
    w0 = rng.uniform(0.5, 2.0, n)
    m = (x.T @ w0) / w0.sum() * np.array([1.02, 0.98, 1.01])
    ratio = 1.0 + 0.05 * x[:, 0]
    ratio[::7] = 1.0  # the rows left out of the guess frame below
    local = entropy_balance(
        mean_population_moments=m,
        x_sample=x,
        weights0=w0,
        options={"initial_ratio_guess": ratio},
    )

    cols = [f"x{j}" for j in range(k)]
    pdf = pd.DataFrame({"rid": np.arange(n), "w": w0, "ratio": ratio})
    for j, c in enumerate(cols):
        pdf[c] = x[:, j]
    df = spark.createDataFrame(pdf)
    pt = build_problem_tables(
        df, MomentSpec(weight_col="w", numeric=tuple(cols), row_key=("rid",))
    )
    guess = df.filter(F.col("rid") % 7 != 0).select(
        F.xxhash64("rid").alias("row_id"), "ratio"
    )
    dist = entropy_balance(
        mean_population_moments=m,
        x_sample=pt,
        options={"force_distributed": True, "initial_ratio_guess": guess},
    )
    assert local.converged and dist.converged
    assert dist.n_iterations == local.n_iterations
    np.testing.assert_allclose(
        [h["criterion"] for h in dist.diagnostics["history"]],
        [h["criterion"] for h in local.diagnostics["history"]],
        rtol=1e-8,
    )
    assert local.diagnostics["history"][0]["criterion"] > 0.0
    rid_of = {
        r["row_id"]: r["rid"]
        for r in df.select("rid", F.xxhash64("rid").alias("row_id")).collect()
    }
    got = np.empty(n)
    for r in dist.new_weights.collect():
        got[rid_of[r["row_id"]]] = r["new_weight"]
    np.testing.assert_allclose(got, local.new_weights, rtol=1e-8)


def test_reference_largest_workload_shape_converges():
    """Scaled replica of the reference's largest in-repo dense workload
    (ref: examples/simple_examples.py:9-43 — N=100k × K=2000, 50%
    duplicated columns → collinear, ~95% sparsified): the Tikhonov-
    regularized Newton must converge with an exact moment match.  (The
    full-size version converges in 4 iterations / ~11 s on this path;
    scaled here to keep the suite fast.)"""
    import numpy as np

    from entropy_balance_weighting_spark import entropy_balance

    rng = np.random.RandomState(1252)
    n, k = 20000, 400
    x = rng.uniform(size=(n, k))
    x[:, : k // 2] = x[:, k // 2 :]
    x[np.abs(x) < 0.95] = 0.0
    m = np.mean(x[-n // 3 :, :], 0)
    w0 = np.ones(n)
    res = entropy_balance(
        mean_population_moments=m, x_sample=x, weights0=w0
    )
    assert res.converged
    assert np.allclose(x.T @ res.new_weights, m * w0.sum())


def test_local_kernel_rollback_restores_state():
    """rollback() undoes the last commit — the zero-weight guard needs the
    pre-commit iterate as the failure state (ref: ebw_routines.py:274-282)."""
    import numpy as np

    from entropy_balance_weighting_spark.kernels.local import LocalKernel

    rng = np.random.default_rng(5)
    x = rng.uniform(size=(50, 2))
    w0 = rng.uniform(0.5, 2.0, size=50)
    kern = LocalKernel(x, w0)
    kern.init_state(None)
    before = kern.wstar.copy()
    lam = np.zeros(2)
    dlam = np.array([0.1, -0.05])
    kern.stats(lam)
    kern.step_stats(lam, dlam)
    kern.commit("primal", lam, dlam, 0.5)
    assert not np.allclose(kern.wstar, before)
    kern.rollback()
    np.testing.assert_array_equal(kern.wstar, before)
    with pytest.raises(RuntimeError):
        kern.rollback()


def test_spark_kernel_rollback_restores_state(spark, small_problem_tables):
    """Distributed rollback recomputes the pre-commit state via lineage
    (cache released by the stats reduce) — exact restore required."""
    import numpy as np

    from entropy_balance_weighting_spark.kernels.spark import SparkKernel

    pt = small_problem_tables
    k = pt.moments.count()
    kern = SparkKernel.from_problem(pt.x_long, pt.w0, k)
    lam = np.zeros(k)
    before = {
        r["row_id"]: r["new_weight"] for r in kern.new_weights().collect()
    }
    stats = kern.stats(lam)
    dlam = np.full(k, 0.01)
    kern.step_stats(lam, dlam)
    kern.commit("primal", lam, dlam, 0.5)
    kern.stats(lam + dlam)  # materializes the commit, releases pre-commit cache
    kern.rollback()
    after = {
        r["row_id"]: r["new_weight"] for r in kern.new_weights().collect()
    }
    assert after == pytest.approx(before)
    assert stats is not None
    kern.cleanup()
