"""Ratio-bound parsing shared by the four bounded kernels
(``kernels.base.parse_bounds``): an infinite upper bound means no upper
bound, and NaN or inverted bounds raise the named ValueError."""

from __future__ import annotations

import math

import numpy as np
import pytest

from entropy_balance_weighting_spark import entropy_balance, entropy_balance_penalty
from entropy_balance_weighting_spark.kernels.base import BOUNDS_INVALID, parse_bounds


def _problem(n=500, k=4, seed=11):
    rng = np.random.default_rng(seed)
    x = rng.uniform(size=(n, k))
    w0 = rng.uniform(0.5, 2.0, size=n)
    m = x.T @ w0 / w0.sum() * 1.03
    return x, w0, m


def _solve(kind, m, x, w0, bounds, distributed=False):
    opts = {"bounds": bounds}
    if distributed:
        opts["force_distributed"] = True
    if kind == "elastic":
        return entropy_balance(
            mean_population_moments=m, x_sample=x, weights0=w0, options=opts
        )
    return entropy_balance_penalty(m, x, w0, penalty_parameter=4.0, options=opts)


def _weights(res):
    w = res.new_weights
    if isinstance(w, np.ndarray):
        return w
    rows = sorted(w.collect(), key=lambda r: r["row_id"])
    return np.array([r["new_weight"] for r in rows])


def test_parse_bounds():
    assert parse_bounds((0.2, None)) == (0.2, None)
    assert parse_bounds((0.2, math.inf)) == (0.2, None)
    assert parse_bounds((-1.0, 5)) == (0.0, 5.0)
    for bad in [
        (math.nan, 2.0),
        (0.2, math.nan),
        (0.2, -math.inf),
        (0.5, 0.5),
        (2.0, 1.0),
        (-1.0, 0.0),
    ]:
        with pytest.raises(ValueError, match=BOUNDS_INVALID):
            parse_bounds(bad)


@pytest.mark.parametrize("kind", ["elastic", "penalty"])
def test_infinite_upper_bound_is_no_upper_bound_local(kind):
    x, w0, m = _problem()
    ref = _solve(kind, m, x, w0, (0.2, None))
    assert ref.converged
    for ub in (np.inf, float("inf")):
        got = _solve(kind, m, x, w0, (0.2, ub))
        assert got.converged
        assert got.n_iterations == ref.n_iterations
        np.testing.assert_array_equal(_weights(got), _weights(ref))


@pytest.mark.parametrize("kind", ["elastic", "penalty"])
def test_infinite_upper_bound_is_no_upper_bound_distributed(spark, kind):
    import pandas as pd

    from entropy_balance_weighting_spark.plans import MomentSpec, build_problem_tables

    x, w0, m = _problem(n=300)
    pdf = pd.DataFrame({"rid": np.arange(len(w0)), "w": w0})
    for j in range(x.shape[1]):
        pdf[f"x{j}"] = x[:, j]
    spec = MomentSpec(
        weight_col="w",
        numeric=tuple(f"x{j}" for j in range(x.shape[1])),
        row_key=("rid",),
    )
    pt = build_problem_tables(spark.createDataFrame(pdf), spec)
    ref = _solve(kind, m, pt, None, (0.2, None), distributed=True)
    got = _solve(kind, m, pt, None, (0.2, np.inf), distributed=True)
    assert ref.converged and got.converged
    assert got.n_iterations == ref.n_iterations
    np.testing.assert_array_equal(_weights(got), _weights(ref))


def test_invalid_bounds_raise_through_the_solvers():
    x, w0, m = _problem(n=50)
    for kind in ("elastic", "penalty"):
        with pytest.raises(ValueError, match=BOUNDS_INVALID):
            _solve(kind, m, x, w0, (0.2, math.nan))
        with pytest.raises(ValueError, match=BOUNDS_INVALID):
            _solve(kind, m, x, w0, (2.0, 1.0))
