"""Penalty-solver tests mirroring the reference's strategy (SURVEY §5 layer 7;
ref: test_penalty.py:10-93 monotonicity + scalar≡vector, test_equations.py
Woodbury oracle)."""

from __future__ import annotations

import numpy as np
import pytest

from entropy_balance_weighting_spark import entropy_balance_penalty


def _problem(n=400, k=3, seed=7):
    rng = np.random.default_rng(seed)
    x = rng.uniform(size=(n, k))
    w0 = rng.uniform(0.5, 2.0, size=n)
    m = x.T @ w0 / w0.sum() * 1.05  # miss the sample moments by 5%
    return x, w0, m


def _gap(x, w0, m, res):
    """‖A^T r − b‖ with the result's weights (aggregate-scale miss)."""
    w = res.new_weights
    return float(np.linalg.norm(x.T @ w - m * w0.sum()))


def test_penalty_reduces_moment_gap():
    x, w0, m = _problem()
    base_gap = float(np.linalg.norm(x.T @ w0 - m * w0.sum()))
    res = entropy_balance_penalty(m, x, w0, penalty_parameter=1.0)
    assert res.converged
    assert _gap(x, w0, m, res) < base_gap


def test_penalty_monotone_in_parameter():
    """Higher penalty ⇒ weakly better moment fit (ref: test_penalty.py:10-31)."""
    x, w0, m = _problem()
    gaps = []
    for pen in (0.5, 1.0, 2.0, 8.0):
        res = entropy_balance_penalty(m, x, w0, penalty_parameter=pen)
        assert res.converged
        gaps.append(_gap(x, w0, m, res))
    assert all(a >= b - 1e-9 for a, b in zip(gaps, gaps[1:]))


def test_penalty_scalar_equals_vector():
    """Scalar penalty ≡ per-moment constant vector (ref: test_penalty.py:71-93)."""
    x, w0, m = _problem()
    r1 = entropy_balance_penalty(m, x, w0, penalty_parameter=2.0)
    r2 = entropy_balance_penalty(m, x, w0, penalty_parameter=np.full(3, 2.0))
    np.testing.assert_allclose(r1.new_weights, r2.new_weights, rtol=1e-12)


def test_penalty_parameter_validation():
    x, w0, m = _problem()
    with pytest.raises(ValueError):
        entropy_balance_penalty(m, x, w0, penalty_parameter=-1.0)
    with pytest.raises(ValueError):
        entropy_balance_penalty(m, x, w0, penalty_parameter=np.ones((3, 1)))
    with pytest.raises(ValueError):
        entropy_balance_penalty(m, x, w0, penalty_parameter=np.ones(5))


def test_penalty_newton_step_matches_explicit_solve():
    """One Woodbury step == explicit dense (Diag(w0/r) + A P A^T)^{-1} solve
    (L4 oracle, ref: test_equations.py:42-56, test_penalty.py:127-152)."""
    rng = np.random.default_rng(3)
    n, k = 60, 4
    x = rng.uniform(size=(n, k))
    w0 = rng.uniform(0.5, 2.0, size=n)
    m = x.T @ w0 / w0.sum() * 1.1
    pen = np.full(k, 1.5)
    a = x * w0[:, None]
    b = m * w0.sum()
    r = np.ones(n)
    # explicit: Newton step for grad = w0 log r + A P (A^T r − b),
    # Hessian = Diag(w0/r) + A P A^T
    ce = a.T @ r - b
    grad = w0 * np.log(r) + a @ (pen * ce)
    hess = np.diag(w0 / r) + a @ np.diag(pen) @ a.T
    expected = np.linalg.solve(hess, -grad)

    from entropy_balance_weighting_spark.kernels.penalty_local import (
        PenaltyLocalKernel,
    )

    kern = PenaltyLocalKernel(x, w0)
    st = kern.penalty_stats()
    c = pen * (st.g1 - b)
    gram = st.gram.flat.reshape(k, k)  # a dense Gram is one K×K tile
    t1 = -(st.g2v + gram @ c)
    t2 = np.linalg.solve(np.eye(k) + gram * pen[None, :], t1)
    z = c + pen * t2
    step = -r * (np.log(r) + x @ z)
    np.testing.assert_allclose(step, expected, rtol=1e-9, atol=1e-12)


def test_penalty_bounded_respects_bounds():
    x, w0, m = _problem(seed=11)
    res = entropy_balance_penalty(
        m, x, w0, penalty_parameter=4.0, options={"bounds": (0.5, 1.8)}
    )
    assert res.converged
    ratio = res.new_weights / w0
    assert ratio.min() >= 0.5 - 1e-8
    assert ratio.max() <= 1.8 + 1e-8


def test_penalty_bounded_lower_only():
    x, w0, m = _problem(seed=13)
    res = entropy_balance_penalty(
        m, x, w0, penalty_parameter=4.0, options={"bounds": (0.25, None)}
    )
    assert res.converged
    assert (res.new_weights / w0).min() >= 0.25 - 1e-8


def test_penalty_distributed_matches_local(spark):
    """Spark kernel parity: same problem through ProblemTables, forced
    distributed, must match the numpy path to solver tolerance."""
    import pandas as pd

    from entropy_balance_weighting_spark.plans import (
        MomentSpec,
        build_problem_tables,
    )

    x, w0, m = _problem(n=300, seed=5)
    pdf = pd.DataFrame(
        {
            "rid": np.arange(300),
            "w": w0,
            "x0": x[:, 0],
            "x1": x[:, 1],
            "x2": x[:, 2],
        }
    )
    df = spark.createDataFrame(pdf)
    spec = MomentSpec(weight_col="w", numeric=("x0", "x1", "x2"), row_key=("rid",))
    pt = build_problem_tables(df, spec)
    res_local = entropy_balance_penalty(m, x, w0, penalty_parameter=2.0)
    res_dist = entropy_balance_penalty(
        m,
        pt,
        penalty_parameter=2.0,
        options={"force_distributed": True},
    )
    assert res_dist.converged and res_local.converged
    got = {
        r["row_id"]: r["new_weight"] for r in res_dist.new_weights.collect()
    }
    w_dist = np.array([got[h] for h in _hash_ids(spark, pdf)])
    np.testing.assert_allclose(w_dist, res_local.new_weights, rtol=1e-6)


def _hash_ids(spark, pdf):
    """row_id for each original row under the hashed-key path, in order."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(pdf[["rid"]])
    rows = df.select("rid", F.xxhash64("rid").alias("row_id")).collect()
    by_rid = {r["rid"]: r["row_id"] for r in rows}
    return [by_rid[rid] for rid in pdf["rid"]]


def test_penalty_bounded_distributed_matches_local(spark):
    import pandas as pd

    from entropy_balance_weighting_spark.plans import (
        MomentSpec,
        build_problem_tables,
    )

    x, w0, m = _problem(n=200, seed=17)
    pdf = pd.DataFrame(
        {"rid": np.arange(200), "w": w0, "x0": x[:, 0], "x1": x[:, 1], "x2": x[:, 2]}
    )
    df = spark.createDataFrame(pdf)
    spec = MomentSpec(weight_col="w", numeric=("x0", "x1", "x2"), row_key=("rid",))
    pt = build_problem_tables(df, spec)
    opts = {"bounds": (0.5, 1.8)}
    res_local = entropy_balance_penalty(m, x, w0, penalty_parameter=2.0, options=opts)
    res_dist = entropy_balance_penalty(
        m, pt, penalty_parameter=2.0, options={**opts, "force_distributed": True}
    )
    assert res_dist.converged and res_local.converged
    got = {r["row_id"]: r["new_weight"] for r in res_dist.new_weights.collect()}
    w_dist = np.array([got[h] for h in _hash_ids(spark, pdf)])
    np.testing.assert_allclose(w_dist, res_local.new_weights, rtol=1e-5)


def test_penalty_distributed_warm_start_paths(spark):
    """The split-state kernel's warm-start build (per-row ratio rendered
    into aligned base/state blob caches in ONE scan) must reproduce the
    cold solve, and a bounded warm start outside the bounds must raise
    the named error from inside that same scan."""
    import pandas as pd
    from pyspark.sql import functions as F

    from entropy_balance_weighting_spark.plans import (
        MomentSpec,
        build_problem_tables,
    )

    x, w0, m = _problem(n=200, seed=23)
    pdf = pd.DataFrame(
        {"rid": np.arange(200), "w": w0, "x0": x[:, 0], "x1": x[:, 1], "x2": x[:, 2]}
    )
    df = spark.createDataFrame(pdf)
    spec = MomentSpec(weight_col="w", numeric=("x0", "x1", "x2"), row_key=("rid",))
    pt = build_problem_tables(df, spec)
    cold = entropy_balance_penalty(
        m, pt, penalty_parameter=2.0, options={"force_distributed": True}
    )
    guess = pt.w0.select("row_id", F.lit(1.01).alias("ratio"))
    warm = entropy_balance_penalty(
        m,
        pt,
        penalty_parameter=2.0,
        options={"force_distributed": True, "initial_ratio_guess": guess},
    )
    assert cold.converged and warm.converged
    got_c = {r["row_id"]: r["new_weight"] for r in cold.new_weights.collect()}
    got_w = {r["row_id"]: r["new_weight"] for r in warm.new_weights.collect()}
    keys = sorted(got_c)
    np.testing.assert_allclose(
        np.array([got_w[k] for k in keys]),
        np.array([got_c[k] for k in keys]),
        rtol=1e-5,
    )
    # bounded warm start violating the bounds: the per-row validation
    # rides the pair-encode scan and must surface the named ValueError
    bad = pt.w0.select("row_id", F.lit(2.5).alias("ratio"))
    with pytest.raises(ValueError, match="strictly contain"):
        entropy_balance_penalty(
            m,
            pt,
            penalty_parameter=2.0,
            options={
                "force_distributed": True,
                "bounds": (0.5, 1.8),
                "initial_ratio_guess": bad,
            },
        )
