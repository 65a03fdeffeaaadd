"""Elastic/bounded solver tests (SURVEY §5 layers 5, 10; ref:
test_inequality.py:60-214 full-KKT oracle, test_elastic.py:35-83
infeasibility semantics)."""

from __future__ import annotations

import numpy as np
import pytest

from entropy_balance_weighting_spark import entropy_balance


def _problem(n=400, k=3, seed=7, perturb=1.03):
    rng = np.random.default_rng(seed)
    x = rng.uniform(size=(n, k))
    w0 = rng.uniform(0.5, 2.0, size=n)
    m = x.T @ w0 / w0.sum() * perturb
    return x, w0, m


def test_condensed_step_satisfies_full_kkt_newton_system():
    """The Schur-condensed step + closed-form recoveries must satisfy every
    block of the full linearized KKT system (the reference proves the same
    equivalence against a brute-force factorization,
    ref: test_inequality.py:60-214)."""
    n, k = 40, 3
    x, w0, m = _problem(n=n, k=k, seed=3)
    from entropy_balance_weighting_spark.kernels.elastic_local import (
        ElasticLocalKernel,
    )

    kern = ElasticLocalKernel(x, w0, bounds=(0.3, 2.0))
    a = x * w0[:, None]
    b = m * w0.sum()

    # driver init (mirrors solvers.elastic)
    cv = kern.elastic_g1() - b
    u = np.where(cv < 0, -cv + 0.01, 0.01)
    v = np.where(cv > 0, cv + 0.01, 0.01)
    mu_s = mu_u = mu_v = 0.05
    lu = mu_u / u
    lv = mu_u / v
    lam = np.zeros(k)
    eta = 1.5 * max(lu.max(), lv.max())

    st = kern.elastic_stats(lam, eta, mu_s)
    ce = st.g1 - b + u - v
    cu = 1.0 - lam - lu
    cvv = 1.0 + lam - lv
    clu = u * lu - mu_u
    clv = v * lv - mu_v
    lhs = st.gram.flat.reshape(k, k) + np.diag(u / lu + v / lv)  # one tile
    rhs = ce + (v / lv) * (cvv + clv / v) - (u / lu) * (cu + clu / u) - st.rhs_leg
    dlam = -np.linalg.solve(lhs, rhs)  # δ=0: test the exact condensation

    r_step, li_lo, li_hi, ss_lo, ss_hi = kern._steps(lam, dlam, eta, mu_s)
    u_step = (u / lu) * (dlam - (cu + clu / u))
    v_step = (v / lv) * (-dlam - (cvv + clv / v))
    lu_step = (1.0 / u) * (-clu - lu * u_step)
    lv_step = (1.0 / v) * (-clv - lv * v_step)

    r = kern.ratio
    cd = (1.0 / eta) * w0 * np.log(r) - a @ lam - (kern.lm_lo - kern.lm_hi)
    ci_lo = r - kern.s_lo - kern.lb
    ci_hi = -r - kern.s_hi + kern.ub
    cs_lo = kern.s_lo * kern.lm_lo - mu_s
    cs_hi = kern.s_hi * kern.lm_hi - mu_s

    atol = 1e-9
    # 1: dual feasibility row
    np.testing.assert_allclose(
        (1.0 / eta) * (w0 / r) * r_step - a @ dlam - (li_lo - li_hi),
        -cd,
        atol=atol,
    )
    # 2: elastic equality row
    np.testing.assert_allclose(a.T @ r_step + u_step - v_step, -ce, atol=atol)
    # 3: inequality rows (both bound sides)
    np.testing.assert_allclose(r_step - ss_lo, -ci_lo, atol=atol)
    np.testing.assert_allclose(-r_step - ss_hi, -ci_hi, atol=atol)
    # 4/5: elastic multiplier rows
    np.testing.assert_allclose(-dlam - lu_step, -cu, atol=atol)
    np.testing.assert_allclose(dlam - lv_step, -cvv, atol=atol)
    # 6/7: elastic complementarity rows
    np.testing.assert_allclose(lu * u_step + u * lu_step, -clu, atol=atol)
    np.testing.assert_allclose(lv * v_step + v * lv_step, -clv, atol=atol)
    # 8: slack complementarity rows
    np.testing.assert_allclose(
        kern.lm_lo * ss_lo + kern.s_lo * li_lo, -cs_lo, atol=atol
    )
    np.testing.assert_allclose(
        kern.lm_hi * ss_hi + kern.s_hi * li_hi, -cs_hi, atol=atol
    )


def test_elastic_feasible_matches_targets():
    """Wide bounds + feasible targets: elastic converges and the weighted
    moments reproduce the targets (violations are interior-point-small)."""
    x, w0, m = _problem(seed=11)
    res = entropy_balance(
        mean_population_moments=m,
        x_sample=x,
        weights0=w0,
        options={"bounds": (0.0, None)},
    )
    assert res.converged
    achieved = x.T @ res.new_weights / w0.sum()
    np.testing.assert_allclose(achieved, m, rtol=1e-5)
    assert res.new_weights.min() > 0


def test_elastic_bounds_respected():
    x, w0, m = _problem(seed=19, perturb=1.10)
    res = entropy_balance(
        mean_population_moments=m,
        x_sample=x,
        weights0=w0,
        options={"bounds": (0.8, 1.25)},
    )
    assert res.converged
    ratio = res.new_weights / w0
    assert ratio.min() >= 0.8 - 1e-6
    assert ratio.max() <= 1.25 + 1e-6


def test_elastic_infeasible_converges_with_certificate():
    """Impossible targets (share > 1 per indicator-free scaling): elastic
    still converges; constraint_violations carry the infeasibility
    (ref: README.md:97-99, test_elastic.py:35-83)."""
    x, w0, m = _problem(seed=23)
    m_bad = m * 5.0  # unreachable under ratio ≤ 1.05
    res = entropy_balance(
        mean_population_moments=m_bad,
        x_sample=x,
        weights0=w0,
        options={"bounds": (0.95, 1.05)},
    )
    assert res.converged
    viol = np.abs(res.constraint_violations) / w0.sum()
    assert viol.max() > 0.1  # certifiably infeasible, not silently "solved"


def test_elastic_violation_decreases_with_eta():
    """Higher η (L¹ price) ⇒ weakly smaller violation on an infeasible
    problem (ref: test_elastic.py eta monotonicity)."""
    x, w0, m = _problem(seed=29)
    m_bad = m * 1.5
    viols = []
    for eta in (10.0, 1000.0):
        res = entropy_balance(
            mean_population_moments=m_bad,
            x_sample=x,
            weights0=w0,
            options={"bounds": (0.5, 1.6), "eta": eta},
        )
        assert res.converged
        viols.append(float(np.sum(np.abs(res.constraint_violations))))
    assert viols[1] <= viols[0] * 1.01


def test_elastic_results_fields():
    x, w0, m = _problem(seed=31)
    res = entropy_balance(
        mean_population_moments=m,
        x_sample=x,
        weights0=w0,
        options={"bounds": (0.0, None)},
    )
    assert res.equality_multipliers_estimate.shape == (3,)
    assert res.moment_slack_multipliers_estimate.shape == (6,)
    assert res.eta is not None and res.eta > 0


def test_elastic_distributed_matches_local(spark):
    import pandas as pd

    from entropy_balance_weighting_spark.plans import (
        MomentSpec,
        build_problem_tables,
    )

    x, w0, m = _problem(n=250, seed=37)
    pdf = pd.DataFrame(
        {"rid": np.arange(250), "w": w0, "x0": x[:, 0], "x1": x[:, 1], "x2": x[:, 2]}
    )
    df = spark.createDataFrame(pdf)
    spec = MomentSpec(weight_col="w", numeric=("x0", "x1", "x2"), row_key=("rid",))
    pt = build_problem_tables(df, spec)
    opts = {"bounds": (0.5, 1.8)}
    res_local = entropy_balance(
        mean_population_moments=m, x_sample=x, weights0=w0, options=opts
    )
    res_dist = entropy_balance(
        mean_population_moments=m,
        x_sample=pt,
        options={**opts, "force_distributed": True},
    )
    assert res_local.converged and res_dist.converged
    from pyspark.sql import functions as F

    rows = spark.createDataFrame(pdf[["rid"]]).select(
        "rid", F.xxhash64("rid").alias("row_id")
    ).collect()
    by_rid = {r["rid"]: r["row_id"] for r in rows}
    got = {r["row_id"]: r["new_weight"] for r in res_dist.new_weights.collect()}
    w_dist = np.array([got[by_rid[rid]] for rid in pdf["rid"]])
    np.testing.assert_allclose(w_dist, res_local.new_weights, rtol=1e-5)


def test_reference_readme_golden_bounded_case():
    """The reference README's own worked example (ref: README.md:68-109):
    unbounded weights [1.75, .75, .75, .825, .825]; with bounds (0.5, 1.5)
    the problem turns infeasible, elastic clips the first weight to 1.5
    and certifies violation ≈ −0.25 on moment 0 while the other moments
    stay matched."""
    x = np.array(
        [
            [1.0, 0.0, 0.0],
            [0.0, 1.0, 0.0],
            [0.0, 1.0, 0.0],
            [0.0, 0.0, 1.0],
            [0.0, 0.0, 1.0],
        ]
    )
    m = np.array([0.35, 0.30, 0.33])
    w0 = np.ones(5)

    res = entropy_balance(
        x_sample=x, weights0=w0, mean_population_moments=m
    )
    assert res.converged
    np.testing.assert_allclose(
        res.new_weights, [1.75, 0.75, 0.75, 0.825, 0.825], atol=1e-4
    )

    res_b = entropy_balance(
        x_sample=x,
        weights0=w0,
        mean_population_moments=m,
        options={"bounds": (0.5, 1.5)},
    )
    assert res_b.converged
    np.testing.assert_allclose(
        res_b.new_weights, [1.5, 0.75, 0.75, 0.825, 0.825], atol=1e-4
    )
    np.testing.assert_allclose(
        res_b.constraint_violations, [-0.25, 0.0, 0.0], atol=1e-4
    )


def test_elastic_tiny_weights_large_eta_overflow_is_not_fatal():
    """Overflow in the alternate-optimality exponential
    exp(η·(Xλ + λ_net/w0)) must NOT abort the solve: the reference lets
    that residual become inf and keeps iterating (ebw_routines.py:586-600).
    Repro: w0 ~ 1e-3 with a forced η=20 overflows at iteration 0."""
    x, w0, m = _problem(seed=47)
    w0 = np.full_like(w0, 1e-3)
    m = x.T @ w0 / w0.sum() * 1.03
    res = entropy_balance(
        mean_population_moments=m,
        x_sample=x,
        weights0=w0,
        options={"bounds": (0.0, None), "eta": 20.0},
    )
    assert res.converged, res.error_message
    achieved = x.T @ res.new_weights / w0.sum()
    np.testing.assert_allclose(achieved, m, rtol=1e-4)


@pytest.mark.parametrize("bounds", [(0.3, 2.0), (0.2, None)])
def test_estats_mu_decomposition_identities(bounds):
    """The EStats μ_s-decomposition must be exact: reductions re-derived at
    μ₂ from a μ₁ scan (rhs_leg shift by rhs_mu_leg; cs_sq from the sl
    partials) equal a direct scan at μ₂ — this is what lets the driver
    update the barrier parameter from the same scan with no extra pass."""
    from entropy_balance_weighting_spark.kernels.elastic_local import (
        ElasticLocalKernel,
    )

    x, w0, _ = _problem(n=200, k=3, seed=11)
    kern = ElasticLocalKernel(x, w0, bounds=bounds)
    rng = np.random.default_rng(5)
    lam = rng.normal(scale=0.1, size=3)
    eta, mu1, mu2 = 5.0, 0.05, 0.012
    st1 = kern.elastic_stats(lam, eta, mu1)
    st2 = kern.elastic_stats(lam, eta, mu2)
    np.testing.assert_allclose(
        st1.rhs_leg + (mu1 - mu2) * st1.rhs_mu_leg, st2.rhs_leg, rtol=1e-12
    )
    assert np.isclose(
        st1.sl_sq - 2.0 * mu2 * st1.sl_sum + st1.sl_cnt * mu2**2,
        st2.cs_sq,
        rtol=1e-12,
    )
    # μ-free pieces must agree between the two scans
    assert np.isclose(st1.cd_sq, st2.cd_sq)
    np.testing.assert_allclose(st1.gram.flat, st2.gram.flat)


def test_elastic_distributed_two_jobs_per_iteration(spark):
    """Structural pin of the 2-jobs-per-iteration claim: a distributed
    elastic solve issues exactly one kernel reduce for the init gap, one
    per stats scan (iters+1), and one per step scan (iters) — commits must
    contribute ZERO reduces (they ride the next stats scan), and the final
    violations reuse the breaking stats scan's g1 (no extra scan)."""
    import pandas as pd

    from entropy_balance_weighting_spark.kernels.elastic_spark import (
        ElasticSparkKernel,
    )
    from entropy_balance_weighting_spark.plans import (
        MomentSpec,
        build_problem_tables,
    )

    x, w0, m = _problem(n=250, seed=37)
    pdf = pd.DataFrame(
        {"rid": np.arange(250), "w": w0, "x0": x[:, 0], "x1": x[:, 1], "x2": x[:, 2]}
    )
    df = spark.createDataFrame(pdf)
    spec = MomentSpec(weight_col="w", numeric=("x0", "x1", "x2"), row_key=("rid",))
    pt = build_problem_tables(df, spec)

    n_reduces = 0
    orig_reduce = ElasticSparkKernel._reduce

    def counting_reduce(self, fn, **kw):
        nonlocal n_reduces
        n_reduces += 1
        return orig_reduce(self, fn, **kw)

    ElasticSparkKernel._reduce = counting_reduce
    try:
        res = entropy_balance(
            mean_population_moments=m,
            x_sample=pt,
            options={"bounds": (0.5, 1.8), "force_distributed": True},
        )
    finally:
        ElasticSparkKernel._reduce = orig_reduce
    assert res.converged
    t = res.n_iterations
    # init g1 + (t+1) stats + t steps; final violations reuse st.g1
    assert n_reduces == 2 * t + 2, (n_reduces, t)


def test_eta_growth_cannot_declare_convergence_below_max_multiplier():
    """r3 ADVICE regression: on an iteration where the L1 price eta grows,
    the optimality residuals were evaluated at the PRE-growth eta, so the
    solver must not declare convergence there.  Pin the visible invariant:
    a converged solve started from a deliberately tiny eta ends with
    eta at or above every reported multiplier."""
    x, w0, m = _problem(perturb=1.05)
    res = entropy_balance(
        mean_population_moments=m,
        x_sample=x,
        weights0=w0,
        options={"bounds": (0.5, 2.0), "eta": 1e-2},
    )
    assert res.converged
    hist = res.diagnostics["history"]
    assert hist[-1]["eta"] > 1e-2  # growth actually happened
    mult_max = max(
        float(np.abs(res.equality_multipliers_estimate).max()),
        float(res.moment_slack_multipliers_estimate.max()),
    )
    assert res.eta >= mult_max - 1e-9


def test_consumer_right_after_commit_matches_in_order_path(spark):
    """A commit is applied by the next ``elastic_stats`` as the fused
    commit+stats pass.  ``new_weights()`` or ``elastic_step`` called right
    after ``elastic_commit``, with no stats pass between, declares that
    same pass and leaves its payload unread; the weights and the step
    stats must match the in-order commit → stats path bit for bit."""
    import dataclasses

    import pandas as pd

    from entropy_balance_weighting_spark.kernels.elastic_spark import (
        ElasticSparkKernel,
    )
    from entropy_balance_weighting_spark.plans import (
        MomentSpec,
        build_problem_tables,
    )

    x, w0, _ = _problem(n=250, seed=37)
    pdf = pd.DataFrame(
        {"rid": np.arange(250), "w": w0, "x0": x[:, 0], "x1": x[:, 1], "x2": x[:, 2]}
    )
    spec = MomentSpec(weight_col="w", numeric=("x0", "x1", "x2"), row_key=("rid",))
    pt = build_problem_tables(spark.createDataFrame(pdf), spec)
    lam0, lam1 = np.zeros(pt.k), np.array([0.02, -0.01, 0.015])
    dlam = np.array([0.01, 0.005, -0.02])
    eta, mu_s = 1.0, 0.05

    def committed():
        kern = ElasticSparkKernel.from_problem(
            pt.x_long, pt.w0, pt.k, bounds=(0.5, 1.8),
            known_sums=(pt.sum_w0, pt.n), prepacked=pt.packed_arrays,
        )
        kern.elastic_g1()
        kern.elastic_stats(lam0, eta, mu_s)
        kern.elastic_step(lam0, lam1 - lam0, eta, mu_s)
        kern.elastic_commit(lam0, lam1 - lam0, eta, mu_s, 0.5, 0.4)
        return kern

    def weights(kern):
        rows = sorted(kern.new_weights().collect(), key=lambda r: r["row_id"])
        return np.array([r["new_weight"] for r in rows])

    def step_fields(kern):
        return dataclasses.astuple(kern.elastic_step(lam1, dlam, eta, mu_s))

    in_order, direct_w, direct_s = committed(), committed(), committed()
    try:
        in_order.elastic_stats(lam1, eta, mu_s)  # the fused pass
        want_w, want_s = weights(in_order), step_fields(in_order)
        got_w, got_s = weights(direct_w), step_fields(direct_s)
        np.testing.assert_array_equal(got_w, want_w)
        assert len(got_s) == len(want_s)
        for got, want in zip(got_s, want_s):
            np.testing.assert_array_equal(got, want)
        # the commit moved the weights: the match is not that of the start
        assert not np.allclose(np.sort(want_w), np.sort(w0))
    finally:
        for kern in (in_order, direct_w, direct_s):
            kern.cleanup()
