"""Pin the r13 speculative α=1 primal stats fusion (kernels/spark.py).

The step pass fuses the NEXT iteration's stats reductions for the α=1
primal candidate; when the driver indeed commits primal at exactly α=1
(measured: every commit on both unbounded bench problems), ``stats``
returns the stash with zero Spark jobs.  These tests pin the two contract
halves: the fusion must actually fire (hits > 0, fewer jobs), and a fused
solve must be BIT-IDENTICAL to the unfused one — same iteration history
floats, same multipliers, same weights — so iteration-count parity can
never drift.
"""

from __future__ import annotations

import numpy as np
import pytest

from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def problem(spark):
    from entropy_balance_weighting_spark.plans import (
        MomentSpec,
        build_problem_tables,
    )
    from entropy_balance_weighting_spark.plans.moment_spec import (
        targets_from_problem,
    )
    from entropy_balance_weighting_spark.session import load_table

    li = load_table(spark, SF_SMOKE, "lineitem")
    spec = MomentSpec(
        weight_col="l_quantity",
        numeric=("l_discount", "l_tax"),
        onehot=("l_returnflag",),
    )
    pt = build_problem_tables(li, spec)
    return pt, targets_from_problem(pt, perturb=0.02)


@pytest.fixture(scope="module")
def dense_problem(spark):
    """A static-id problem (numeric columns plus an intercept): its base
    is idx-elided, so every pass reads its batches as dense matrices."""
    from entropy_balance_weighting_spark.kernels import blob_plane
    from entropy_balance_weighting_spark.plans import (
        MomentSpec,
        build_problem_tables,
    )
    from entropy_balance_weighting_spark.plans.moment_spec import (
        targets_from_problem,
    )
    from entropy_balance_weighting_spark.session import load_table

    li = load_table(spark, SF_SMOKE, "lineitem")
    spec = MomentSpec(
        weight_col="l_quantity",
        numeric=("l_discount", "l_tax"),
        intercept=True,
    )
    pt = build_problem_tables(li, spec)
    assert blob_plane.dense_idx(pt.packed_arrays, pt.k)
    return pt, targets_from_problem(pt, perturb=0.02)


def _solve(spark, problem, speculate: bool):
    import entropy_balance_weighting_spark.kernels.spark as ks
    from entropy_balance_weighting_spark import entropy_balance

    pt, targets = problem
    kernels = []
    orig_init = ks.SparkKernel.__init__
    orig_spec = ks.SparkKernel._SPECULATE

    def init(self, *a, **kw):
        orig_init(self, *a, **kw)
        kernels.append(self)

    ks.SparkKernel.__init__ = init
    ks.SparkKernel._SPECULATE = speculate
    try:
        res = entropy_balance(
            mean_population_moments=targets,
            x_sample=pt,
            options={"force_distributed": True},
        )
    finally:
        ks.SparkKernel.__init__ = orig_init
        ks.SparkKernel._SPECULATE = orig_spec
    hits = sum(k.spec_hits for k in kernels)
    return res, hits


def _kernel(problem):
    from entropy_balance_weighting_spark.kernels.spark import SparkKernel

    pt, _ = problem
    return SparkKernel.from_problem(
        pt.x_long,
        pt.w0,
        pt.k,
        prepacked=pt.packed_arrays,
        known_sums=(pt.sum_w0, pt.n),
    )


def test_speculative_fusion_fires_and_is_bit_identical(spark, problem):
    res_off, hits_off = _solve(spark, problem, False)
    res_on, hits_on = _solve(spark, problem, True)

    assert hits_off == 0
    # every primal α=1 commit must convert its follow-up stats job into a
    # stash hit
    assert hits_on > 0

    assert res_on.converged and res_off.converged
    assert res_on.n_iterations == res_off.n_iterations
    # bit-exact parity: the speculative pass mirrors _stats_pass expression
    # by expression, so every logged float must be IDENTICAL, not close
    h_on = res_on.diagnostics["history"]
    h_off = res_off.diagnostics["history"]
    assert h_on == h_off
    assert np.array_equal(
        res_on.equality_multipliers_estimate,
        res_off.equality_multipliers_estimate,
    )
    assert np.array_equal(
        res_on.constraint_violations, res_off.constraint_violations
    )
    w_on = res_on.new_weights.orderBy("row_id").collect()
    w_off = res_off.new_weights.orderBy("row_id").collect()
    assert w_on == w_off


def test_max_prog_is_value_neutral(spark, problem):
    """_MAX_PROG only decides replay-vs-materialize; the materialized
    wstar stores exactly what the replay computes, so results must be
    IDENTICAL at any cap.  Pins the r13 4→8 raise as value-neutral."""
    import entropy_balance_weighting_spark.kernels.spark as ks
    from entropy_balance_weighting_spark import entropy_balance

    pt, targets = problem
    out = []
    orig = ks.SparkKernel._MAX_PROG
    try:
        for mp in (2, 8):
            ks.SparkKernel._MAX_PROG = mp
            res = entropy_balance(
                mean_population_moments=targets,
                x_sample=pt,
                options={"force_distributed": True},
            )
            out.append(
                (
                    res.n_iterations,
                    res.diagnostics["history"],
                    res.equality_multipliers_estimate.tolist(),
                    res.new_weights.orderBy("row_id").collect(),
                )
            )
    finally:
        ks.SparkKernel._MAX_PROG = orig
    assert out[0] == out[1]


def test_speculation_disabled_after_two_misses(spark, problem):
    """Two prediction misses (dual commits after speculative steps)
    disable speculation for the rest of the solve: the next step pass
    stashes nothing — bounded waste where the fraction-to-boundary
    binds."""
    kern = _kernel(problem)
    try:
        lam = np.zeros(kern.k)
        dlam = np.full(kern.k, 1e-3)
        kern.stats(lam)
        for _ in range(2):
            kern.step_stats(lam, dlam)
            assert kern._spec is not None
            kern.commit("dual", lam, dlam, 1.0)
            lam = lam + dlam
            kern.stats(lam)
        kern.step_stats(lam, dlam)
        assert kern._spec is None
        assert kern.spec_hits == 0
    finally:
        kern.cleanup()


def test_compaction_keeps_speculation_live(spark, problem, monkeypatch):
    """A primal commit past ``_MAX_PROG`` lin ops compacts the chain into
    the ``wstar`` state; the program restarts from it and appends again,
    so the next α=1 primal commit is still a speculation hit, and the
    stash equals what a real stats pass computes over the state."""
    import entropy_balance_weighting_spark.kernels.spark as ks

    monkeypatch.setattr(ks.SparkKernel, "_MAX_PROG", 2)
    kern = _kernel(problem)
    try:
        lam = np.zeros(kern.k)
        dlam = np.full(kern.k, 1e-3)
        kern.stats(lam)
        for i in range(4):
            kern.step_stats(lam, dlam)
            kern.commit("primal", lam, dlam, 1.0)
            lam = lam + dlam
            if i == 2:
                assert kern._state is not None
                assert kern._wprog == [("state",)]
            hit = kern.stats(lam)
            assert kern.spec_hits == i + 1
        assert [op[0] for op in kern._wprog] == ["state", "lin"]
        real = kern.stats(lam)
        assert kern.spec_hits == 4
        for f in ("f_val", "xt_w", "cd_sq", "xt_wcd", "min_w"):
            assert np.array_equal(getattr(hit, f), getattr(real, f)), f
        assert np.array_equal(hit.gram.flat, real.gram.flat)
    finally:
        kern.cleanup()


def test_rollback_clears_speculative_stash(spark, problem):
    """A rolled-back commit invalidates the stash: stats() after rollback
    must never serve reductions of the undone state."""
    import entropy_balance_weighting_spark.kernels.spark as ks

    pt, _ = problem
    kern = ks.SparkKernel.from_problem(
        pt.x_long,
        pt.w0,
        pt.k,
        prepacked=pt.packed_arrays,
        known_sums=(pt.sum_w0, pt.n),
    )
    lam = np.zeros(kern.k)
    st0 = kern.stats(lam)
    assert st0 is not None
    dlam = np.full(kern.k, 1e-6)
    kern.step_stats(lam, dlam)
    assert kern._spec is not None and not kern._spec["committed"]
    kern.commit("primal", lam, dlam, 1.0)
    assert kern._spec is not None and kern._spec["committed"]
    kern.rollback()
    assert kern._spec is None
    kern.cleanup()


def test_speculative_fusion_is_bit_identical_on_dense_rows(spark, dense_problem):
    test_speculative_fusion_fires_and_is_bit_identical(spark, dense_problem)


def test_compaction_keeps_speculation_live_on_dense_rows(
    spark, dense_problem, monkeypatch
):
    test_compaction_keeps_speculation_live(spark, dense_problem, monkeypatch)


def test_max_prog_is_value_neutral_on_dense_rows(spark, dense_problem):
    test_max_prog_is_value_neutral(spark, dense_problem)
