"""Elastic-mode bounded entropy-balance solver (M4; SURVEY §3.2, ref C4).

Problem (public formulation, ref README.md:92-99): bound-constrained EBW
where the equality constraints are RELAXED with nonnegative elastic slacks
u, v priced at η per unit of L¹ violation:

    min  (1/η)·Σ w0(r log r − r + 1) + 1^T(u+v)
    s.t. A^T r − b + u − v = 0,   A_ineq^T r ≥ bounds,   u, v ≥ 0

so an infeasible problem still "converges", returning the violations as an
infeasibility certificate (ref: README.md:97-99).  A = Diag(w0)X, b = m·Σw0.

Primal-dual interior point with 9 state blocks.  The KKT Newton system —
dimension (n + 5K + up-to-4n) — is condensed analytically to ONE K×K Schur
system (L5, ref: ebw_routines.py:457-506) whose assembly needs exactly
three N-dimensional reductions per iteration (one fused kernel stats pass);
all other step blocks recover in closed form (ref: 507-535).  N-dim state
lives in the kernel; K-dim blocks (λ_eq, u, v, λ_u, λ_v) and scalars
(μ_s, μ_u, μ_v, η) live here.

Per iteration: 1 stats pass (which also materializes the previous lazy
commit AND returns the post-commit slack statistics the barrier rules
need — μ_s-dependent reductions decompose linearly/quadratically in μ_s,
so the driver re-derives them exactly at the updated value) → driver K×K
solve → 1 step pass → driver fraction-to-boundary + K-block steps → lazy
commit (zero jobs).  TWO jobs per iteration, the same shape as the
unbounded Newton solver; only K/K²-sized partials ever cross the driver
boundary (SURVEY §1.4, §3.4).

Documented deviations from the reference (all conservative):
- the alternate-optimality residual is evaluated against one consistent
  state (the reference mixes pre-update residuals with the post-update
  exponential term, ebw_routines.py:586-600);
- convergence breaks at the measured state instead of taking one extra
  committed step past it (ebw_routines.py:602-616);
- η growth (ebw_routines.py:576-584) takes effect one scan later than in
  the reference: η enters the residuals non-linearly, so the iteration
  whose scan detected the growth condition finishes consistently at the
  pre-growth η (μ_s updates are NOT lagged — they are re-derived exactly
  from the same scan).
"""

from __future__ import annotations

import logging
import math
from typing import Any

import numpy as np

from entropy_balance_weighting_spark.kernels.base import ftb_batch
from entropy_balance_weighting_spark.results import EntropyBalanceResults
from entropy_balance_weighting_spark.solvers import linalg

logger = logging.getLogger("entropy_balance_weighting_spark")


def entropy_balance_elastic(
    *,
    mean_population_moments: Any,
    x_sample: Any,
    weights0: Any = None,
    options: dict | None = None,
) -> EntropyBalanceResults:
    """Public elastic entry point (ref: ebw_routines.py:334-340)."""
    from entropy_balance_weighting_spark.kernels.elastic_local import (
        ElasticLocalKernel,
    )
    from entropy_balance_weighting_spark.kernels.elastic_spark import (
        ElasticSparkKernel,
    )
    from entropy_balance_weighting_spark.solvers.api import (
        _build_kernel,
        _validate_options,
    )

    opts = _validate_options(options)
    bounds = opts.get("bounds") or (0.0, None)
    kernel, m, original = _build_kernel(
        x_sample, weights0, mean_population_moments, opts, ElasticLocalKernel,
        ElasticSparkKernel, bounds=bounds,
    )
    return solve_elastic(kernel, m, opts, original_weights=original)


def solve_elastic(
    kernel,
    m: np.ndarray,
    options: dict | None,
    *,
    original_weights,
) -> EntropyBalanceResults:
    opts = options or {}
    max_steps = int(opts.get("max_steps", 100))
    opt_tol = float(opts.get("optimality_violation", 1e-5))
    step_tol = float(opts.get("step_tol", 1e-8))

    k = kernel.k
    sum_w0 = kernel.sum_w0
    b = m * sum_w0

    # K-dim init (ref: ebw_routines.py:372-395): elastic slacks absorb the
    # initial constraint gap so the IP starts strictly interior.
    cv = kernel.elastic_g1() - b
    u = np.where(cv < 0, -cv + 0.01, 0.01)
    v = np.where(cv > 0, cv + 0.01, 0.01)
    mu_s = mu_u = mu_v = 0.05
    lu = mu_u / u
    lv = mu_u / v  # ref uses mu_u for both inits (ebw_routines.py:389)
    lam = np.zeros(k)
    eta = float(opts.get("eta", 1.5 * max(float(lu.max()), float(lv.max()))))

    n_steps = 0
    converged = False
    error_message = ""
    prev_step: tuple[float, float] | None = None
    commit_pending = False
    history: list[dict] = []  # per-iteration trace (reference logging parity)

    while True:
        # ONE scan per iteration start: materializes any pending lazy commit
        # AND returns the post-commit slack/multiplier aggregates plus the
        # μ_s-decomposition legs (EStats), so the barrier update needs no
        # separate pass.
        st = kernel.elastic_stats(lam, eta, mu_s)
        rhs_leg = st.rhs_leg
        cs_sq = st.cs_sq
        if commit_pending:
            # Barrier updates from THIS scan's post-commit state; the
            # μ_s-dependent reductions are re-derived EXACTLY (linear /
            # quadratic in μ_s — see EStats) at the new value.
            new_mu_s = linalg.barrier_mu(st.sl_sum / st.sl_cnt, st.sl_min)
            mu_u = linalg.barrier_mu(float(np.mean(u * lu)), float(np.min(u * lu)))
            mu_v = linalg.barrier_mu(float(np.mean(v * lv)), float(np.min(v * lv)))
            rhs_leg = st.rhs_leg + (mu_s - new_mu_s) * st.rhs_mu_leg
            cs_sq = (
                st.sl_sq
                - 2.0 * new_mu_s * st.sl_sum
                + st.sl_cnt * new_mu_s**2
            )
            mu_s = new_mu_s
            max_lm = max(
                float(np.abs(lam).max()),
                st.lm_max,
                float(lu.max()),
                float(lv.max()),
            )
            if eta < max_lm:
                # Grow the L¹ price (ref: 576-584).  Documented deviation:
                # the growth takes effect from the NEXT scan (η enters the
                # residuals non-linearly, so this iteration's system — built
                # by the same scan — uses the pre-growth η consistently);
                # the reference applies it one pass earlier.
                eta_next = 2.0 * max_lm
            else:
                eta_next = eta
        else:
            eta_next = eta

        ce = st.g1 - b + u - v
        cu = 1.0 - lam - lu
        cvv = 1.0 + lam - lv
        clu = u * lu - mu_u
        clv = v * lv - mu_v
        k_sq = (
            float(ce @ ce)
            + float(cu @ cu)
            + float(cvv @ cvv)
            + float(clu @ clu)
            + float(clv @ clv)
        )
        opt_viol = math.sqrt(st.cd_sq + st.ci_sq + cs_sq + k_sq)
        alt_viol = math.sqrt(st.alt_sq + st.ci_sq + cs_sq + k_sq)
        logger.info(
            "elastic iter=%d f=%.6e |Ce|=%.3e viol=%.3e alt=%.3e eta=%.3e",
            n_steps,
            st.f_val,
            float(np.linalg.norm(ce)),
            opt_viol,
            alt_viol,
            eta,
        )
        history.append(
            {
                "iter": n_steps,
                "criterion": st.f_val,
                "ce_norm": float(np.linalg.norm(ce)),
                "violation": opt_viol,
                "alt_violation": alt_viol,
                "eta": eta,
                "mu_s": mu_s,
            }
        )
        if st.has_nan or not math.isfinite(opt_viol):
            error_message = "NaN in elastic optimality conditions"
            break
        if eta_next <= eta and min(opt_viol, alt_viol) < opt_tol:
            # When η grew this iteration the residuals above were evaluated
            # at the pre-growth η, so declaring convergence here could stop
            # with the L¹ price still below the max multiplier; take one
            # more pass so the check sees the grown η.
            converged = True
            break
        if (
            prev_step is not None
            and prev_step[0] < step_tol
            and prev_step[1] < step_tol
        ):
            converged = True
            logger.info("step sizes converged")
            break
        if n_steps >= max_steps:
            error_message = f"Max steps {max_steps} exceeded"
            break

        # Condensed K×K Schur system (L5) with adaptive Tikhonov (L3) and
        # ×10 escalation on failure (L2; ref: 448-455,497-506).  On the
        # block-diagonal large-K path both lhs assembly and the solve stay
        # per-block — nothing K²-sized on the driver either.  The solve is
        # looked up on the module at call time, so a patched one is seen.
        rhs = (
            ce
            + (v / lv) * (cvv + clv / v)
            - (u / lu) * (cu + clu / u)
            - rhs_leg
        )
        try:
            delta = linalg.tikhonov_penalty(opt_viol)
            dlam = -linalg.solve_regularized(
                st.gram, rhs, delta, shift=u / lu + v / lv
            )
        except np.linalg.LinAlgError:
            error_message = "Singular Schur system"
            break

        sp = kernel.elastic_step(lam, dlam, eta, mu_s)
        if sp.has_nan:
            error_message = "NaN in elastic step"
            break

        # Closed-form K-dim step blocks (ref: 522-535)
        u_step = (u / lu) * (dlam - (cu + clu / u))
        v_step = (v / lv) * (-dlam - (cvv + clv / v))
        lu_step = (1.0 / u) * (-clu - lu * u_step)
        lv_step = (1.0 / v) * (-clv - lv * v_step)

        alpha_p = min(
            1.0, sp.ftb_slack, ftb_batch(u, u_step), ftb_batch(v, v_step)
        )
        alpha_d = min(
            1.0, sp.ftb_dual, ftb_batch(lu, lu_step), ftb_batch(lv, lv_step)
        )

        kernel.elastic_commit(lam, dlam, eta, mu_s, alpha_p, alpha_d)
        commit_pending = True
        eta = eta_next  # η growth applies from the next scan (see above)
        lam = lam + alpha_d * dlam
        u = u + alpha_p * u_step
        v = v + alpha_p * v_step
        lu = lu + alpha_d * lu_step
        lv = lv + alpha_d * lv_step
        n_steps += 1
        prev_step = (
            alpha_p * math.sqrt(sp.rstep_sq),
            float(np.linalg.norm(sum_w0 * alpha_p * sp.xt_rstep)),
        )

    # Every break leaves the loop right after an ``elastic_stats`` scan with
    # no commit pending (commits are followed by the next scan before any
    # break can fire), so ``st.g1`` IS the materialized final state's g1 —
    # reuse it instead of paying one more full ``elastic_g1`` scan.
    final_cv = st.g1 - b
    attempt = kernel.new_weights()
    return EntropyBalanceResults(
        new_weights=attempt if converged else original_weights,
        converged=converged,
        n_iterations=n_steps,
        constraint_violations=final_cv,
        failure_weights=attempt,
        equality_multipliers_estimate=lam,
        moment_slack_multipliers_estimate=np.concatenate([lu, lv]),
        eta=eta,
        error_message=error_message,
        diagnostics={
            "optimality_violation": float(np.linalg.norm(final_cv)),
            "history": history,
        },
    )
