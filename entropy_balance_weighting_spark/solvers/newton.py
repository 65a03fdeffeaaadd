"""Unbounded entropy-balance Newton solver (SURVEY §3.1, ref C1/C2/C3).

One kernel-agnostic driver loop: every N-dimensional quantity comes from the
kernel as a reduction; everything here is K-dimensional numpy + scalars.

Problem (ref README.md:39-46, public formulation):

    min_r  Σ_i w0_i (r_i log r_i − r_i + 1)
    s.t.   X^T (q ∘ r) = m,     q = w0/Σw0,  wstar := q ∘ r

KKT system and Newton linearization (derived from the public formulation):

    Cd = log(wstar/q) − Xλ            (dual feasibility, N)
    Ce = Σw0 · (X^T wstar − m)        (primal feasibility, K, weight-scaled)

    [Diag(1/wstar)  −X ] [dw ]   [−Cd]
    [X^T             0 ] [dλ ] = [−Ce/Σw0]

    ⇒ (X^T Diag(wstar) X + δI) dλ = −Ce/Σw0 + X^T (wstar ∘ Cd)
      dw = wstar ∘ (X dλ − Cd)

Per iteration: one stats reduction (A1,A3,A4,A5), one K×K regularized solve
(L1-L3), one step reduction (A2,A6), a primal/dual candidate race on ‖Ce‖
(C2), and one state commit.  Failure semantics follow the reference: the
result carries the original weights with the failed attempt preserved
separately (ref: ebw_routines.py:321-331).
"""

from __future__ import annotations

import logging
import math

import numpy as np

from entropy_balance_weighting_spark.kernels.base import TAU, Kernel
from entropy_balance_weighting_spark.results import EntropyBalanceResults
from entropy_balance_weighting_spark.solvers.linalg import (
    solve_regularized,
    tikhonov_penalty,
)

logger = logging.getLogger("entropy_balance_weighting_spark")


def solve_unbounded(
    kernel: Kernel,
    m: np.ndarray,
    options: dict | None,
    *,
    original_weights,
) -> EntropyBalanceResults:
    """Run the unbounded dual/primal Newton iteration on any kernel.

    ``original_weights`` is returned as ``new_weights`` on failure (the
    reference's documented failure contract); it may be an ndarray or a
    DataFrame depending on the kernel.
    """
    opts = options or {}
    max_steps = int(opts.get("max_steps", 30))
    opt_tol = float(opts.get("optimality_violation", 1e-5))
    step_tol = float(opts.get("step_tol", 1e-16))

    k = kernel.k
    sum_w0 = kernel.sum_w0
    lam = np.zeros(k)
    n_steps = 0
    converged = False
    error_message = ""
    ce = np.full(k, np.inf)
    prev_iterate: tuple[np.ndarray, object] | None = None  # (λ, stats) pre-commit
    history: list[dict] = []  # per-iteration trace (reference logging parity)

    stats = kernel.stats(lam)
    while True:
        ce = sum_w0 * (stats.xt_w - m)
        violation = math.sqrt(float(ce @ ce) + stats.cd_sq)
        logger.info(
            "iter=%d f=%.6e |Ce|=%.3e |Cd|=%.3e viol=%.3e min_w=%.3e",
            n_steps,
            stats.f_val,
            float(np.linalg.norm(ce)),
            math.sqrt(max(stats.cd_sq, 0.0)),
            violation,
            stats.min_w,
        )
        history.append(
            {
                "iter": n_steps,
                "criterion": stats.f_val,
                "ce_norm": float(np.linalg.norm(ce)),
                "cd_norm": math.sqrt(max(stats.cd_sq, 0.0)),
                "violation": violation,
                "min_w": stats.min_w,
            }
        )

        if stats.has_nan or not math.isfinite(violation):
            error_message = "NaN in optimality conditions"
            break
        if stats.min_w <= 0.0 and n_steps > 0:
            error_message = (
                "Zero weights reached; feasibility in doubt — "
                "run with bounds=(0.0, None) for an infeasibility certificate"
            )
            if prev_iterate is not None:
                # Primal-candidate underflow is only measurable after the
                # (lazy) commit landed; the reference fails BEFORE committing
                # (ebw_routines.py:274-282), so roll the bad step back —
                # failure_weights must hold the last good iterate.
                lam, stats = prev_iterate
                kernel.rollback()
                n_steps -= 1
            break
        if violation < opt_tol:
            converged = True
            break
        if n_steps >= max_steps:
            error_message = f"Max steps {max_steps} exceeded"
            break

        # Newton system on the driver (K×K)
        penalty = tikhonov_penalty(
            math.sqrt(float(ce @ ce) + stats.cd_sq)
        )
        rhs = -(ce / sum_w0) + stats.xt_wcd
        try:
            dlam = solve_regularized(stats.gram, rhs, penalty)
        except np.linalg.LinAlgError as exc:
            error_message = str(exc)
            break

        step = kernel.step_stats(lam, dlam)
        if step.has_nan:
            error_message = "NaN in step computation"
            break
        alpha = min(1.0, TAU * step.alpha_raw)

        # Candidate race (C2): Ce is linear in the primal step, so the
        # primal candidate's violation needs no extra pass.
        ce_primal = ce + alpha * sum_w0 * step.xt_dw
        ce_dual = sum_w0 * (step.xt_wdual - m)
        use_dual = float(np.linalg.norm(ce_dual)) < float(np.linalg.norm(ce_primal))

        if use_dual and step.min_wdual <= 0.0:
            # The chosen candidate reached zero weights: fail BEFORE
            # committing, as the reference does (ref: ebw_routines.py:274-282)
            # — failure_weights must hold the last good iterate, not a
            # corrupted post-commit state.
            error_message = (
                "Zero weights reached; feasibility in doubt — "
                "run with bounds=(0.0, None) for an infeasibility certificate"
            )
            break
        if alpha < 0.01:
            error_message = (
                "Step collapsed (backtrack < 0.01); feasibility in doubt — "
                "run with bounds=(0.0, None) for an infeasibility certificate"
            )
            break

        prev_iterate = (lam, stats)
        kernel.commit("dual" if use_dual else "primal", lam, dlam, alpha)
        lam = lam + dlam
        n_steps += 1
        stats = kernel.stats(lam)

        # Step-size convergence (ref: shared.py:57-63): primal step norm AND
        # the induced constraint change both below tolerance.
        primal_step_norm = math.sqrt(step.dw_sq)
        delta_ck_norm = float(np.linalg.norm(sum_w0 * step.xt_dw))
        if primal_step_norm < step_tol and delta_ck_norm < step_tol:
            ce = sum_w0 * (stats.xt_w - m)
            converged = True
            logger.info("step sizes converged")
            break

    final_ce = sum_w0 * (stats.xt_w - m)
    attempt = kernel.new_weights()
    return EntropyBalanceResults(
        new_weights=attempt if converged else original_weights,
        converged=converged,
        n_iterations=n_steps,
        constraint_violations=final_ce,
        failure_weights=attempt,
        equality_multipliers_estimate=lam,
        error_message=error_message,
        diagnostics={
            "optimality_violation": float(np.linalg.norm(final_ce)),
            "history": history,
        },
    )
