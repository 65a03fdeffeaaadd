"""Quadratic-penalty EBW solver (M3; SURVEY §3.3, ref C5/C6/L4).

Problem (public formulation, ref README.md:117-129):

    min_r  Σ_i w0_i (r_i log r_i − r_i + 1) + ½ (A^T r − b)^T P (A^T r − b)

with A = Diag(w0)·X, b = m·Σw0, P = Diag(penalty).  Optional ratio bounds
add a log-barrier on slacks (ref: ebw_penalty.py:252-399).  Higher penalty
⇒ weakly better moment fit; neither collinearity nor inconsistent targets
can fail (the criterion is globally smooth).

The Newton step through (Diag(w0/r) + A·P·A^T)^{-1} never materializes an
N×N matrix: the Woodbury identity (L4, ref: ebw_penalty.py:442-462) reduces
it to a K×K inner solve on the driver, with the two N-dimensional legs
expressed as the kernel's A1/A2-shaped reductions.  Everything here is
K-dimensional numpy + scalars; one kernel pass per stage (SURVEY §1.4).

Deviation from the reference, documented: the unbounded loop's step-size
convergence test uses the CURRENT committed step norm (the reference reads
a stale variable that is never updated on the unbounded path —
ebw_penalty.py:185,209 — so its step test can never fire there; the bounded
path updates it properly and we mirror that behavior on both).
"""

from __future__ import annotations

import logging
import math

import numpy as np

from entropy_balance_weighting_spark.results import EntropyBalanceResults
from entropy_balance_weighting_spark.solvers.linalg import barrier_mu

logger = logging.getLogger("entropy_balance_weighting_spark")


def _solve_i_plus_gp(g, p: np.ndarray, rhs: np.ndarray) -> np.ndarray:
    """Solve (I + G·Diag(p)) x = rhs — the Woodbury inner system."""
    return g.solve_i_plus_g_diag(p, rhs)


def check_penalty_parameter(k: int, penalty_parameter) -> np.ndarray:
    """Scalar → K-vector fill; shape/positivity checks (C10, ref:
    ebw_penalty.py:493-503)."""
    if np.ndim(penalty_parameter) == 0:
        penalty_parameter = np.full(k, float(penalty_parameter))
    elif np.ndim(penalty_parameter) > 1:
        raise ValueError("Penalty parameter must be float or vector.")
    elif np.shape(penalty_parameter) != (k,):
        raise ValueError("Penalties must be one per moment.")
    p = np.asarray(penalty_parameter, dtype=np.float64)
    if not np.all(p > 0.0):
        raise ValueError("Penalty parameters must be strictly positive.")
    return p


def _results(kernel, m, converged, n_steps, original_weights):
    ce_final = kernel.moment_totals() - m * kernel.sum_w0
    biggest = int(np.argmax(np.abs(ce_final)))
    logger.info(
        "largest miss: moment %d value %.6e", biggest, float(ce_final[biggest])
    )
    attempt = kernel.new_weights()
    return EntropyBalanceResults(
        new_weights=attempt if converged else original_weights,
        converged=converged,
        n_iterations=n_steps,
        constraint_violations=ce_final,
        failure_weights=attempt,
        diagnostics={"largest_miss_moment": biggest},
    )


def solve_penalty(
    kernel,
    m: np.ndarray,
    penalty_parameter,
    options: dict | None,
    *,
    original_weights,
) -> EntropyBalanceResults:
    """Unbounded penalty Newton loop (ref: ebw_penalty.py:188-230)."""
    opts = options or {}
    p = check_penalty_parameter(kernel.k, penalty_parameter)
    max_steps = int(opts.get("max_steps", 30))
    opt_tol = float(opts.get("optimality_violation", 1e-5))
    step_tol = float(opts.get("step_tol", 1e-8))

    b = m * kernel.sum_w0
    g2 = kernel.penalty_init()  # X^T Diag(w0²) X, once
    n_steps = 0
    converged = False

    while True:
        st = kernel.penalty_stats()
        ce = st.g1 - b
        c = p * ce
        cd_sq = st.s_ll + 2.0 * float(c @ st.h) + float(c @ g2.matvec(c))
        cd_norm = math.sqrt(max(cd_sq, 0.0))
        logger.info(
            "penalty iter=%d f=%.6e |Ce|=%.3e |Cd|=%.3e",
            n_steps,
            st.f_val,
            float(np.linalg.norm(ce)),
            cd_norm,
        )
        if st.has_nan or not math.isfinite(cd_norm):
            logger.info("NaN in penalty criterion — failing")
            break

        # Woodbury: t2 = (I + V invA U)^{-1} V invA x, all driver-side
        t1 = -(st.g2v + st.gram.matvec(c))
        t2 = _solve_i_plus_gp(st.gram, p, t1)
        z = c + p * t2
        step_sq, step_nan = kernel.penalty_commit(z)
        n_steps += 1
        if step_nan:
            logger.info("NaN in penalty step — failing")
            break
        # reference order: the commit lands, then convergence is judged on
        # the pre-commit Cd (ebw_penalty.py:216-226)
        if cd_norm < opt_tol or math.sqrt(step_sq) < step_tol:
            converged = True
            break
        if n_steps > max_steps:
            logger.info("Max steps %d exceeded.", max_steps)
            break

    return _results(kernel, m, converged, n_steps, original_weights)


def solve_penalty_bounded(
    kernel,
    m: np.ndarray,
    penalty_parameter,
    options: dict | None,
    *,
    original_weights,
) -> EntropyBalanceResults:
    """Bounded penalty loop: log-barrier on slacks, adaptive μ, condensed
    step via Woodbury (ref: ebw_penalty.py:252-399,402-439)."""
    opts = options or {}
    p = check_penalty_parameter(kernel.k, penalty_parameter)
    max_steps = int(opts.get("max_steps", 100))
    opt_tol = float(opts.get("optimality_violation", 1e-5))
    step_tol = float(opts.get("step_tol", 1e-8))

    b = m * kernel.sum_w0
    g2 = kernel.penalty_init()
    mu = 1.0
    n_steps = 0
    converged = False

    while True:
        st = kernel.pb_stats()
        ce = st.g1 - b
        c = p * ce
        cd_sq = st.sd0_sq + 2.0 * float(c @ st.hd) + float(c @ g2.matvec(c))
        cd_norm = math.sqrt(max(cd_sq, 0.0))
        cs_sq = st.s_sq - 2.0 * mu * st.s_sum + st.s_cnt * mu * mu
        cs_norm = math.sqrt(max(cs_sq, 0.0))
        logger.info(
            "pb iter=%d f=%.6e |Ce|=%.3e |Cd|=%.3e |Cs|=%.3e mu=%.3e",
            n_steps,
            st.f_val,
            float(np.linalg.norm(ce)),
            cd_norm,
            cs_norm,
            mu,
        )
        if st.has_nan or not math.isfinite(cd_norm):
            logger.info("NaN in bounded-penalty criterion — failing")
            break

        # Barrier update when the perturbed KKT error is already ≤ μ
        # (Mehrotra-flavored ζ/σ rule, ref: ebw_penalty.py:319-323)
        if max(cd_norm, cs_norm) <= mu:
            mu = barrier_mu(st.s_sum / st.s_cnt, st.s_min)

        u1 = st.u1a - mu * st.u1b
        t1 = -(u1 + st.gb.matvec(c))
        t2 = _solve_i_plus_gp(st.gb, p, t1)
        z = c + p * t2

        sp = kernel.pb_step(z, mu)
        if sp.has_nan:
            logger.info("NaN in bounded-penalty step — failing")
            break
        # Instability guard (C6): huge steps mean the penalty is too stiff
        if math.sqrt(sp.p_sq) / kernel.n > 1.0:
            p = p / 1.2
            logger.info("penalty numerically unstable — shrinking 20%%")
            n_steps += 1
            if n_steps > max_steps:
                break
            continue

        bp = min(1.0, sp.ftb_slack)
        bd = min(1.0, sp.ftb_dual)
        kernel.pb_commit(z, mu, bp, bd)
        n_steps += 1

        primal_step_norm = bp * math.sqrt(sp.p_sq)
        if cd_norm < opt_tol or primal_step_norm < step_tol:
            converged = True
            break
        if n_steps > max_steps:
            logger.info("Max steps %d exceeded.", max_steps)
            break

    return _results(kernel, m, converged, n_steps, original_weights)
