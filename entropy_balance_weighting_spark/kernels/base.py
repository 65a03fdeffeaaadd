"""Kernel interface shared by the local and distributed implementations."""

from __future__ import annotations

from dataclasses import dataclass
from typing import Protocol

import numpy as np

TAU = 0.995  # fraction-to-boundary (ref: shared.py:76-91 call sites)


def ftb_batch(point: np.ndarray, step: np.ndarray) -> float:
    """Fraction-to-boundary over one block: min(−τ·point/step over
    step<0); +inf when unblocked (the reference's masked-min with
    ``initial=np.inf``, ref: shared.py:76-91)."""
    blocked = step < 0
    if not blocked.any():
        return float("inf")
    return float(np.min(-TAU * point[blocked] / step[blocked]))


@dataclass
class IterStats:
    """All N→{scalar,K,K×K} reductions one Newton iteration needs.

    Computed in a single pass over the data (the distributed kernel fuses
    them into one mapInPandas job).  ``xt_w`` and ``xt_wcd`` are UNSCALED
    (no Σw0 factor); the driver applies scaling.
    """

    f_val: float  # Σ w0·(r·log r − r + 1), r = wstar/q
    xt_w: np.ndarray  # X^T wstar                         (K,)
    cd_sq: float  # ‖Cd‖², Cd = log(wstar/q) − Xλ
    xt_wcd: np.ndarray  # X^T (wstar ∘ Cd)                  (K,)
    gram: "np.ndarray | object"  # X^T Diag(wstar) X: dense (K,K) ndarray, or
    # a solvers.linalg.BlockGram on the block-diagonal large-K path
    min_w: float  # min wstar
    has_nan: bool


@dataclass
class StepStats:
    """Reductions over the candidate steps (primal dw and dual exp-form)."""

    alpha_raw: float  # min(−wstar/dw over dw<0); +inf when unblocked
    xt_dw: np.ndarray  # X^T dw                            (K,)
    dw_sq: float  # ‖dw‖²
    xt_wdual: np.ndarray  # X^T w_dual, w_dual = q·exp(X(λ+Δλ)) (K,)
    min_wdual: float
    has_nan: bool


@dataclass
class PenaltyStats:
    """Per-iteration reductions for the unbounded penalty solver.

    Everything the driver needs is λ-free: ``‖Cd‖²`` and the Woodbury legs
    decompose into c-independent pieces (c = P∘Ce is only known after g1
    arrives), so ONE pass suffices per iteration.
    """

    f_val: float  # Σ w0·(r·log r − r + 1)
    g1: np.ndarray  # X^T (w0∘r)               = A^T r          (K,)
    g2v: np.ndarray  # X^T (w0∘r∘log r)                          (K,)
    h: np.ndarray  # X^T (w0²∘log r)                            (K,)
    s_ll: float  # Σ w0²·(log r)²
    gram: np.ndarray  # X^T Diag(w0∘r) X                          (K,K)
    has_nan: bool


@dataclass
class PBStats:
    """Per-iteration reductions for the BOUNDED penalty solver (log-barrier).

    μ-dependent quantities decompose linearly in μ (``u1 = u1a − μ·u1b``)
    because μ may be updated by the driver AFTER seeing these reductions.
    """

    f_val: float
    g1: np.ndarray  # X^T (w0∘r)                                 (K,)
    sd0_sq: float  # Σ d0², d0 = w0·log r − λ_lo + λ_hi
    hd: np.ndarray  # X^T (w0∘d0)                                 (K,)
    gb: np.ndarray  # X^T Diag(w0²/h̃_b) X, h̃_b = w0/r + λ/s sums (K,K)
    u1a: np.ndarray  # X^T (w0/h̃_b ∘ w0·log r)                    (K,)
    u1b: np.ndarray  # X^T (w0/h̃_b ∘ (1/s_lo − 1/s_hi))           (K,)
    s_sum: float  # Σ s·λ over present slack blocks
    s_sq: float  # Σ (s·λ)²
    s_min: float  # min s·λ
    s_cnt: float  # number of slack entries (n or 2n)
    has_nan: bool


@dataclass
class PBStepStats:
    """Reductions over the bounded-penalty candidate step."""

    p_sq: float  # Σ p_r²
    ftb_slack: float  # min(−τ·s/ds over ds<0) across blocks; +inf unblocked
    ftb_dual: float  # min(−τ·λ/dλ over dλ<0) across blocks
    has_nan: bool


@dataclass
class EStats:
    """Per-iteration reductions for the elastic interior-point solver.

    All scalars/K-vectors the driver needs from the N-dimensional blocks:
    residual square-norms, the Schur legs, and the alternate-optimality
    exponential residual (computed against the SAME state, a documented
    deviation from the reference which mixes pre-/post-update quantities).

    μ_s-dependent quantities additionally carry their decomposition pieces
    (same design as :class:`PBStats`): ``rhs_leg(μ') = rhs_leg(μ) +
    (μ−μ')·rhs_mu_leg`` and ``cs_sq(μ') = sl_sq − 2μ'·sl_sum +
    sl_cnt·μ'²`` — so the driver can update μ_s from THIS scan's slack
    statistics and re-derive the system exactly, with no second pass.
    """

    f_val: float  # Σ w0·(r·log r − r + 1)
    cd_sq: float  # ‖Cd‖², Cd = (1/η)·w0·log r − w0·Xλ − (λ_lo − λ_hi)
    ci_sq: float  # ‖Ci‖² over present slack blocks
    cs_sq: float  # ‖Cs‖² over present slack blocks (at the passed μ_s)
    alt_sq: float  # Σ(exp(η·(Xλ + (λ_lo−λ_hi)/w0)) − r)²
    g1: np.ndarray  # X^T (w0∘r) = A^T r                          (K,)
    rhs_leg: np.ndarray  # X^T (w0/h̃ ∘ (Cd + zterm)), at passed μ_s (K,)
    rhs_mu_leg: np.ndarray  # X^T (w0/h̃ ∘ (1/s_lo − 1/s_hi))     (K,)
    gram: np.ndarray  # X^T Diag(w0²/h̃) X                        (K,K)
    sl_sum: float  # Σ s·λ_ineq over present slack blocks
    sl_sq: float  # Σ (s·λ_ineq)²
    sl_min: float  # min s·λ_ineq
    sl_cnt: float  # number of slack entries (n or 2n)
    lm_max: float  # max λ_ineq over present blocks
    has_nan: bool


@dataclass
class EStepStats:
    """Reductions over the elastic N-dimensional step blocks."""

    rstep_sq: float  # Σ r_step²
    xt_rstep: np.ndarray  # X^T r_step (unweighted; for the Δck test)  (K,)
    ftb_slack: float  # min(−τ·s/ds over ds<0) across slack blocks
    ftb_dual: float  # min(−τ·λ/dλ over dλ<0) across λ_ineq blocks
    has_nan: bool


class Kernel(Protocol):
    """N-dimensional compute surface for the unbounded Newton solver."""

    n: int
    k: int
    sum_w0: float

    def init_state(self, ratio_guess: np.ndarray | None) -> None:
        """Set wstar = q ∘ guess (guess defaults to 1)."""

    def stats(self, lam: np.ndarray) -> IterStats: ...

    def step_stats(self, lam: np.ndarray, dlam: np.ndarray) -> StepStats: ...

    def commit(self, choice: str, lam: np.ndarray, dlam: np.ndarray, alpha: float) -> None:
        """Advance wstar by the chosen candidate ('primal'|'dual')."""

    def rollback(self) -> None:
        """Undo the last commit (zero-weight guard failure path)."""

    def new_weights(self):
        """Final weights in original scale: wstar·Σw0 (ndarray or DataFrame)."""

    def cleanup(self) -> None: ...
