"""Dense numpy kernel for the penalty solver — small-N fast path and the
parity oracle for :mod:`kernels.penalty_spark`.

Implements the N-dimensional compute surface of the quadratic-penalty EBW
problem (ref: ebw_penalty.py:17-23 unbounded, 252-399 bounded); all K-dim
algebra (Woodbury inner solve, μ updates) lives in
:mod:`solvers.penalty`.
"""

from __future__ import annotations

import numpy as np

from entropy_balance_weighting_spark.kernels.base import (
    PBStats,
    PBStepStats,
    PenaltyStats,
    ftb_batch,
)


class PenaltyLocalKernel:
    """State: ratio r (N,); bounded mode adds slacks/multipliers per bound."""

    def __init__(
        self,
        x: np.ndarray,
        w0: np.ndarray,
        *,
        bounds: tuple[float, float | None] | None = None,
        ratio_guess: np.ndarray | None = None,
    ) -> None:
        self.x = np.asarray(x, dtype=np.float64)
        self.w0 = np.asarray(w0, dtype=np.float64)
        self.n, self.k = self.x.shape
        self.sum_w0 = float(np.sum(self.w0))
        self.ratio = (
            np.ones(self.n)
            if ratio_guess is None
            else np.asarray(ratio_guess, dtype=np.float64).copy()
        )
        self.has_ub = False
        if bounds is not None:
            lb = max(float(bounds[0]), 0.0)  # ref clamps lb≥0 (ebw_penalty.py:277)
            ub = bounds[1]
            self.lb = lb
            self.has_ub = ub is not None
            self.s_lo = self.ratio - lb
            self.lm_lo = 1.0 / self.s_lo  # λ = μ/s with initial μ = 1.0
            if self.has_ub:
                self.ub = float(ub)
                self.s_hi = self.ub - self.ratio
            else:
                self.s_hi = np.ones(self.n)  # inert
            if np.any(self.s_lo <= 0) or (self.has_ub and np.any(self.s_hi <= 0)):
                raise ValueError(
                    "bounds must strictly contain the initial ratio guess"
                )
            self.lm_hi = (
                1.0 / self.s_hi if self.has_ub else np.zeros(self.n)
            )

    # -- shared ------------------------------------------------------------
    def penalty_init(self) -> np.ndarray:
        """G2 = X^T Diag(w0²) X — constant across iterations (for ‖Cd‖²)."""
        return (self.x * (self.w0**2)[:, None]).T @ self.x

    def moment_totals(self) -> np.ndarray:
        """X^T (w0∘r) = A^T r — the final constraint-gap reduce."""
        return self.x.T @ (self.w0 * self.ratio)

    def new_weights(self) -> np.ndarray:
        return self.ratio * self.w0

    def cleanup(self) -> None:
        pass

    # -- unbounded ---------------------------------------------------------
    def penalty_stats(self) -> PenaltyStats:
        r, w0 = self.ratio, self.w0
        with np.errstate(divide="ignore", invalid="ignore"):
            lr = np.log(r)
        bad = ~np.isfinite(lr)
        lrf = np.where(bad, 0.0, lr)
        f_val = float(np.sum(w0 * (r * lrf - r + 1.0)))
        return PenaltyStats(
            f_val=f_val,
            g1=self.x.T @ (w0 * r),
            g2v=self.x.T @ (w0 * r * lrf),
            h=self.x.T @ (w0**2 * lrf),
            s_ll=float(np.sum(w0**2 * lrf**2)),
            gram=(self.x * (w0 * r)[:, None]).T @ self.x,
            has_nan=bool(bad.any()),
        )

    def penalty_commit(self, z: np.ndarray) -> tuple[float, bool]:
        """Full Newton step p = −r·(log r + X z); returns (Σp², has_nan)."""
        r = self.ratio
        with np.errstate(divide="ignore", invalid="ignore"):
            p = -r * (np.log(r) + self.x @ z)
        bad = ~np.isfinite(p)
        self.ratio = r + np.where(bad, 0.0, p)
        pf = np.where(bad, 0.0, p)
        return float(pf @ pf), bool(bad.any())

    # -- bounded -----------------------------------------------------------
    def _hb(self) -> np.ndarray:
        hb = self.w0 / self.ratio + self.lm_lo / self.s_lo
        if self.has_ub:
            hb = hb + self.lm_hi / self.s_hi
        return hb

    def pb_stats(self) -> PBStats:
        r, w0 = self.ratio, self.w0
        with np.errstate(divide="ignore", invalid="ignore"):
            lr = np.log(r)
            hb = self._hb()
            inv_hb = 1.0 / hb
        d0 = w0 * lr - self.lm_lo + (self.lm_hi if self.has_ub else 0.0)
        bad = ~np.isfinite(d0) | ~np.isfinite(inv_hb)
        d0 = np.where(bad, 0.0, d0)
        inv_hb = np.where(bad, 0.0, inv_hb)
        lrf = np.where(np.isfinite(lr), lr, 0.0)
        f_val = float(np.sum(w0 * (r * lrf - r + 1.0)))
        sl = self.s_lo * self.lm_lo
        if self.has_ub:
            sl = np.concatenate([sl, self.s_hi * self.lm_hi])
        sinv = 1.0 / self.s_lo - (1.0 / self.s_hi if self.has_ub else 0.0)
        return PBStats(
            f_val=f_val,
            g1=self.x.T @ (w0 * r),
            sd0_sq=float(d0 @ d0),
            hd=self.x.T @ (w0 * d0),
            gb=(self.x * (w0**2 * inv_hb)[:, None]).T @ self.x,
            u1a=self.x.T @ (w0 * inv_hb * w0 * lrf),
            u1b=self.x.T @ (w0 * inv_hb * sinv),
            s_sum=float(np.sum(sl)),
            s_sq=float(sl @ sl),
            s_min=float(np.min(sl)),
            s_cnt=float(len(sl)),
            has_nan=bool(bad.any()),
        )

    def _pb_steps(self, z: np.ndarray, mu: float):
        r, w0 = self.ratio, self.w0
        lr = np.log(r)
        inv_hb = 1.0 / self._hb()
        e = w0 * lr - mu / self.s_lo + (mu / self.s_hi if self.has_ub else 0.0)
        p = -inv_hb * (e + w0 * (self.x @ z))
        dl_lo = self.lm_lo / self.s_lo * (-p - self.s_lo + mu / self.lm_lo)
        dl_hi = (
            self.lm_hi / self.s_hi * (p - self.s_hi + mu / self.lm_hi)
            if self.has_ub
            else np.zeros(self.n)
        )
        return p, dl_lo, dl_hi

    def pb_step(self, z: np.ndarray, mu: float) -> PBStepStats:
        p, dl_lo, dl_hi = self._pb_steps(z, mu)
        bad = ~np.isfinite(p)
        pf = np.where(bad, 0.0, p)
        ftb_s = ftb_batch(self.s_lo, pf)
        ftb_l = ftb_batch(self.lm_lo, dl_lo)
        if self.has_ub:
            ftb_s = min(ftb_s, ftb_batch(self.s_hi, -pf))
            ftb_l = min(ftb_l, ftb_batch(self.lm_hi, dl_hi))
        return PBStepStats(
            p_sq=float(pf @ pf),
            ftb_slack=ftb_s,
            ftb_dual=ftb_l,
            has_nan=bool(bad.any()),
        )

    def pb_commit(self, z: np.ndarray, mu: float, bp: float, bd: float) -> None:
        p, dl_lo, dl_hi = self._pb_steps(z, mu)
        self.ratio = self.ratio + bp * p
        self.s_lo = self.s_lo + bp * p  # slack step = A_ineq^T p = [p; −p]
        self.lm_lo = self.lm_lo + bd * dl_lo
        if self.has_ub:
            self.s_hi = self.s_hi - bp * p
            self.lm_hi = self.lm_hi + bd * dl_hi
