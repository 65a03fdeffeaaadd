"""Dense numpy kernel for the elastic interior-point solver — small-N fast
path and the parity oracle for :mod:`kernels.elastic_spark`.

N-dimensional state: ratio r, slacks s_lo/s_hi, inequality multipliers
λ_lo/λ_hi (the reference's ``A_ineq=[I,−I]`` incidence never materializes:
every A_ineq product is a ±combination of these column pairs, SURVEY L7;
ref: ebw_routines.py:365-371).  All K-dimensional state (λ_eq, u, v, λ_u,
λ_v) and scalars (μ_s, μ_u, μ_v, η) live in :mod:`solvers.elastic`.
"""

from __future__ import annotations

import numpy as np

from entropy_balance_weighting_spark.kernels.base import (
    EStats,
    EStepStats,
    ftb_batch,
)


class ElasticLocalKernel:
    def __init__(
        self,
        x: np.ndarray,
        w0: np.ndarray,
        *,
        bounds: tuple[float, float | None],
        ratio_guess: np.ndarray | None = None,
    ) -> None:
        self.x = np.asarray(x, dtype=np.float64)
        self.w0 = np.asarray(w0, dtype=np.float64)
        self.n, self.k = self.x.shape
        self.sum_w0 = float(np.sum(self.w0))
        self.lb = max(float(bounds[0]), 0.0)  # ref clamps lb≥0 (ebw_routines.py:362)
        ub = bounds[1]
        self.has_ub = ub is not None
        self.ub = float(ub) if self.has_ub else 0.0
        self.ratio = (
            np.ones(self.n)
            if ratio_guess is None
            else np.asarray(ratio_guess, dtype=np.float64).copy()
        )
        self.s_lo = self.ratio - self.lb
        self.s_hi = self.ub - self.ratio if self.has_ub else np.ones(self.n)
        if np.any(self.s_lo <= 0) or (self.has_ub and np.any(self.s_hi <= 0)):
            raise ValueError("bounds must strictly contain the initial ratio guess")
        # multipliers_ineq init 0.05 on every present block (ref: 374)
        self.lm_lo = np.full(self.n, 0.05)
        self.lm_hi = np.full(self.n, 0.05) if self.has_ub else np.zeros(self.n)

    # -- shared ------------------------------------------------------------
    def elastic_g1(self) -> np.ndarray:
        """X^T (w0∘r) = A^T r — init constraint gap + final violations."""
        return self.x.T @ (self.w0 * self.ratio)

    def new_weights(self) -> np.ndarray:
        return self.ratio * self.w0

    def cleanup(self) -> None:
        pass

    # -- elementwise pieces (shared by stats/step/commit) -------------------
    def _pieces(self, lam: np.ndarray, eta: float, mu_s: float):
        r, w0 = self.ratio, self.w0
        with np.errstate(divide="ignore", invalid="ignore"):
            lr = np.log(r)
        xlam = self.x @ lam
        lm_net = self.lm_lo - self.lm_hi if self.has_ub else self.lm_lo
        cd = (1.0 / eta) * w0 * lr - w0 * xlam - lm_net
        ci_lo = r - self.s_lo - self.lb
        cs_lo = self.s_lo * self.lm_lo - mu_s
        with np.errstate(divide="ignore", invalid="ignore"):
            ht = (1.0 / eta) * w0 / r + self.lm_lo / self.s_lo
            zterm = self.lm_lo / self.s_lo * (ci_lo + cs_lo / self.lm_lo)
            if self.has_ub:
                ci_hi = -r - self.s_hi + self.ub
                cs_hi = self.s_hi * self.lm_hi - mu_s
                ht = ht + self.lm_hi / self.s_hi
                zterm = zterm - self.lm_hi / self.s_hi * (
                    ci_hi + cs_hi / self.lm_hi
                )
            else:
                ci_hi = np.zeros(self.n)
                cs_hi = np.zeros(self.n)
        return lr, xlam, lm_net, cd, ci_lo, ci_hi, cs_lo, cs_hi, ht, zterm

    def elastic_stats(self, lam: np.ndarray, eta: float, mu_s: float) -> EStats:
        r, w0 = self.ratio, self.w0
        lr, xlam, lm_net, cd, ci_lo, ci_hi, cs_lo, cs_hi, ht, zterm = self._pieces(
            lam, eta, mu_s
        )
        bad = ~np.isfinite(cd) | ~np.isfinite(ht) | (ht <= 0)
        cdf = np.where(bad, 0.0, cd)
        lrf = np.where(np.isfinite(lr), lr, 0.0)
        with np.errstate(over="ignore"):
            alt = np.exp(eta * (xlam + lm_net / w0)) - r
        # An overflowing alternate-optimality exponential is NOT a failure:
        # the reference lets this residual go to inf and keeps iterating
        # (ref: ebw_routines.py:586-600) — only Cd/ht non-finiteness aborts.
        alt_bad = ~np.isfinite(alt)
        altf = np.where(alt_bad, 0.0, alt)
        inv_ht = np.where(bad, 0.0, 1.0 / ht)
        ci_sq = float(ci_lo @ ci_lo) + (
            float(ci_hi @ ci_hi) if self.has_ub else 0.0
        )
        cs_sq = float(cs_lo @ cs_lo) + (
            float(cs_hi @ cs_hi) if self.has_ub else 0.0
        )
        # μ_s decomposition legs + slack/multiplier stats of THIS state, so
        # the driver can update μ_s/η from the same scan (see EStats docs)
        z1 = 1.0 / self.s_lo - (1.0 / self.s_hi if self.has_ub else 0.0)
        sl = self.s_lo * self.lm_lo
        lm_max = float(self.lm_lo.max())
        if self.has_ub:
            sl = np.concatenate([sl, self.s_hi * self.lm_hi])
            lm_max = max(lm_max, float(self.lm_hi.max()))
        return EStats(
            f_val=float(np.sum(w0 * (r * lrf - r + 1.0))),
            cd_sq=float(cdf @ cdf),
            ci_sq=ci_sq,
            cs_sq=cs_sq,
            alt_sq=float("inf") if alt_bad.any() else float(altf @ altf),
            g1=self.x.T @ (w0 * r),
            rhs_leg=self.x.T @ (w0 * inv_ht * (cdf + zterm)),
            rhs_mu_leg=self.x.T @ (w0 * inv_ht * z1),
            gram=(self.x * (w0**2 * inv_ht)[:, None]).T @ self.x,
            sl_sum=float(np.sum(sl)),
            sl_sq=float(sl @ sl),
            sl_min=float(np.min(sl)),
            sl_cnt=float(len(sl)),
            lm_max=lm_max,
            has_nan=bool(bad.any()),
        )

    def _steps(self, lam: np.ndarray, dlam: np.ndarray, eta: float, mu_s: float):
        """Closed-form recovery of the N-dim step blocks from Δλ_eq (the
        Schur back-substitution, ref: ebw_routines.py:507-535)."""
        _, _, _, cd, ci_lo, ci_hi, cs_lo, cs_hi, ht, zterm = self._pieces(
            lam, eta, mu_s
        )
        xdl = self.x @ dlam
        r_step = (1.0 / ht) * (self.w0 * xdl - cd - zterm)
        li_lo = (
            self.lm_lo
            / self.s_lo
            * (-r_step - ci_lo - cs_lo / self.lm_lo)
        )
        ss_lo = (
            -self.s_lo
            - self.s_lo / self.lm_lo * li_lo
            + mu_s / self.lm_lo
        )
        if self.has_ub:
            li_hi = (
                self.lm_hi / self.s_hi * (r_step - ci_hi - cs_hi / self.lm_hi)
            )
            ss_hi = (
                -self.s_hi - self.s_hi / self.lm_hi * li_hi + mu_s / self.lm_hi
            )
        else:
            li_hi = np.zeros(self.n)
            ss_hi = np.zeros(self.n)
        return r_step, li_lo, li_hi, ss_lo, ss_hi

    def elastic_step(
        self, lam: np.ndarray, dlam: np.ndarray, eta: float, mu_s: float
    ) -> EStepStats:
        r_step, li_lo, li_hi, ss_lo, ss_hi = self._steps(lam, dlam, eta, mu_s)
        bad = ~np.isfinite(r_step)
        rsf = np.where(bad, 0.0, r_step)
        ftb_s = ftb_batch(self.s_lo, ss_lo)
        ftb_l = ftb_batch(self.lm_lo, li_lo)
        if self.has_ub:
            ftb_s = min(ftb_s, ftb_batch(self.s_hi, ss_hi))
            ftb_l = min(ftb_l, ftb_batch(self.lm_hi, li_hi))
        return EStepStats(
            rstep_sq=float(rsf @ rsf),
            xt_rstep=self.x.T @ rsf,
            ftb_slack=ftb_s,
            ftb_dual=ftb_l,
            has_nan=bool(bad.any()),
        )

    def elastic_commit(
        self,
        lam: np.ndarray,
        dlam: np.ndarray,
        eta: float,
        mu_s: float,
        alpha_p: float,
        alpha_d: float,
    ) -> None:
        """Advance the N-dim state blocks.  Post-commit slack/multiplier
        aggregates arrive with the NEXT ``elastic_stats`` scan (fused —
        no separate aggregation pass)."""
        r_step, li_lo, li_hi, ss_lo, ss_hi = self._steps(lam, dlam, eta, mu_s)
        self.ratio = self.ratio + alpha_p * r_step
        self.s_lo = self.s_lo + alpha_p * ss_lo
        self.lm_lo = self.lm_lo + alpha_d * li_lo
        if self.has_ub:
            self.s_hi = self.s_hi + alpha_p * ss_hi
            self.lm_hi = self.lm_hi + alpha_d * li_hi
