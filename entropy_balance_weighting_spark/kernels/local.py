"""Dense numpy kernel — the small-N fast path and parity oracle.

Semantically identical to :class:`kernels.spark.SparkKernel`; used when the
problem fits comfortably on the driver (SURVEY §7.2 'local fast path').
"""

from __future__ import annotations

import numpy as np

from entropy_balance_weighting_spark.kernels.base import IterStats, StepStats
from entropy_balance_weighting_spark.solvers.linalg import BlockGram, BlockStructure


class LocalKernel:
    def __init__(
        self,
        x: np.ndarray,
        w0: np.ndarray,
        *,
        ratio_guess: np.ndarray | None = None,
    ) -> None:
        self.x = np.asarray(x, dtype=np.float64)
        self.w0 = np.asarray(w0, dtype=np.float64)
        self.n, self.k = self.x.shape
        self.block_structure = BlockStructure.single(self.k)  # dense Gram
        self.sum_w0 = float(np.sum(self.w0))
        self.q = self.w0 / self.sum_w0
        self.init_state(ratio_guess)
        self._cd: np.ndarray | None = None
        self._dw: np.ndarray | None = None
        self._wdual: np.ndarray | None = None
        self._prev_wstar: np.ndarray | None = None

    def init_state(self, ratio_guess: np.ndarray | None) -> None:
        if ratio_guess is None:
            self.wstar = self.q.copy()
        else:
            self.wstar = np.asarray(ratio_guess, dtype=np.float64) * self.q

    def stats(self, lam: np.ndarray) -> IterStats:
        w = self.wstar
        r = w / self.q
        with np.errstate(divide="ignore", invalid="ignore"):
            lr = np.log(r)
            f_val = float(np.sum(self.w0 * (r * lr - r + 1.0)))
            cd = lr - self.x @ lam
        self._cd = cd
        xw = self.x * w[:, None]
        return IterStats(
            f_val=f_val,
            xt_w=self.x.T @ w,
            cd_sq=float(cd @ cd) if np.all(np.isfinite(cd)) else float("nan"),
            xt_wcd=self.x.T @ (w * cd),
            gram=BlockGram(self.block_structure, (xw.T @ self.x).ravel()),
            min_w=float(w.min()) if self.n else 0.0,
            has_nan=bool(np.any(~np.isfinite(cd)) or not np.isfinite(f_val)),
        )

    def step_stats(self, lam: np.ndarray, dlam: np.ndarray) -> StepStats:
        xdl = self.x @ dlam
        cd = self._cd if self._cd is not None else np.log(self.wstar / self.q) - self.x @ lam
        dw = (xdl - cd) * self.wstar
        self._dw = dw
        blocked = dw < 0
        alpha_raw = float(
            np.min(-self.wstar[blocked] / dw[blocked], initial=np.inf)
        )
        wdual = self.q * np.exp(self.x @ (lam + dlam))
        self._wdual = wdual
        return StepStats(
            alpha_raw=alpha_raw,
            xt_dw=self.x.T @ dw,
            dw_sq=float(dw @ dw),
            xt_wdual=self.x.T @ wdual,
            min_wdual=float(wdual.min()) if self.n else 0.0,
            has_nan=bool(np.any(~np.isfinite(dw)) or np.any(~np.isfinite(wdual))),
        )

    def commit(self, choice: str, lam: np.ndarray, dlam: np.ndarray, alpha: float) -> None:
        self._prev_wstar = self.wstar
        if choice == "primal":
            self.wstar = self.wstar + alpha * self._dw
        else:
            self.wstar = self._wdual

    def rollback(self) -> None:
        """Undo the last commit (zero-weight guard: the reference fails
        BEFORE committing, ebw_routines.py:274-282, so failure state must
        hold the last good iterate)."""
        if self._prev_wstar is None:
            raise RuntimeError("no committed step to roll back")
        self.wstar = self._prev_wstar
        self._prev_wstar = None

    def new_weights(self) -> np.ndarray:
        return self.wstar * self.sum_w0

    def cleanup(self) -> None:
        pass
