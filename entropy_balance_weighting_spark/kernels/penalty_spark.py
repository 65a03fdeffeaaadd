"""Distributed kernel for the penalty solver — split-state Arrow blobs
over an RDD ``zip``, same execution design as the elastic kernel (one
fused scan per stage, zero per-iteration shuffles, only K/K²-sized
partials cross the driver boundary; the immutable CSR base is cached ONCE
as pre-encoded IPC blobs and never rewritten — commits re-cache only the
mutable state columns; see ``kernels/blob_plane.py``).

State columns: ``ratio`` always (8 B/row); bounded mode adds ``s_lo,
lm_lo, s_hi, lm_hi`` (slacks and inequality multipliers per bound side —
the reference's ``A_ineq=[I,−I]`` incidence never materializes, its
products ARE these column pairs; ref: ebw_penalty.py:275,402-439).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame

from entropy_balance_weighting_spark.kernels import blob_plane
from entropy_balance_weighting_spark.kernels.base import (
    InitGram,
    PBStats,
    PBStepStats,
    PenaltyStats,
    PStepStats,
    Totals,
    ftb_batch,
    parse_bounds,
    unpack,
)
from entropy_balance_weighting_spark.kernels.elastic_spark import (
    _g1_pass,
    _weights,
)
from entropy_balance_weighting_spark.kernels.spark import (
    _flatten_rb,
    _rb_col,
    _rb_with,
    blocks_tuple,
    gram_big,
    pack_rows,
    reduce_pass,
)
from entropy_balance_weighting_spark.solvers.linalg import BlockStructure

UNBOUNDED_STATE = ["ratio"]
BOUNDED_STATE = ["ratio", "s_lo", "lm_lo", "s_hi", "lm_hi"]


def _gram_init_pass(k: int, blocks) -> Callable:
    return reduce_pass(
        lambda rb, x: _rb_col(rb, "w0") ** 2, k, blocks, InitGram
    )


# -- unbounded -------------------------------------------------------------
def _pstats_pass(k: int, blocks) -> Callable:
    def batch(rb, x):
        w0 = _rb_col(rb, "w0")
        r = _rb_col(rb, "ratio")
        with np.errstate(divide="ignore", invalid="ignore"):
            lr = np.log(r)
        bad = ~np.isfinite(lr)
        lrf = np.where(bad, 0.0, lr)
        return {
            "f_val": float(np.sum(w0 * (r * lrf - r + 1.0))),
            "g1": x.tdot(w0 * r, k),
            "g2v": x.tdot(w0 * r * lrf, k),
            "h": x.tdot(w0**2 * lrf, k),
            "s_ll": float(np.sum(w0**2 * lrf**2)),
            "gram": w0 * r,
            "has_nan": float(bad.sum()),
        }

    return reduce_pass(batch, k, blocks, PenaltyStats)


def _p_step(rb, x, z):
    """The batch's ratio r and its step p = −r·(log r + X·z)."""
    r = _rb_col(rb, "ratio")
    with np.errstate(divide="ignore", invalid="ignore"):
        return r, -r * (np.log(r) + x.dot(z))


def _pcommit_pass(z: np.ndarray) -> Callable:
    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            r, p = _p_step(rb, _flatten_rb(rb), z)
            yield _rb_with(rb, ratio=r + np.where(np.isfinite(p), p, 0.0))

    return fn


def _pstep_sq_pass(k: int, z: np.ndarray) -> Callable:
    """Σp² + NaN count for the step just about to be committed."""

    def batch(rb, x):
        _, p = _p_step(rb, x, z)
        bad = ~np.isfinite(p)
        pf = np.where(bad, 0.0, p)
        return {"p_sq": float(pf @ pf), "has_nan": float(bad.sum())}

    return reduce_pass(batch, k, None, PStepStats)


# -- bounded ---------------------------------------------------------------
def _bounded_pieces(rb: pa.RecordBatch, has_ub: bool):
    w0 = _rb_col(rb, "w0")
    r = _rb_col(rb, "ratio")
    s_lo = _rb_col(rb, "s_lo")
    lm_lo = _rb_col(rb, "lm_lo")
    s_hi = _rb_col(rb, "s_hi")
    lm_hi = _rb_col(rb, "lm_hi")
    with np.errstate(divide="ignore", invalid="ignore"):
        lr = np.log(r)
        hb = w0 / r + lm_lo / s_lo + (lm_hi / s_hi if has_ub else 0.0)
        inv_hb = 1.0 / hb
    return w0, r, s_lo, lm_lo, s_hi, lm_hi, lr, inv_hb


def _pbstats_pass(k: int, has_ub: bool, blocks) -> Callable:
    def batch(rb, x):
        w0, r, s_lo, lm_lo, s_hi, lm_hi, lr, inv_hb = _bounded_pieces(
            rb, has_ub
        )
        d0 = w0 * lr - lm_lo + (lm_hi if has_ub else 0.0)
        bad = ~np.isfinite(d0) | ~np.isfinite(inv_hb)
        d0 = np.where(bad, 0.0, d0)
        inv_hb = np.where(bad, 0.0, inv_hb)
        lrf = np.where(np.isfinite(lr), lr, 0.0)
        sinv = 1.0 / s_lo - (1.0 / s_hi if has_ub else 0.0)
        sl = s_lo * lm_lo
        if has_ub:
            sl = np.concatenate([sl, s_hi * lm_hi])
        return {
            "f_val": float(np.sum(w0 * (r * lrf - r + 1.0))),
            "g1": x.tdot(w0 * r, k),
            "sd0_sq": float(d0 @ d0),
            "hd": x.tdot(w0 * d0, k),
            "gb": w0**2 * inv_hb,
            "u1a": x.tdot(w0 * inv_hb * w0 * lrf, k),
            "u1b": x.tdot(w0 * inv_hb * sinv, k),
            "s_sum": float(np.sum(sl)),
            "s_sq": float(sl @ sl),
            "s_min": float(sl.min()),
            "s_cnt": float(len(sl)),
            "has_nan": float(bad.sum()),
        }

    return reduce_pass(batch, k, blocks, PBStats)


def _pb_step_arrays(rb, x, z, mu, has_ub):
    w0, r, s_lo, lm_lo, s_hi, lm_hi, lr, inv_hb = _bounded_pieces(rb, has_ub)
    e = w0 * lr - mu / s_lo + (mu / s_hi if has_ub else 0.0)
    p = -inv_hb * (e + w0 * x.dot(z))
    dl_lo = lm_lo / s_lo * (-p - s_lo + mu / lm_lo)
    dl_hi = (
        lm_hi / s_hi * (p - s_hi + mu / lm_hi) if has_ub else np.zeros(len(r))
    )
    return p, dl_lo, dl_hi, s_lo, lm_lo, s_hi, lm_hi


def _pbstep_pass(k: int, z: np.ndarray, mu: float, has_ub: bool) -> Callable:
    def batch(rb, x):
        p, dl_lo, dl_hi, s_lo, lm_lo, s_hi, lm_hi = _pb_step_arrays(
            rb, x, z, mu, has_ub
        )
        bad = ~np.isfinite(p)
        pf = np.where(bad, 0.0, p)
        ftb_s = ftb_batch(s_lo, pf)
        ftb_l = ftb_batch(lm_lo, dl_lo)
        if has_ub:
            ftb_s = min(ftb_s, ftb_batch(s_hi, -pf))
            ftb_l = min(ftb_l, ftb_batch(lm_hi, dl_hi))
        return {
            "p_sq": float(pf @ pf),
            "ftb_slack": ftb_s,
            "ftb_dual": ftb_l,
            "has_nan": float(bad.sum()),
        }

    return reduce_pass(batch, k, None, PBStepStats)


def _pbcommit_pass(
    z: np.ndarray, mu: float, bp: float, bd: float, has_ub: bool
) -> Callable:
    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            p, dl_lo, dl_hi, s_lo, lm_lo, s_hi, lm_hi = _pb_step_arrays(
                rb, _flatten_rb(rb), z, mu, has_ub
            )
            new_cols = {
                "ratio": _rb_col(rb, "ratio") + bp * p,
                "s_lo": s_lo + bp * p,
                "lm_lo": lm_lo + bd * dl_lo,
            }
            if has_ub:
                new_cols["s_hi"] = s_hi - bp * p
                new_cols["lm_hi"] = lm_hi + bd * dl_hi
            yield _rb_with(rb, **new_cols)

    return fn


class PenaltySparkKernel:
    """Distributed penalty kernel over split-state Arrow blobs."""

    def __init__(
        self, base_rdd, state_rdd, schema, spark, k: int, sum_w0: float,
        n: int, has_ub: bool, bounded: bool, block_structure: BlockStructure,
    ) -> None:
        self._base = base_rdd
        self._state = state_rdd
        self._schema = schema  # decode schema of the JVM-encoded base
        self._spark = spark
        self.k = k
        self.sum_w0 = sum_w0
        self.n = n
        self.has_ub = has_ub
        self.bounded = bounded
        self.block_structure = block_structure
        self._state_names = BOUNDED_STATE if bounded else UNBOUNDED_STATE
        self._prev = None
        self._commits_since_ckpt = 0
        # deferred V1 validation flag — armed by the API layer, consumed
        # by the first reduce (see defer_validation)
        self._validate_first_pass = False

    @classmethod
    def from_problem(
        cls,
        x_long: DataFrame,
        w0: DataFrame,
        k: int,
        *,
        bounds: tuple[float, float | None] | None = None,
        ratio_guess: DataFrame | None = None,
        moment_groups: list[str] | None = None,
        known_sums: tuple[float, int] | None = None,
        prepacked: DataFrame | None = None,
    ) -> "PenaltySparkKernel":
        """Split-state build (``blob_plane.split_state``): no job on a cold
        start — the solve's first pass (``penalty_init``) materializes both
        caches; a warm start counts them here so the bounds error surfaces
        at construction."""
        df, sum_w0, n = pack_rows(x_long, w0, known_sums, prepacked)
        bounded = bounds is not None
        lb, ub_or_none = parse_bounds(bounds) if bounded else (0.0, None)
        has_ub = ub_or_none is not None
        ub = ub_or_none if has_ub else 0.0
        names = BOUNDED_STATE if bounded else UNBOUNDED_STATE

        def state_of(ratio: np.ndarray) -> pa.RecordBatch:
            if bounded:
                s_lo = ratio - lb
                s_hi = (ub - ratio) if has_ub else np.ones(len(ratio))
                lm_hi = 1.0 / s_hi if has_ub else np.zeros(len(ratio))
                arrays = [ratio, s_lo, 1.0 / s_lo, s_hi, lm_hi]
            else:
                arrays = [ratio]
            return pa.RecordBatch.from_arrays(
                [
                    pa.array(np.ascontiguousarray(a, dtype=np.float64))
                    for a in arrays
                ],
                names,
            )

        base_rdd, state_rdd, schema = blob_plane.split_state(
            df, k, state_of,
            bounds=(lb, ub_or_none) if bounded else None,
            ratio_guess=ratio_guess,
        )
        bs = BlockStructure.from_groups(moment_groups) or BlockStructure.single(k)
        return cls(
            base_rdd, state_rdd, schema, df.sparkSession, k, sum_w0, n,
            has_ub, bounded, block_structure=bs,
        )

    # -- plumbing ----------------------------------------------------------
    _reduce = blob_plane.reduce_state
    _commit = blob_plane.commit_state

    _gram_big = property(gram_big)

    def defer_validation(self) -> None:
        """Arm the fused V1 check: the next pass (``penalty_init``, the
        solve's first job, which also materializes both blob caches)
        counts bad X rows / bad weights and raises the V1 ValueError."""
        self._validate_first_pass = True

    # -- shared ------------------------------------------------------------
    def penalty_init(self):
        blocks = blocks_tuple(self.block_structure)
        payload = self._reduce(_gram_init_pass(self.k, blocks), big=self._gram_big)
        return unpack(payload, self.block_structure, InitGram)[0].g2

    def moment_totals(self) -> np.ndarray:
        payload = self._reduce(_g1_pass(self.k))
        return unpack(payload, self.block_structure, Totals)[0].g1

    def new_weights(self) -> DataFrame:
        return blob_plane.weights_df(
            self._spark, self._base.zip(self._state), self._schema, _weights
        )

    def cleanup(self) -> None:
        blob_plane.release(
            self._spark.sparkContext, self._base, self._state, self._prev
        )
        self._prev = None
    # -- unbounded ---------------------------------------------------------
    def penalty_stats(self) -> PenaltyStats:
        blocks = blocks_tuple(self.block_structure)
        payload = self._reduce(_pstats_pass(self.k, blocks), big=self._gram_big)
        return unpack(payload, self.block_structure, PenaltyStats)[0]

    def penalty_commit(self, z: np.ndarray) -> tuple[float, bool]:
        payload = self._reduce(_pstep_sq_pass(self.k, z))
        st = unpack(payload, self.block_structure, PStepStats)[0]
        self._commit(_pcommit_pass(z), self._state_names)
        return st.p_sq, st.has_nan

    # -- bounded -----------------------------------------------------------
    def pb_stats(self) -> PBStats:
        blocks = blocks_tuple(self.block_structure)
        payload = self._reduce(
            _pbstats_pass(self.k, self.has_ub, blocks), big=self._gram_big
        )
        return unpack(payload, self.block_structure, PBStats)[0]

    def pb_step(self, z: np.ndarray, mu: float) -> PBStepStats:
        payload = self._reduce(_pbstep_pass(self.k, z, mu, self.has_ub))
        return unpack(payload, self.block_structure, PBStepStats)[0]

    def pb_commit(self, z: np.ndarray, mu: float, bp: float, bd: float) -> None:
        self._commit(
            _pbcommit_pass(z, mu, bp, bd, self.has_ub), self._state_names
        )
