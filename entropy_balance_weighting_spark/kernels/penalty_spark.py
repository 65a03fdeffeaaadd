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
    PBStats,
    PBStepStats,
    PenaltyStats,
    ftb_batch,
)
from entropy_balance_weighting_spark.kernels.blob_plane import pack_payload
from entropy_balance_weighting_spark.kernels.spark import (
    _flatten_rb,
    _rb_col,
    _rb_with,
    _x_dot,
    _xt_v,
    blocks_tuple,
    count_bad_entries,
    gram_from_sums,
    make_gram_accum,
    pack_rows,
    raise_if_bad,
    reduce_big,
)

UNBOUNDED_STATE = ["ratio"]
BOUNDED_STATE = ["ratio", "s_lo", "lm_lo", "s_hi", "lm_hi"]


def _gram_init_pass(k: int, blocks, validate: bool = False) -> Callable:
    """``validate``: append the V1 bad-entry counts to the payload — the
    deferred validation rides this first pass (which also materializes
    both blob caches) instead of running its own aggregate."""

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[tuple[bytes, bytes]]:
        g2, g2_add = make_gram_accum(k, blocks)
        bad_x = bad_w = 0.0
        for rb in batches:
            if not rb.num_rows:
                continue
            flat_idx, flat_val, lens = _flatten_rb(rb)
            w0 = _rb_col(rb, "w0")
            if validate:
                bx, bw = count_bad_entries(flat_val, lens, w0)
                bad_x += bx
                bad_w += bw
            g2_add(flat_idx, flat_val, lens, w0**2)
        sums = [g2, bad_x, bad_w] if validate else [g2]
        yield pack_payload(sums, [np.inf])

    return fn


def _moment_totals_pass(k: int) -> Callable:
    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[tuple[bytes, bytes]]:
        g1 = np.zeros(k)
        for rb in batches:
            if not rb.num_rows:
                continue
            flat_idx, flat_val, lens = _flatten_rb(rb)
            w0 = _rb_col(rb, "w0")
            r = _rb_col(rb, "ratio")
            g1 += _xt_v(flat_idx, flat_val, lens, w0 * r, k)
        yield pack_payload([g1], [np.inf])

    return fn


# -- unbounded -------------------------------------------------------------
def _pstats_pass(k: int, blocks) -> Callable:
    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[tuple[bytes, bytes]]:
        f_val = 0.0
        s_ll = 0.0
        nan_ct = 0.0
        g1 = np.zeros(k)
        g2v = np.zeros(k)
        h = np.zeros(k)
        gram, gram_add = make_gram_accum(k, blocks)
        for rb in batches:
            if not rb.num_rows:
                continue
            flat_idx, flat_val, lens = _flatten_rb(rb)
            w0 = _rb_col(rb, "w0")
            r = _rb_col(rb, "ratio")
            with np.errstate(divide="ignore", invalid="ignore"):
                lr = np.log(r)
            bad = ~np.isfinite(lr)
            nan_ct += float(bad.sum())
            lrf = np.where(bad, 0.0, lr)
            f_val += float(np.sum(w0 * (r * lrf - r + 1.0)))
            s_ll += float(np.sum(w0**2 * lrf**2))
            g1 += _xt_v(flat_idx, flat_val, lens, w0 * r, k)
            g2v += _xt_v(flat_idx, flat_val, lens, w0 * r * lrf, k)
            h += _xt_v(flat_idx, flat_val, lens, w0**2 * lrf, k)
            gram_add(flat_idx, flat_val, lens, w0 * r)
        yield pack_payload([f_val, s_ll, nan_ct, g1, g2v, h, gram], [np.inf])

    return fn


def _pcommit_pass(z: np.ndarray) -> Callable:
    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            if not rb.num_rows:
                yield rb
                continue
            flat_idx, flat_val, lens = _flatten_rb(rb)
            r = _rb_col(rb, "ratio")
            with np.errstate(divide="ignore", invalid="ignore"):
                p = -r * (np.log(r) + _x_dot(flat_idx, flat_val, lens, z))
            yield _rb_with(rb, ratio=r + np.where(np.isfinite(p), p, 0.0))

    return fn


def _pstep_sq_pass(z: np.ndarray) -> Callable:
    """Σp² + NaN count for the step just about to be committed."""

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[tuple[bytes, bytes]]:
        p_sq = 0.0
        nan_ct = 0.0
        for rb in batches:
            if not rb.num_rows:
                continue
            flat_idx, flat_val, lens = _flatten_rb(rb)
            r = _rb_col(rb, "ratio")
            with np.errstate(divide="ignore", invalid="ignore"):
                p = -r * (np.log(r) + _x_dot(flat_idx, flat_val, lens, z))
            bad = ~np.isfinite(p)
            nan_ct += float(bad.sum())
            pf = np.where(bad, 0.0, p)
            p_sq += float(pf @ pf)
        yield pack_payload([p_sq, nan_ct], [np.inf])

    return fn


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
    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[tuple[bytes, bytes]]:
        f_val = 0.0
        sd0_sq = 0.0
        s_sum = 0.0
        s_sq = 0.0
        nan_ct = 0.0
        s_min = np.inf
        g1 = np.zeros(k)
        hd = np.zeros(k)
        u1a = np.zeros(k)
        u1b = np.zeros(k)
        gb, gb_add = make_gram_accum(k, blocks)
        for rb in batches:
            if not rb.num_rows:
                continue
            flat_idx, flat_val, lens = _flatten_rb(rb)
            w0, r, s_lo, lm_lo, s_hi, lm_hi, lr, inv_hb = _bounded_pieces(
                rb, has_ub
            )
            d0 = w0 * lr - lm_lo + (lm_hi if has_ub else 0.0)
            bad = ~np.isfinite(d0) | ~np.isfinite(inv_hb)
            nan_ct += float(bad.sum())
            d0 = np.where(bad, 0.0, d0)
            inv_hb = np.where(bad, 0.0, inv_hb)
            lrf = np.where(np.isfinite(lr), lr, 0.0)
            f_val += float(np.sum(w0 * (r * lrf - r + 1.0)))
            sd0_sq += float(d0 @ d0)
            g1 += _xt_v(flat_idx, flat_val, lens, w0 * r, k)
            hd += _xt_v(flat_idx, flat_val, lens, w0 * d0, k)
            u1a += _xt_v(flat_idx, flat_val, lens, w0 * inv_hb * w0 * lrf, k)
            sinv = 1.0 / s_lo - (1.0 / s_hi if has_ub else 0.0)
            u1b += _xt_v(flat_idx, flat_val, lens, w0 * inv_hb * sinv, k)
            gb_add(flat_idx, flat_val, lens, w0**2 * inv_hb)
            sl = s_lo * lm_lo
            if has_ub:
                sl = np.concatenate([sl, s_hi * lm_hi])
            s_sum += float(np.sum(sl))
            s_sq += float(sl @ sl)
            if len(sl):
                s_min = min(s_min, float(sl.min()))
        yield pack_payload(
            [f_val, sd0_sq, s_sum, s_sq, nan_ct, g1, hd, u1a, u1b, gb], [s_min]
        )

    return fn


def _pb_step_arrays(rb, flat_idx, flat_val, lens, z, mu, has_ub):
    w0, r, s_lo, lm_lo, s_hi, lm_hi, lr, inv_hb = _bounded_pieces(rb, has_ub)
    e = w0 * lr - mu / s_lo + (mu / s_hi if has_ub else 0.0)
    p = -inv_hb * (e + w0 * _x_dot(flat_idx, flat_val, lens, z))
    dl_lo = lm_lo / s_lo * (-p - s_lo + mu / lm_lo)
    dl_hi = (
        lm_hi / s_hi * (p - s_hi + mu / lm_hi) if has_ub else np.zeros(len(r))
    )
    return p, dl_lo, dl_hi, s_lo, lm_lo, s_hi, lm_hi


def _pbstep_pass(z: np.ndarray, mu: float, has_ub: bool) -> Callable:
    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[tuple[bytes, bytes]]:
        p_sq = 0.0
        nan_ct = 0.0
        ftb_s = np.inf
        ftb_l = np.inf
        for rb in batches:
            if not rb.num_rows:
                continue
            flat_idx, flat_val, lens = _flatten_rb(rb)
            p, dl_lo, dl_hi, s_lo, lm_lo, s_hi, lm_hi = _pb_step_arrays(
                rb, flat_idx, flat_val, lens, z, mu, has_ub
            )
            bad = ~np.isfinite(p)
            nan_ct += float(bad.sum())
            pf = np.where(bad, 0.0, p)
            p_sq += float(pf @ pf)
            ftb_s = min(ftb_s, ftb_batch(s_lo, pf))
            ftb_l = min(ftb_l, ftb_batch(lm_lo, dl_lo))
            if has_ub:
                ftb_s = min(ftb_s, ftb_batch(s_hi, -pf))
                ftb_l = min(ftb_l, ftb_batch(lm_hi, dl_hi))
        yield pack_payload([p_sq, nan_ct], [ftb_s, ftb_l])

    return fn


def _pbcommit_pass(
    z: np.ndarray, mu: float, bp: float, bd: float, has_ub: bool
) -> Callable:
    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            if not rb.num_rows:
                yield rb
                continue
            flat_idx, flat_val, lens = _flatten_rb(rb)
            p, dl_lo, dl_hi, s_lo, lm_lo, s_hi, lm_hi = _pb_step_arrays(
                rb, flat_idx, flat_val, lens, z, mu, has_ub
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
        self, base_rdd, state_rdd, spark, k: int, sum_w0: float, n: int,
        has_ub: bool, bounded: bool, block_structure=None,
    ) -> None:
        self._base = base_rdd
        self._state = state_rdd
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
        # by the first penalty_init pass (see defer_validation)
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
        has_ub = bounded and bounds[1] is not None
        lb = max(float(bounds[0]), 0.0) if bounded else 0.0
        ub = float(bounds[1]) if has_ub else 0.0
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

        base_rdd, state_rdd = blob_plane.split_state(
            df, k, n, state_of,
            bounds=(lb, ub if has_ub else None) if bounded else None,
            ratio_guess=ratio_guess,
        )
        from entropy_balance_weighting_spark.solvers.linalg import BlockStructure

        bs = BlockStructure.from_groups(moment_groups) if moment_groups else None
        return cls(
            base_rdd, state_rdd, df.sparkSession, k, sum_w0, n, has_ub,
            bounded, block_structure=bs,
        )

    # -- plumbing ----------------------------------------------------------
    def _reduce(self, fn, big: bool = False) -> tuple[np.ndarray, np.ndarray]:
        sums, mins = blob_plane.reduce_payload(
            blob_plane.payloads(self._base.zip(self._state), fn), big
        )
        # a reduce materializes any pending lazy commit into its cache
        if self._prev is not None:
            self._prev.unpersist()
            self._prev = None
        return sums, mins

    @property
    def _gram_big(self) -> bool:
        return reduce_big(
            self.k, self.block_structure, self._base.getNumPartitions()
        )

    def _commit(self, fn) -> None:
        """Lazy state transition: persisted, materialized by the next
        reduce in the same scan (no standalone commit job); only the
        mutable state columns are re-cached."""
        new_state, self._commits_since_ckpt = blob_plane.commit(
            blob_plane.transform(
                self._base.zip(self._state), fn, self._state_names
            ),
            self._commits_since_ckpt,
        )
        self._prev = self._state
        self._state = new_state

    def defer_validation(self) -> None:
        """Arm the fused V1 check: the next ``penalty_init`` pass (the
        solve's first job, which also materializes both blob caches)
        counts bad X rows / bad weights in its payload and raises the V1
        ValueError."""
        self._validate_first_pass = True

    # -- shared ------------------------------------------------------------
    def penalty_init(self):
        validate = self._validate_first_pass
        sums, _ = self._reduce(
            _gram_init_pass(
                self.k, blocks_tuple(self.block_structure), validate=validate
            ),
            big=self._gram_big,
        )
        if validate:
            self._validate_first_pass = False
            raise_if_bad(sums[-2], sums[-1])
            sums = sums[:-2]
        return gram_from_sums(sums, self.k, self.block_structure)

    def moment_totals(self) -> np.ndarray:
        sums, _ = self._reduce(_moment_totals_pass(self.k))
        return sums

    def new_weights(self) -> DataFrame:
        return blob_plane.weights_df(
            self._spark,
            self._base.zip(self._state),
            lambda rb: _rb_col(rb, "ratio") * _rb_col(rb, "w0"),
        )

    def cleanup(self) -> None:
        blob_plane.release(
            self._spark.sparkContext, self._base, self._state, self._prev
        )
        self._prev = None
    # -- unbounded ---------------------------------------------------------
    def penalty_stats(self) -> PenaltyStats:
        k = self.k
        sums, _ = self._reduce(
            _pstats_pass(k, blocks_tuple(self.block_structure)),
            big=self._gram_big,
        )
        f_val, s_ll, nan_ct = sums[0], sums[1], sums[2]
        g1 = sums[3 : 3 + k]
        g2v = sums[3 + k : 3 + 2 * k]
        h = sums[3 + 2 * k : 3 + 3 * k]
        gram = gram_from_sums(sums[3 + 3 * k :], k, self.block_structure)
        return PenaltyStats(
            f_val=float(f_val),
            g1=g1,
            g2v=g2v,
            h=h,
            s_ll=float(s_ll),
            gram=gram,
            has_nan=nan_ct > 0,
        )

    def penalty_commit(self, z: np.ndarray) -> tuple[float, bool]:
        sums, _ = self._reduce(_pstep_sq_pass(z))
        self._commit(_pcommit_pass(z))
        return float(sums[0]), sums[1] > 0

    # -- bounded -----------------------------------------------------------
    def pb_stats(self) -> PBStats:
        k = self.k
        sums, mins = self._reduce(
            _pbstats_pass(k, self.has_ub, blocks_tuple(self.block_structure)),
            big=self._gram_big,
        )
        f_val, sd0_sq, s_sum, s_sq, nan_ct = sums[:5]
        off = 5
        g1 = sums[off : off + k]
        hd = sums[off + k : off + 2 * k]
        u1a = sums[off + 2 * k : off + 3 * k]
        u1b = sums[off + 3 * k : off + 4 * k]
        gb = gram_from_sums(sums[off + 4 * k :], k, self.block_structure)
        return PBStats(
            f_val=float(f_val),
            g1=g1,
            sd0_sq=float(sd0_sq),
            hd=hd,
            gb=gb,
            u1a=u1a,
            u1b=u1b,
            s_sum=float(s_sum),
            s_sq=float(s_sq),
            s_min=float(mins[0]),
            s_cnt=float(self.n * (2 if self.has_ub else 1)),
            has_nan=nan_ct > 0,
        )

    def pb_step(self, z: np.ndarray, mu: float) -> PBStepStats:
        sums, mins = self._reduce(_pbstep_pass(z, mu, self.has_ub))
        return PBStepStats(
            p_sq=float(sums[0]),
            ftb_slack=float(mins[0]),
            ftb_dual=float(mins[1]),
            has_nan=sums[1] > 0,
        )

    def pb_commit(self, z: np.ndarray, mu: float, bp: float, bd: float) -> None:
        self._commit(_pbcommit_pass(z, mu, bp, bd, self.has_ub))
