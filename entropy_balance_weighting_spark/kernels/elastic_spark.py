"""Distributed kernel for the elastic interior-point solver — split-state
Arrow batches over an RDD ``zip`` (round-7 design).

The elastic loop is the only kernel that mutates per-row state every
iteration.  The previous packed-DataFrame design committed by rewriting the
WHOLE row cache — including the immutable CSR columns (idx/val, most of the
bytes): ~3 s/iter of pure cache-write bandwidth at 5M rows (PLANS.md
§"Elastic per-iteration anatomy").  DataFrames cannot narrow-align two
co-partitioned caches (that align is a join = a shuffle per iteration), but
``RDD.zip`` is exactly that narrow pairing, legal here by construction
because the state RDD is derived element-for-element from the base RDD.

Data plane (``kernels/blob_plane.py``):
  - **base RDD** — one element per Arrow batch: the IPC-serialized
    immutable columns ``(row_id, w0, idx, val)``.  Cached ONCE, never
    rewritten.
  - **state RDD** — IPC batches of the 3 mutable doubles
    ``(ratio, lm_lo, lm_hi)`` (24 B/row since r9 — the bound slacks are
    DERIVED, see STATE_NAMES — vs ~150 B/row for full packed rows at
    K=8; the gap widens with K).  Re-cached per commit; lm_hi is inert
    (0) without an upper bound.
  - **passes** — ``base.zip(state).mapPartitions(pass_fn)`` where the
    pair batches are reassembled ZERO-COPY (same buffers, one combined
    RecordBatch) and fed to the same ``_estats``/``_estep`` math as
    before; K/K²-sized partials only; commits stay lazy (zero jobs) and
    materialize inside the next stats scan — 2 jobs per iteration, the
    same discipline the job-count pin (tests/test_elastic.py) enforces.
  - **fused commit+stats (r9)** — a pending commit is applied BY the
    next stats scan itself (``_ecommit_stats_pass``): one pass over
    ``base.zip(old_state)`` yields the new state cache elements (with
    the partition stats payload piggybacked on each partition's last
    element) while accumulating the stats on the just-committed state —
    the base cache crosses the JVM/Python boundary once per iteration's
    stats job instead of twice, and each batch flattens once.

Measured at N=5M, K=8 (solo box, r7): full iteration 4.5–5.5 s vs
7.8–10 s for the packed-row design.  At N=100M, K=8 (r9): stats+commit
14.5 s → ~9.2 s, per-iteration ~19.5 s → ~14.5 s (PLANS.md §15).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame

from entropy_balance_weighting_spark.kernels import blob_plane
from entropy_balance_weighting_spark.kernels.base import (
    EStats,
    EStepStats,
    ftb_batch,
)
from entropy_balance_weighting_spark.kernels.blob_plane import pack_payload
from entropy_balance_weighting_spark.kernels.spark import (
    _flatten_rb,
    _rb_col,
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

# r9 narrow state: the bound slacks are NOT stored — the IP's own step
# algebra maintains s_lo ≡ r − lb and s_hi ≡ ub − r exactly (ss_lo =
# r_step + Ci_lo with Ci_lo ≡ 0 from a feasible start — the identity
# pinned by tests/test_elastic.py::test_condensed_step_satisfies_full_kkt
# _newton_system), so ``_cols`` derives them per pass and every state
# commit writes 24 B/row instead of 40.
STATE_NAMES = ["ratio", "lm_lo", "lm_hi"]


def _cols(rb: pa.RecordBatch, lb: float, ub: float, has_ub: bool):
    """State columns with the slacks DERIVED (see STATE_NAMES): s_lo =
    r − lb, s_hi = ub − r (inert ones without an upper bound)."""
    r = _rb_col(rb, "ratio")
    return (
        _rb_col(rb, "w0"),
        r,
        r - lb,
        (ub - r) if has_ub else np.ones(len(r)),
        _rb_col(rb, "lm_lo"),
        _rb_col(rb, "lm_hi"),
    )


def _pieces(rb, flat_idx, flat_val, lens, lam, eta, mu_s, lb, ub, has_ub):
    """Batch rendering of ElasticLocalKernel._pieces (kept in lockstep)."""
    w0, r, s_lo, s_hi, lm_lo, lm_hi = _cols(rb, lb, ub, has_ub)
    with np.errstate(divide="ignore", invalid="ignore"):
        lr = np.log(r)
    xlam = _x_dot(flat_idx, flat_val, lens, lam)
    lm_net = lm_lo - lm_hi if has_ub else lm_lo
    cd = (1.0 / eta) * w0 * lr - w0 * xlam - lm_net
    ci_lo = r - s_lo - lb
    cs_lo = s_lo * lm_lo - mu_s
    with np.errstate(divide="ignore", invalid="ignore"):
        ht = (1.0 / eta) * w0 / r + lm_lo / s_lo
        zterm = lm_lo / s_lo * (ci_lo + cs_lo / lm_lo)
        if has_ub:
            ci_hi = -r - s_hi + ub
            cs_hi = s_hi * lm_hi - mu_s
            ht = ht + lm_hi / s_hi
            zterm = zterm - lm_hi / s_hi * (ci_hi + cs_hi / lm_hi)
        else:
            ci_hi = np.zeros(len(r))
            cs_hi = np.zeros(len(r))
    return w0, r, s_lo, s_hi, lm_lo, lm_hi, lr, xlam, lm_net, cd, ci_lo, ci_hi, cs_lo, cs_hi, ht, zterm


def _steps_arrays(pieces, flat_idx, flat_val, lens, dlam, mu_s, has_ub):
    (w0, r, s_lo, s_hi, lm_lo, lm_hi, lr, xlam, lm_net, cd,
     ci_lo, ci_hi, cs_lo, cs_hi, ht, zterm) = pieces
    xdl = _x_dot(flat_idx, flat_val, lens, dlam)
    r_step = (1.0 / ht) * (w0 * xdl - cd - zterm)
    li_lo = lm_lo / s_lo * (-r_step - ci_lo - cs_lo / lm_lo)
    ss_lo = -s_lo - s_lo / lm_lo * li_lo + mu_s / lm_lo
    if has_ub:
        li_hi = lm_hi / s_hi * (r_step - ci_hi - cs_hi / lm_hi)
        ss_hi = -s_hi - s_hi / lm_hi * li_hi + mu_s / lm_hi
    else:
        li_hi = np.zeros(len(r_step))
        ss_hi = np.zeros(len(r_step))
    return r_step, li_lo, li_hi, ss_lo, ss_hi


class _EStatsAcc:
    """Per-partition stats accumulator shared by the plain stats pass and
    the fused commit+stats pass (``_ecommit_stats_pass``) — one body, no
    math divergence between the two shapes."""

    def __init__(self, k: int, blocks) -> None:
        self.k = k
        self.f_val = self.cd_sq = self.ci_sq = self.cs_sq = 0.0
        self.alt_sq = self.nan_ct = 0.0
        self.sl_sum = self.sl_sq = self.sl_cnt = 0.0
        self.sl_min = np.inf
        self.neg_lm_max = np.inf  # min(−λ) = −max(λ)
        self.g1 = np.zeros(k)
        self.rhs_leg = np.zeros(k)
        self.rhs_mu_leg = np.zeros(k)
        self.gram, self.gram_add = make_gram_accum(k, blocks)

    def add(self, rb, flat_idx, flat_val, lens, lam, eta, mu_s, lb, ub, has_ub):
        if not rb.num_rows:
            # Zero-row batches contribute nothing; guarded HERE (not in
            # each caller) so the plain and fused stats passes share one
            # invariant — an empty batch would otherwise raise on the
            # lm_lo.max()/sl.min() reductions below.
            return
        k = self.k
        pieces = _pieces(
            rb, flat_idx, flat_val, lens, lam, eta, mu_s, lb, ub, has_ub
        )
        (w0, r, s_lo, s_hi, lm_lo, lm_hi, lr, xlam, lm_net, cd,
         ci_lo, ci_hi, cs_lo, cs_hi, ht, zterm) = pieces
        bad = ~np.isfinite(cd) | ~np.isfinite(ht) | (ht <= 0)
        cdf = np.where(bad, 0.0, cd)
        lrf = np.where(np.isfinite(lr), lr, 0.0)
        with np.errstate(over="ignore"):
            alt = np.exp(eta * (xlam + lm_net / w0)) - r
        # Overflowing alt residual -> alt_sq=inf, NOT an abort (the
        # reference keeps iterating, ebw_routines.py:586-600); only
        # Cd/ht non-finiteness counts toward nan_ct.
        alt_bad = ~np.isfinite(alt)
        self.nan_ct += float(bad.sum())
        altf = np.where(alt_bad, 0.0, alt)
        inv_ht = np.where(bad, 0.0, 1.0 / ht)
        self.f_val += float(np.sum(w0 * (r * lrf - r + 1.0)))
        self.cd_sq += float(cdf @ cdf)
        self.ci_sq += float(ci_lo @ ci_lo) + (
            float(ci_hi @ ci_hi) if has_ub else 0.0
        )
        self.cs_sq += float(cs_lo @ cs_lo) + (
            float(cs_hi @ cs_hi) if has_ub else 0.0
        )
        self.alt_sq += np.inf if alt_bad.any() else float(altf @ altf)
        # μ_s decomposition legs + slack/multiplier stats of THIS state
        # (post-commit when a lazy commit is pending — this scan applies
        # it), so the driver updates μ_s/η with no separate pass
        z1 = 1.0 / s_lo - (1.0 / s_hi if has_ub else 0.0)
        sl = s_lo * lm_lo
        lm_mx = float(lm_lo.max())
        if has_ub:
            sl = np.concatenate([sl, s_hi * lm_hi])
            lm_mx = max(lm_mx, float(lm_hi.max()))
        self.sl_sum += float(np.sum(sl))
        self.sl_sq += float(sl @ sl)
        self.sl_cnt += float(len(sl))
        self.sl_min = min(self.sl_min, float(sl.min()))
        self.neg_lm_max = min(self.neg_lm_max, -lm_mx)
        self.g1 += _xt_v(flat_idx, flat_val, lens, w0 * r, k)
        self.rhs_leg += _xt_v(
            flat_idx, flat_val, lens, w0 * inv_ht * (cdf + zterm), k
        )
        self.rhs_mu_leg += _xt_v(flat_idx, flat_val, lens, w0 * inv_ht * z1, k)
        self.gram_add(flat_idx, flat_val, lens, w0**2 * inv_ht)

    def payload(self) -> tuple[bytes, bytes]:
        return pack_payload(
            [self.f_val, self.cd_sq, self.ci_sq, self.cs_sq, self.alt_sq,
             self.nan_ct, self.sl_sum, self.sl_sq, self.sl_cnt,
             self.g1, self.rhs_leg, self.rhs_mu_leg, self.gram],
            [self.sl_min, self.neg_lm_max],
        )


def _estats_pass(k, lam, eta, mu_s, lb, ub, has_ub, blocks) -> Callable:
    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[tuple[bytes, bytes]]:
        acc = _EStatsAcc(k, blocks)
        for rb in batches:
            if not rb.num_rows:
                continue
            flat_idx, flat_val, lens = _flatten_rb(rb)
            acc.add(
                rb, flat_idx, flat_val, lens, lam, eta, mu_s, lb, ub, has_ub
            )
        yield acc.payload()

    return fn


def _estep_pass(k, lam, dlam, eta, mu_s, lb, ub, has_ub) -> Callable:
    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[tuple[bytes, bytes]]:
        rstep_sq = nan_ct = 0.0
        xt_rstep = np.zeros(k)
        ftb_s = np.inf
        ftb_l = np.inf
        for rb in batches:
            if not rb.num_rows:
                continue
            flat_idx, flat_val, lens = _flatten_rb(rb)
            pieces = _pieces(
                rb, flat_idx, flat_val, lens, lam, eta, mu_s, lb, ub, has_ub
            )
            r_step, li_lo, li_hi, ss_lo, ss_hi = _steps_arrays(
                pieces, flat_idx, flat_val, lens, dlam, mu_s, has_ub
            )
            s_lo, s_hi, lm_lo, lm_hi = pieces[2], pieces[3], pieces[4], pieces[5]
            bad = ~np.isfinite(r_step)
            nan_ct += float(bad.sum())
            rsf = np.where(bad, 0.0, r_step)
            rstep_sq += float(rsf @ rsf)
            xt_rstep += _xt_v(flat_idx, flat_val, lens, rsf, k)
            ftb_s = min(ftb_s, ftb_batch(s_lo, ss_lo))
            ftb_l = min(ftb_l, ftb_batch(lm_lo, li_lo))
            if has_ub:
                ftb_s = min(ftb_s, ftb_batch(s_hi, ss_hi))
                ftb_l = min(ftb_l, ftb_batch(lm_hi, li_hi))
        yield pack_payload([rstep_sq, nan_ct, xt_rstep], [ftb_s, ftb_l])

    return fn


def _state_rb(arrays) -> pa.RecordBatch:
    return pa.RecordBatch.from_arrays(
        [pa.array(np.ascontiguousarray(a, dtype=np.float64)) for a in arrays],
        STATE_NAMES,
    )


# Fused commit+stats pays off only when the state cache is big enough
# that reading the base cache ONCE (not twice) dominates its fixed
# costs (payload piggyback elements, per-batch commit recompute inside
# the stats scan).  Measured (r10): N=600k bounded at sf0.1 runs
# ~10.8-11.2 s unfused vs 12.6-13.8 s fused (the r9 sf0.1 drift, now
# adjudicated as REAL); N=100M runs ~9.2 s/iter fused vs ~14.5
# unfused (PLANS §15).  Below this row count the commit flushes as a
# chained lazy swap and stats runs the plain pass.
_FUSED_MIN_ROWS = 2_000_000


def _ecommit_state_pass(
    lam, dlam, eta, mu_s, alpha_p, alpha_d, lb, ub, has_ub
) -> Callable:
    """Per-pair commit, RECOMPUTE form (the flush path — see
    ``_flush_pending_lazy``): recompute the step on the CURRENT state and
    emit only the next state batch — the immutable base columns are never
    rewritten."""

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            flat_idx, flat_val, lens = _flatten_rb(rb)
            pieces = _pieces(
                rb, flat_idx, flat_val, lens, lam, eta, mu_s, lb, ub, has_ub
            )
            r_step, li_lo, li_hi, _ss_lo, _ss_hi = _steps_arrays(
                pieces, flat_idx, flat_val, lens, dlam, mu_s, has_ub
            )
            _, r, _s_lo, _s_hi, lm_lo, lm_hi = _cols(rb, lb, ub, has_ub)
            yield _state_rb(
                [
                    r + alpha_p * r_step,
                    lm_lo + alpha_d * li_lo,
                    lm_hi + alpha_d * li_hi if has_ub else lm_hi,
                ]
            )

    return fn


def _ecommit_stats_pass(
    k, clam, cdlam, ceta, cmu_s, alpha_p, alpha_d,
    lam, eta, mu_s, lb, ub, has_ub, blocks,
) -> Callable:
    """FUSED commit+stats — the r9 commit-bandwidth cut.  One pass over
    ``base.zip(old_state)`` per batch: replay the pending commit (step
    recompute at the COMMIT-time parameters, then the α-combine), yield
    the new state blob as a cache element (``("s", ipc, b"")``), and feed
    the new state straight into the stats accumulation at the STATS-time
    parameters; one ``("p", sums, mins)`` payload element closes the
    partition.  The persisted RDD therefore IS the new state cache (a
    element shape is ``(state_ipc, sums, mins)`` with the partition
    payload piggybacked on the LAST batch's element (empty bytes on the
    others), so the element count per partition equals the batch count —
    later passes ``zip`` this cache with the base cache DIRECTLY at the
    JVM level (an element-count-preserving view through a Python
    ``filter`` would force every later read through an extra
    Python→JVM→Python round trip, measured +2.3 s/pass at 100M)) AND the
    stats source — versus the r8 shape (new state = nested
    ``base.zip(prev)`` inside the outer stats zip) this reads the multi-GB
    base cache ONCE instead of twice and flattens each batch once instead
    of twice.  Payload bytes ride the state cache until the next commit
    replaces it: K-sized per partition — negligible at small K, bounded
    by partitions × (3K+Σk_b²)·8 B on the grouped huge-K path (~1.6 GB at
    K=100k × 400 partitions, transient)."""

    def fn(pair_iter):
        acc = _EStatsAcc(k, blocks)
        n_state = len(STATE_NAMES)
        held = None
        for rb in blob_plane.batches(pair_iter):
            flat_idx, flat_val, lens = _flatten_rb(rb)
            pieces = _pieces(
                rb, flat_idx, flat_val, lens, clam, ceta, cmu_s, lb, ub,
                has_ub,
            )
            r_step, li_lo, li_hi, _ss_lo, _ss_hi = _steps_arrays(
                pieces, flat_idx, flat_val, lens, cdlam, cmu_s, has_ub
            )
            r, lm_lo, lm_hi = pieces[1], pieces[4], pieces[5]
            st_rb = _state_rb(
                [
                    r + alpha_p * r_step,
                    lm_lo + alpha_d * li_lo,
                    lm_hi + alpha_d * li_hi if has_ub else lm_hi,
                ]
            )
            if held is not None:
                yield (held, b"", b"")
            held = blob_plane.ipc_ser(st_rb)
            nb = rb.num_columns - n_state
            fields = [rb.schema.field(i) for i in range(nb)] + [
                st_rb.schema.field(j) for j in range(st_rb.num_columns)
            ]
            rb2 = pa.RecordBatch.from_arrays(
                [rb.column(i) for i in range(nb)] + list(st_rb.columns),
                schema=pa.schema(fields, metadata=rb.schema.metadata),
            )
            acc.add(
                rb2, flat_idx, flat_val, lens, lam, eta, mu_s, lb, ub, has_ub
            )
        if held is None:
            return  # empty partition: no batches, no payload
        yield (held, *acc.payload())

    return fn


def _g1_pass(k, validate: bool = False) -> Callable:
    """``validate``: append the V1 bad-entry counts to the payload — the
    deferred validation rides this first pass (which also materializes
    both blob caches) instead of running its own aggregate."""

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[tuple[bytes, bytes]]:
        g1 = np.zeros(k)
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
            r = _rb_col(rb, "ratio")
            g1 += _xt_v(flat_idx, flat_val, lens, w0 * r, k)
        sums = [g1, bad_x, bad_w] if validate else [g1]
        yield pack_payload(sums, [np.inf])

    return fn


class ElasticSparkKernel:
    def __init__(
        self, base_rdd, state_rdd, spark, k: int, sum_w0: float, n: int,
        lb: float, ub: float, has_ub: bool, block_structure=None,
    ) -> None:
        self._base = base_rdd
        self._state = state_rdd
        self._spark = spark
        self.k = k
        self.sum_w0 = sum_w0
        self.n = n
        self.lb = lb
        self.ub = ub
        self.has_ub = has_ub
        self.block_structure = block_structure
        self._prev = None
        self._commits_since_ckpt = 0
        # _store: the PERSISTED rdd behind the current state; _state may
        # be a filter/map view of it (the fused commit+stats cache whose
        # elements also carry the partition payloads)
        self._store = state_rdd
        # pending lazy commit parameters (lam, dlam, eta, mu_s, αp, αd) —
        # applied by the next elastic_stats as the fused pass, or flushed
        # into a chained lazy state swap by any other consumer
        self._pending = None
        # deferred V1 validation flag — armed by the API layer, consumed
        # by the first elastic_g1 pass (see defer_validation)
        self._validate_first_pass = False

    @classmethod
    def from_problem(
        cls,
        x_long: DataFrame,
        w0: DataFrame,
        k: int,
        *,
        bounds: tuple[float, float | None],
        ratio_guess: DataFrame | None = None,
        moment_groups: list[str] | None = None,
        known_sums: tuple[float, int] | None = None,
        prepacked: DataFrame | None = None,
    ) -> "ElasticSparkKernel":
        """Split-state build (``blob_plane.split_state``).  Cold start: no
        job here — the solve's first pass (elastic_g1's base.zip(state)
        reduce) materializes BOTH caches in one source scan.  Warm start:
        both caches are counted here so the bounds error surfaces at
        construction."""
        df, sum_w0, n = pack_rows(x_long, w0, known_sums, prepacked)
        lb = max(float(bounds[0]), 0.0)
        has_ub = bounds[1] is not None
        ub = float(bounds[1]) if has_ub else 0.0

        def state_of(ratio: np.ndarray) -> pa.RecordBatch:
            return _state_rb(
                [
                    ratio,
                    np.full(len(ratio), 0.05),
                    np.full(len(ratio), 0.05 if has_ub else 0.0),
                ]
            )

        base_rdd, state_rdd = blob_plane.split_state(
            df, k, n, state_of,
            bounds=(lb, ub if has_ub else None),
            ratio_guess=ratio_guess,
        )
        from entropy_balance_weighting_spark.solvers.linalg import BlockStructure

        bs = BlockStructure.from_groups(moment_groups) if moment_groups else None
        return cls(
            base_rdd, state_rdd, df.sparkSession, k, sum_w0, n, lb, ub,
            has_ub, block_structure=bs,
        )

    def _reduce(self, fn, big: bool = False, pairs=None):
        if pairs is None:
            pairs = blob_plane.payloads(self._base.zip(self._state), fn)
        sums, mins = blob_plane.reduce_payload(pairs, big)
        # the reduce materialized any flushed lazy commit into its cache
        if self._prev is not None:
            self._prev.unpersist()
            self._prev = None
        return sums, mins

    def defer_validation(self) -> None:
        """Arm the fused V1 check: the next ``elastic_g1`` pass (the
        solve's first job, which also materializes both blob caches)
        counts bad X rows / bad weights in its payload and raises the
        same ValueError the eager aggregate would."""
        self._validate_first_pass = True

    def elastic_g1(self) -> np.ndarray:
        self._flush_pending_lazy()
        validate = self._validate_first_pass
        sums, _ = self._reduce(_g1_pass(self.k, validate=validate))
        if validate:
            self._validate_first_pass = False
            raise_if_bad(sums[-2], sums[-1])
            sums = sums[:-2]
        return sums

    def elastic_stats(self, lam, eta, mu_s) -> EStats:
        k = self.k
        big = reduce_big(
            k, self.block_structure, self._base.getNumPartitions()
        )
        if self._pending is not None and self.n < _FUSED_MIN_ROWS:
            # Small-N: the fused pass's fixed costs exceed its bandwidth
            # savings (see _FUSED_MIN_ROWS) — flush the commit as a
            # chained LAZY swap (zero jobs; the stats scan below
            # materializes it through the RDD chain) and take the plain
            # stats path.
            self._flush_pending_lazy()
        if self._pending is not None:
            # Fused commit+stats: ONE pass over base.zip(old_state) whose
            # persisted elements are the new state blobs + partition
            # payloads — the base cache crosses once, not twice (r9).
            clam, cdlam, ceta, cmu_s, ap, ad = self._pending
            self._pending = None
            fused, self._commits_since_ckpt = blob_plane.commit(
                self._base.zip(self._state).mapPartitions(
                    _ecommit_stats_pass(
                        k, clam, cdlam, ceta, cmu_s, ap, ad,
                        lam, eta, mu_s, self.lb, self.ub, self.has_ub,
                        blocks_tuple(self.block_structure),
                    ),
                    preservesPartitioning=True,
                ),
                self._commits_since_ckpt,
            )
            payloads = fused.map(lambda t: (t[1], t[2])).filter(
                lambda t: len(t[0]) > 0
            )
            prev_store = self._store
            sums, mins = self._reduce(None, big=big, pairs=payloads)
            prev_store.unpersist()
            self._store = fused
            # consumers zip this cache with the base at the JVM level and
            # blob_plane.batches unwraps the (state, sums, mins) tuples
            self._state = fused
        else:
            sums, mins = self._reduce(
                _estats_pass(
                    k, lam, eta, mu_s, self.lb, self.ub, self.has_ub,
                    blocks_tuple(self.block_structure),
                ),
                big=big,
            )
        (f_val, cd_sq, ci_sq, cs_sq, alt_sq, nan_ct,
         sl_sum, sl_sq, sl_cnt) = sums[:9]
        g1 = sums[9 : 9 + k]
        rhs_leg = sums[9 + k : 9 + 2 * k]
        rhs_mu_leg = sums[9 + 2 * k : 9 + 3 * k]
        gram = gram_from_sums(sums[9 + 3 * k :], k, self.block_structure)
        return EStats(
            f_val=float(f_val),
            cd_sq=float(cd_sq),
            ci_sq=float(ci_sq),
            cs_sq=float(cs_sq),
            alt_sq=float(alt_sq),
            g1=g1,
            rhs_leg=rhs_leg,
            rhs_mu_leg=rhs_mu_leg,
            gram=gram,
            sl_sum=float(sl_sum),
            sl_sq=float(sl_sq),
            sl_min=float(mins[0]),
            sl_cnt=float(sl_cnt),
            lm_max=float(-mins[1]),
            has_nan=nan_ct > 0,
        )

    def elastic_step(self, lam, dlam, eta, mu_s) -> EStepStats:
        self._flush_pending_lazy()
        sums, mins = self._reduce(
            _estep_pass(
                self.k, lam, dlam, eta, mu_s, self.lb, self.ub, self.has_ub
            )
        )
        return EStepStats(
            rstep_sq=float(sums[0]),
            xt_rstep=sums[2 : 2 + self.k],
            ftb_slack=float(mins[0]),
            ftb_dual=float(mins[1]),
            has_nan=sums[1] > 0,
        )

    def _flush_pending_lazy(self) -> None:
        """Convert a pending commit into the chained lazy state swap (zero
        jobs) — for consumers other than ``elastic_stats`` (whose fused
        pass is the fast path the solver loop always takes: commit is
        invariably followed by stats there)."""
        if self._pending is None:
            return
        clam, cdlam, ceta, cmu_s, ap, ad = self._pending
        self._pending = None
        new_state, self._commits_since_ckpt = blob_plane.commit(
            blob_plane.transform(
                self._base.zip(self._state),
                _ecommit_state_pass(
                    clam, cdlam, ceta, cmu_s, ap, ad, self.lb, self.ub,
                    self.has_ub,
                ),
            ),
            self._commits_since_ckpt,
        )
        self._prev = self._store
        self._store = new_state
        self._state = new_state

    def elastic_commit(
        self, lam, dlam, eta, mu_s, alpha_p, alpha_d
    ) -> None:
        """Lazy transition — ZERO jobs here: the swapped-in state RDD
        materializes (commit transform + state-cache write, 24 B/row)
        inside the NEXT ``elastic_stats`` reduce, which also returns the
        post-commit slack/multiplier aggregates the μ/η rules need.  2 jobs
        per iteration total (stats, step), same shape as the Newton solver.

        The solver loop always follows a commit with ``elastic_stats``,
        which applies it as the FUSED commit+stats pass (one base
        crossing — see ``_ecommit_stats_pass``); any other next consumer
        flushes it into the r8-style chained lazy swap first."""
        if self._pending is not None:
            self._flush_pending_lazy()
        self._pending = (
            np.array(lam, dtype=float, copy=True),
            np.array(dlam, dtype=float, copy=True),
            float(eta),
            float(mu_s),
            float(alpha_p),
            float(alpha_d),
        )

    def new_weights(self) -> DataFrame:
        """(row_id, new_weight = ratio·w0) as a DataFrame."""
        self._flush_pending_lazy()
        return blob_plane.weights_df(
            self._spark,
            self._base.zip(self._state),
            lambda rb: _rb_col(rb, "ratio") * _rb_col(rb, "w0"),
        )

    def cleanup(self) -> None:
        blob_plane.release(
            self._spark.sparkContext, self._base, self._store, self._prev
        )
        self._prev = None
        self._pending = None
