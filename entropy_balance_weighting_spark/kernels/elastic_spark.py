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
  - **base RDD** — one element per Arrow batch: the immutable columns
    ``(row_id, w0, idx, val)`` as written by Spark's JVM Arrow writer.
    Cached ONCE, never rewritten.
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
  - **fused commit+stats (r9)** — the one commit transform, at every N:
    a pending commit is applied BY the next stats scan itself
    (``_ecommit_stats_pass``): one pass over ``base.zip(old_state)``
    yields the new state cache elements (with the partition stats payload
    piggybacked on each partition's last element) while accumulating the
    stats on the just-committed state — the base cache crosses the
    JVM/Python boundary once per iteration's stats job instead of twice,
    and each batch flattens once.  A consumer other than ``elastic_stats``
    declares the same RDD and leaves its payload unread.  An r10 gate sent
    N < 2M through a separate chained-swap commit pass; re-measured after
    the zipimport and JVM-encode changes it bought nothing at 100k or
    600k rows (same jobs, stages, tasks and bits), so it is gone.
  - **validation** — the deferred V1 check rides the first pass
    (``elastic_g1``) through ``blob_plane.reduce``.

Measured at N=5M, K=8 (solo box, r7): full iteration 4.5–5.5 s vs
7.8–10 s for the packed-row design.  At N=100M, K=8 (r9): stats+commit
14.5 s → ~9.2 s, per-iteration ~19.5 s → ~14.5 s (PLANS.md §15).
"""

from __future__ import annotations

from collections.abc import Callable

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame

from entropy_balance_weighting_spark.kernels import blob_plane
from entropy_balance_weighting_spark.kernels.base import (
    EStats,
    EStepStats,
    Totals,
    ftb_batch,
    parse_bounds,
    unpack,
)
from entropy_balance_weighting_spark.kernels.spark import (
    PayloadAcc,
    _flatten_rb,
    _rb_col,
    blocks_tuple,
    gram_big,
    pack_rows,
    reduce_pass,
)
from entropy_balance_weighting_spark.solvers.linalg import BlockStructure

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


def _pieces(rb, x, lam, eta, mu_s, lb, ub, has_ub):
    """Batch rendering of ElasticLocalKernel._pieces (kept in lockstep);
    ``x`` is the batch's rows (``kernels.spark._flatten_rb``)."""
    w0, r, s_lo, s_hi, lm_lo, lm_hi = _cols(rb, lb, ub, has_ub)
    with np.errstate(divide="ignore", invalid="ignore"):
        lr = np.log(r)
    xlam = x.dot(lam)
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


def _steps_arrays(pieces, x, dlam, mu_s, has_ub):
    (w0, r, s_lo, s_hi, lm_lo, lm_hi, lr, xlam, lm_net, cd,
     ci_lo, ci_hi, cs_lo, cs_hi, ht, zterm) = pieces
    xdl = x.dot(dlam)
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


def _estats(rb, x, lam, eta, mu_s, lb, ub, has_ub) -> dict:
    """One batch's :class:`EStats` contributions — shared by the plain
    stats pass and the fused commit+stats pass
    (``_ecommit_stats_pass``), so the two shapes cannot diverge."""
    k = len(lam)
    pieces = _pieces(rb, x, lam, eta, mu_s, lb, ub, has_ub)
    (w0, r, s_lo, s_hi, lm_lo, lm_hi, lr, xlam, lm_net, cd,
     ci_lo, ci_hi, cs_lo, cs_hi, ht, zterm) = pieces
    bad = ~np.isfinite(cd) | ~np.isfinite(ht) | (ht <= 0)
    cdf = np.where(bad, 0.0, cd)
    lrf = np.where(np.isfinite(lr), lr, 0.0)
    with np.errstate(over="ignore"):
        alt = np.exp(eta * (xlam + lm_net / w0)) - r
    # Overflowing alt residual -> alt_sq=inf, NOT an abort (the reference
    # keeps iterating, ebw_routines.py:586-600); only Cd/ht non-finiteness
    # counts toward has_nan.
    alt_bad = ~np.isfinite(alt)
    altf = np.where(alt_bad, 0.0, alt)
    inv_ht = np.where(bad, 0.0, 1.0 / ht)
    # μ_s decomposition legs + slack/multiplier stats of THIS state
    # (post-commit when a lazy commit is pending — this scan applies it),
    # so the driver updates μ_s/η with no separate pass
    z1 = 1.0 / s_lo - (1.0 / s_hi if has_ub else 0.0)
    sl = s_lo * lm_lo
    lm_mx = float(lm_lo.max())
    if has_ub:
        sl = np.concatenate([sl, s_hi * lm_hi])
        lm_mx = max(lm_mx, float(lm_hi.max()))
    return {
        "f_val": float(np.sum(w0 * (r * lrf - r + 1.0))),
        "cd_sq": float(cdf @ cdf),
        "ci_sq": float(ci_lo @ ci_lo) + (
            float(ci_hi @ ci_hi) if has_ub else 0.0
        ),
        "cs_sq": float(cs_lo @ cs_lo) + (
            float(cs_hi @ cs_hi) if has_ub else 0.0
        ),
        "alt_sq": np.inf if alt_bad.any() else float(altf @ altf),
        "g1": x.tdot(w0 * r, k),
        "rhs_leg": x.tdot(w0 * inv_ht * (cdf + zterm), k),
        "rhs_mu_leg": x.tdot(w0 * inv_ht * z1, k),
        "gram": w0**2 * inv_ht,
        "sl_sum": float(np.sum(sl)),
        "sl_sq": float(sl @ sl),
        "sl_min": float(sl.min()),
        "sl_cnt": float(len(sl)),
        "lm_max": lm_mx,
        "has_nan": float(bad.sum()),
    }


def _estats_pass(k, lam, eta, mu_s, lb, ub, has_ub, blocks) -> Callable:
    return reduce_pass(
        lambda rb, x: _estats(rb, x, lam, eta, mu_s, lb, ub, has_ub),
        k, blocks, EStats,
    )


def _estep_pass(k, lam, dlam, eta, mu_s, lb, ub, has_ub) -> Callable:
    def batch(rb, x):
        pieces = _pieces(rb, x, lam, eta, mu_s, lb, ub, has_ub)
        r_step, li_lo, li_hi, ss_lo, ss_hi = _steps_arrays(
            pieces, x, dlam, mu_s, has_ub
        )
        s_lo, s_hi, lm_lo, lm_hi = pieces[2], pieces[3], pieces[4], pieces[5]
        bad = ~np.isfinite(r_step)
        rsf = np.where(bad, 0.0, r_step)
        ftb_s = ftb_batch(s_lo, ss_lo)
        ftb_l = ftb_batch(lm_lo, li_lo)
        if has_ub:
            ftb_s = min(ftb_s, ftb_batch(s_hi, ss_hi))
            ftb_l = min(ftb_l, ftb_batch(lm_hi, li_hi))
        return {
            "rstep_sq": float(rsf @ rsf),
            "xt_rstep": x.tdot(rsf, k),
            "ftb_slack": ftb_s,
            "ftb_dual": ftb_l,
            "has_nan": float(bad.sum()),
        }

    return reduce_pass(batch, k, None, EStepStats)


def _state_rb(arrays) -> pa.RecordBatch:
    return pa.RecordBatch.from_arrays(
        [pa.array(np.ascontiguousarray(a, dtype=np.float64)) for a in arrays],
        STATE_NAMES,
    )


def _ecommit_stats_pass(
    k, clam, cdlam, ceta, cmu_s, alpha_p, alpha_d,
    lam, eta, mu_s, lb, ub, has_ub, blocks, schema,
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

    def stats(rb, x):
        return _estats(rb, x, lam, eta, mu_s, lb, ub, has_ub)

    def fn(pair_iter):
        acc = PayloadAcc((EStats,), k, blocks)
        n_state = len(STATE_NAMES)
        held = None
        for rb in blob_plane.batches(pair_iter, schema):
            x = _flatten_rb(rb)
            pieces = _pieces(rb, x, clam, ceta, cmu_s, lb, ub, has_ub)
            r_step, li_lo, li_hi, _ss_lo, _ss_hi = _steps_arrays(
                pieces, x, cdlam, cmu_s, has_ub
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
            acc.feed(stats, rb2, x)
        if held is None:
            return  # empty partition: no batches, no payload
        yield (held, *acc.payload())

    return fn


def _weights(rb: pa.RecordBatch) -> np.ndarray:
    """New weights of a split-state batch, ratio·w0 — the elastic and
    penalty kernels' weight render and their Xᵀ(w0∘r) pass read this."""
    return _rb_col(rb, "ratio") * _rb_col(rb, "w0")


def _g1_pass(k) -> Callable:
    """Xᵀ(w0∘r): the elastic init gap and the penalty final moments."""
    return reduce_pass(
        lambda rb, x: x.tdot(_weights(rb), k), k, None, Totals
    )


class ElasticSparkKernel:
    def __init__(
        self, base_rdd, state_rdd, schema, spark, k: int, sum_w0: float,
        n: int, lb: float, ub: float, has_ub: bool,
        block_structure: BlockStructure,
    ) -> None:
        self._base = base_rdd
        self._state = state_rdd
        self._schema = schema  # decode schema of the JVM-encoded base
        self._spark = spark
        self.k = k
        self.sum_w0 = sum_w0
        self.n = n
        self.lb = lb
        self.ub = ub
        self.has_ub = has_ub
        self.block_structure = block_structure
        # state caches superseded by a declared commit, released once a
        # reduce has materialized their successor
        self._prev: list = []
        self._commits_since_ckpt = 0
        # pending lazy commit parameters (lam, dlam, eta, mu_s, αp, αd) —
        # applied by the next elastic_stats as the fused pass
        self._pending = None
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
        lb, ub_or_none = parse_bounds(bounds)
        has_ub = ub_or_none is not None
        ub = ub_or_none if has_ub else 0.0

        def state_of(ratio: np.ndarray) -> pa.RecordBatch:
            return _state_rb(
                [
                    ratio,
                    np.full(len(ratio), 0.05),
                    np.full(len(ratio), 0.05 if has_ub else 0.0),
                ]
            )

        base_rdd, state_rdd, schema = blob_plane.split_state(
            df, k, state_of,
            bounds=(lb, ub_or_none),
            ratio_guess=ratio_guess,
        )
        bs = BlockStructure.from_groups(moment_groups) or BlockStructure.single(k)
        return cls(
            base_rdd, state_rdd, schema, df.sparkSession, k, sum_w0, n, lb,
            ub, has_ub, block_structure=bs,
        )

    def _reduce(self, fn, big: bool = False, pairs=None):
        """Run pass ``fn`` over ``base.zip(state)``, or reduce ready
        ``pairs`` (the fused commit+stats payloads); then release the
        state caches the reduce superseded."""
        if pairs is None:
            validate = self._validate_first_pass
            self._validate_first_pass = False
            sums, mins = blob_plane.reduce(
                self._base.zip(self._state), fn, self._schema, big,
                validate=validate,
            )
        else:
            sums, mins = blob_plane.reduce_payload(pairs, big)
        for rdd in self._prev:
            rdd.unpersist()
        self._prev = []
        return sums, mins

    def defer_validation(self) -> None:
        """Arm the fused V1 check: the next pass (``elastic_g1``, the
        solve's first job, which also materializes both blob caches)
        counts bad X rows / bad weights and raises the same ValueError the
        eager aggregate would."""
        self._validate_first_pass = True

    def elastic_g1(self) -> np.ndarray:
        self._flush_pending_lazy()
        payload = self._reduce(_g1_pass(self.k))
        return unpack(payload, self.block_structure, Totals)[0].g1

    def elastic_stats(self, lam, eta, mu_s) -> EStats:
        k = self.k
        big = gram_big(self)
        if self._pending is None:
            payload = self._reduce(
                _estats_pass(
                    k, lam, eta, mu_s, self.lb, self.ub, self.has_ub,
                    blocks_tuple(self.block_structure),
                ),
                big=big,
            )
        else:
            # Fused commit+stats: ONE pass over base.zip(old_state) whose
            # persisted elements are the new state blobs + partition
            # payloads — the base cache crosses once, not twice (r9).
            self._declare_commit(lam, eta, mu_s)
            payloads = self._state.map(lambda t: (t[1], t[2])).filter(
                lambda t: len(t[0]) > 0
            )
            payload = self._reduce(None, big=big, pairs=payloads)
        return unpack(payload, self.block_structure, EStats)[0]

    def elastic_step(self, lam, dlam, eta, mu_s) -> EStepStats:
        self._flush_pending_lazy()
        payload = self._reduce(
            _estep_pass(
                self.k, lam, dlam, eta, mu_s, self.lb, self.ub, self.has_ub
            )
        )
        return unpack(payload, self.block_structure, EStepStats)[0]

    def _declare_commit(self, lam, eta, mu_s) -> None:
        """Swap in the pending commit as the fused commit+stats RDD (lazy,
        zero jobs; persisted, so the next reduce over it materializes the
        new state cache), with its stats payload taken at ``(lam, eta,
        mu_s)``.  Consumers zip it with the base at the JVM level and
        ``blob_plane.batches`` unwraps its ``(state, sums, mins)``
        elements."""
        clam, cdlam, ceta, cmu_s, ap, ad = self._pending
        self._pending = None
        fused, self._commits_since_ckpt = blob_plane.commit(
            self._base.zip(self._state).mapPartitions(
                _ecommit_stats_pass(
                    self.k, clam, cdlam, ceta, cmu_s, ap, ad,
                    lam, eta, mu_s, self.lb, self.ub, self.has_ub,
                    blocks_tuple(self.block_structure), self._schema,
                ),
                preservesPartitioning=True,
            ),
            self._commits_since_ckpt,
        )
        self._prev.append(self._state)
        self._state = fused

    def _flush_pending_lazy(self) -> None:
        """Declare a pending commit for a consumer other than
        ``elastic_stats`` — one that ``solve_elastic`` never reaches with a
        commit pending, since it follows every commit with stats.  The
        same fused RDD, its payload (here at the commit-time parameters)
        left unread."""
        if self._pending is not None:
            clam, _, ceta, cmu_s, _, _ = self._pending
            self._declare_commit(clam, ceta, cmu_s)

    def elastic_commit(
        self, lam, dlam, eta, mu_s, alpha_p, alpha_d
    ) -> None:
        """Lazy transition — ZERO jobs here: the swapped-in state RDD
        materializes (commit transform + state-cache write, 24 B/row)
        inside the NEXT ``elastic_stats`` reduce, which also returns the
        post-commit slack/multiplier aggregates the μ/η rules need.  2 jobs
        per iteration total (stats, step), same shape as the Newton solver.

        The next ``elastic_stats`` applies it as the FUSED commit+stats
        pass (one base crossing — see ``_ecommit_stats_pass``); any other
        next consumer declares the same pass first
        (``_flush_pending_lazy``)."""
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
            self._spark, self._base.zip(self._state), self._schema, _weights
        )

    def cleanup(self) -> None:
        blob_plane.release(
            self._spark.sparkContext, self._base, self._state, *self._prev
        )
        self._prev = []
        self._pending = None
