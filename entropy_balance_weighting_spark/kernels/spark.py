"""Distributed kernel: packed rows as pre-encoded Arrow blobs + batch passes.

Layout: one logical row per observation —
``(row_id BIGINT, w0 DOUBLE, idx ARRAY<INT>, val ARRAY<DOUBLE>)`` — i.e.
per-row CSR (the Spark rendering of the reference's package-wide CSR
canonicalization, ref: shared.py:11-12); q = w0/Σw0 and the weight state
are recomputed per pass.  Packing happens once; every solver iteration
then runs whole-pass batch jobs that compute ALL of the iteration's
N→{scalar,K,K×K} reductions in a single scan (the same fusion the
reference gets from numexpr + MKL, ref: ebw_routines.py:210-233), shipping
only K- and K²-sized partials to the driver.

A pass reads each batch's rows once as one value (``_flatten_rb``), which
every product goes through: X·λ, Xᵀu and the Gram accumulators.  When the
plan proves every row's ids are ``[0..k)`` (``blob_plane.dense_idx``: the
data layer's static-id specs) the encode drops ``idx`` and a batch is the
zero-copy ``(n, k)`` view of the ``val`` buffer, so the products are BLAS
calls (``DenseRows``).  Any other batch is CSR read zero-copy from the list
arrays' offsets (``CsrRows``: gather, row ``reduceat``, ``bincount``).
Pandas conversion would materialize one Python ndarray PER ROW per list
column.

The packed rows are cached as an RDD of Arrow IPC byte blobs (one element
per record batch, written by Spark's JVM Arrow writer), not as a
DataFrame — see ``kernels/blob_plane.py``,
which holds the encode, cache, reduce and render plumbing all three
distributed kernels share.  This module holds the batch math they share
(the batch rows and their products, Gram accumulators, the reduce-topology
gate), the one pass runner every reduce pass of the three kernels goes
through, and the unbounded Newton kernel.

A reduce pass is a per-batch function that returns its fields'
contributions to a stats dataclass (``kernels.base``: each field declares
how it reduces, so the class is its own payload layout).
:func:`reduce_pass` skips empty batches, reads each batch's rows once and
feeds the contributions to one :class:`PayloadAcc` per partition;
``kernels.base.unpack`` rebuilds the dataclass on the driver.  No pass
keeps its own accumulators or offsets.

Why whole-pass batch jobs and not joins/explodes: the per-iteration
primitives (segment dot products, Gram accumulation) are BLAS-shaped;
exploding the arrays back to long form would shuffle N·nnz rows per
iteration, while this design shuffles nothing after setup — partials are
partition-local and only K²-sized buffers cross the driver boundary
(SURVEY §3.4).

State commits are a DRIVER-SIDE program update: the iterate is a short
op-chain (a start op, then ``lin`` ops for primal steps; see
``_w_state``) replayed against the immutable once-cached base by every
pass, so the base is never rewritten (2 map-only jobs per iteration).  A
primal chain longer than ``SparkKernel._MAX_PROG`` is compacted into an
8 B/row ``wstar`` state cache, zipped with the base element for element
like the elastic and penalty kernels' state; an RDD ``localCheckpoint``
every few compactions truncates lineage so long solves never grow an
unbounded plan — the classic iterative-MLlib pitfall (SURVEY §4 caching
note).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from entropy_balance_weighting_spark.kernels import blob_plane
from entropy_balance_weighting_spark.kernels.base import (
    GRAM,
    MAX,
    MIN,
    IterStats,
    StepStats,
    layout,
    unpack,
)
from entropy_balance_weighting_spark.kernels.blob_plane import DENSE_IDX_META, GUESS
from entropy_balance_weighting_spark.solvers.linalg import BlockStructure


def _flatten_rb(rb: pa.RecordBatch) -> "DenseRows | CsrRows":
    """The batch's design-matrix rows, read zero-copy from the Arrow
    buffers.  An idx-elided batch (:data:`DENSE_IDX_META`: every row holds
    ``[0..k)``) is the row-major ``(n, k)`` view of the ``val`` child
    buffer; any other batch is CSR, the list arrays' offsets read as row
    lengths.  The pandas route would materialize one Python ndarray PER
    ROW for each array column, so every kernel pass reads the batch
    columns directly."""
    val = rb.column(rb.schema.get_field_index("val"))
    flat_val = val.flatten().to_numpy(zero_copy_only=False).astype(
        np.float64, copy=False
    )
    i = rb.schema.get_field_index("idx")
    if i < 0:
        k = int((rb.schema.metadata or {})[DENSE_IDX_META])
        if flat_val.size != rb.num_rows * k:
            raise ValueError(
                f"idx-elided batch holds {flat_val.size} values for "
                f"{rb.num_rows} rows of {k}"
            )
        return DenseRows(flat_val.reshape(rb.num_rows, k))
    idx = rb.column(i)
    lens = pc.list_value_length(idx).to_numpy().astype(np.int64, copy=False)
    flat_idx = idx.flatten().to_numpy(zero_copy_only=False).astype(
        np.int64, copy=False
    )
    return CsrRows(flat_idx, flat_val, lens)


# Rows per chunk of a dense K×K Gram accumulation: the chunk's scratch
# stays ~32 MB (this many doubles) at any K.
_GRAM_CHUNK_CELLS = 4_000_000


def _gram_chunk(k: int) -> int:
    return max(256, int(_GRAM_CHUNK_CELLS / max(k, 1)))


class DenseRows:
    """X of an idx-elided batch: ``v`` is the ``(n, k)`` matrix, so X·λ,
    Xᵀu and the Gram are BLAS products."""

    __slots__ = ("v",)

    def __init__(self, v: np.ndarray) -> None:
        self.v = v

    def dot(self, lam: np.ndarray) -> np.ndarray:
        """X·λ — per-row dot products."""
        return self.v @ lam

    def tdot(self, u: np.ndarray, k: int) -> np.ndarray:
        """Xᵀu — a K-vector."""
        return u @ self.v

    def gram(self, d: np.ndarray, k: int, out: np.ndarray) -> None:
        """out += Xᵀ Diag(d) X, chunked over rows."""
        v = self.v
        step = _gram_chunk(k)
        for lo in range(0, len(v), step):
            vc = v[lo : lo + step]
            out += (vc * d[lo : lo + step, None]).T @ vc

    def csr(self) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        """The CSR triple of the same rows (the block-Gram path's input)."""
        n, k = self.v.shape
        return (
            np.tile(np.arange(k, dtype=np.int64), n),
            self.v.ravel(),
            np.full(n, k, dtype=np.int64),
        )


class CsrRows:
    """X of a batch with an ``idx`` column, as CSR: ``flat_idx`` and
    ``flat_val`` hold every row's entries back to back, ``lens`` the
    entry count of each row."""

    __slots__ = ("flat_idx", "flat_val", "lens")

    def __init__(self, flat_idx, flat_val, lens) -> None:
        self.flat_idx = flat_idx
        self.flat_val = flat_val
        self.lens = lens

    def dot(self, lam: np.ndarray) -> np.ndarray:
        """X·λ — per-row dot products."""
        if self.flat_idx.size == 0:
            return np.zeros(len(self.lens))
        return _segsum(self.flat_val * lam[self.flat_idx], self.lens)

    def tdot(self, u: np.ndarray, k: int) -> np.ndarray:
        """Xᵀu — scatter-add into a K-vector."""
        if self.flat_idx.size == 0:
            return np.zeros(k)
        return np.bincount(
            self.flat_idx,
            weights=self.flat_val * np.repeat(u, self.lens),
            minlength=k,
        )

    def gram(self, d: np.ndarray, k: int, out: np.ndarray) -> None:
        """out += Xᵀ Diag(d) X via chunked densify + the BLAS product."""
        lens, flat_idx, flat_val = self.lens, self.flat_idx, self.flat_val
        n = len(lens)
        if flat_idx.size == 0 or n == 0:
            return
        step = _gram_chunk(k)
        ends = np.cumsum(lens)
        starts = ends - lens
        for lo in range(0, n, step):
            hi = min(lo + step, n)
            s, e = starts[lo], ends[hi - 1]
            xc = np.zeros((hi - lo, k))
            rr = np.repeat(np.arange(hi - lo), lens[lo:hi])
            xc[rr, flat_idx[s:e]] = flat_val[s:e]
            out += (xc * d[lo:hi, None]).T @ xc

    def csr(self) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        return self.flat_idx, self.flat_val, self.lens


def _rb_col(rb: pa.RecordBatch, name: str) -> np.ndarray:
    # Blob schemas are variable (guess/state/dense-idx columns are
    # conditional), and get_field_index returns -1 for a missing name — which
    # rb.column() silently resolves to the LAST column. Guard it.
    i = rb.schema.get_field_index(name)
    if i < 0:
        raise KeyError(
            f"blob batch is missing required column {name!r} "
            f"(has: {rb.schema.names})"
        )
    return rb.column(i).to_numpy(zero_copy_only=False)


def _rb_q(rb: pa.RecordBatch, sum_w0: float) -> np.ndarray:
    """Start weights q = w0/Σw0 — recomputed from the blob's w0 column
    (one divide per row; blobs stopped carrying a q column in r8)."""
    return _rb_col(rb, "w0") / sum_w0


def _rb_with(rb: pa.RecordBatch, **cols: np.ndarray) -> pa.RecordBatch:
    """Copy of the batch with the named double columns replaced."""
    arrays = [rb.column(i) for i in range(rb.num_columns)]
    for name, arr in cols.items():
        arrays[rb.schema.get_field_index(name)] = pa.array(
            np.asarray(arr, dtype=np.float64), type=pa.float64()
        )
    return pa.RecordBatch.from_arrays(arrays, schema=rb.schema)


def _segsum(prod: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """Row-wise sums of a flat product vector: one ``reduceat`` over the
    non-empty rows (each sum is its own row's, not a difference of a
    batch-wide running sum); empty rows sum to 0."""
    out = np.zeros(len(lens))
    full = lens > 0
    if prod.size:
        out[full] = np.add.reduceat(prod, (np.cumsum(lens) - lens)[full])
    return out


def _gram_accum_blocks(
    flat_idx, flat_val, lens, d, block_of, local, sizes, flat_offsets, out: np.ndarray
) -> None:
    """out += per-block Gram contributions (flat Σk_b² layout).

    The huge-K path: every row's nonzeros live in ONE block (group-specific
    moments never co-occur, SURVEY A10/§7.2), so its outer product scatters
    into that block's dense k_b×k_b tile.  Rows are processed grouped by
    nnz-length so the pairwise products vectorize; accumulation is a single
    bincount over flat tile coordinates.  Nothing K²-sized ever exists.
    """
    n = len(lens)
    if flat_idx.size == 0 or n == 0:
        return
    ends = np.cumsum(lens)
    starts = ends - lens
    for m in np.unique(lens):
        if m == 0:
            continue
        sel = np.where(lens == m)[0]
        gidx = starts[sel][:, None] + np.arange(m)[None, :]  # (nr, m)
        idx = flat_idx[gidx]  # moment ids
        val = flat_val[gidx]
        loc = local[idx]
        blk = block_of[idx[:, 0]]  # one block per row (structural invariant)
        kb = sizes[blk]
        off = flat_offsets[blk]
        prods = val[:, :, None] * val[:, None, :] * d[sel][:, None, None]
        keys = (
            off[:, None, None]
            + loc[:, :, None] * kb[:, None, None]
            + loc[:, None, :]
        )
        out += np.bincount(
            keys.ravel(), weights=prods.ravel(), minlength=len(out)
        )


def _gram_add(k: int, blocks):
    """``add(x, d, out)``: ``out`` += the batch rows ``x``'s Xᵀ Diag(d) X,
    ``out`` being the flat K² buffer of a dense Gram when ``blocks`` is
    None, else the flat Σk_b² block buffer.  Every kernel's Gram goes
    through it, so all three solvers get the large-K path."""
    if blocks is None:
        return lambda x, d, out: x.gram(d, k, out.reshape(k, k))
    block_of, local, sizes, flat_offsets, _ = blocks
    return lambda x, d, out: _gram_accum_blocks(
        *x.csr(), d, block_of, local, sizes, flat_offsets, out
    )


class PayloadAcc:
    """One partition's payload of the ``classes`` (``kernels.base.layout``)
    on the executor.  Every sum starts at 0 and every min at +inf; each
    non-empty batch then adds its contributions field by field, in batch
    order — the accumulation order the bits depend on."""

    def __init__(self, classes, k: int, blocks) -> None:
        gram_size = k * k if blocks is None else int(blocks[4])
        self.slots, n_sums, n_mins = layout(classes, k, gram_size)
        self.summed = np.zeros(n_sums)
        self.least = [np.inf] * n_mins
        self.gram_add = _gram_add(k, blocks)

    def feed(self, batch_fn: Callable, rb: pa.RecordBatch, x=None) -> None:
        """Add one batch: ``batch_fn(rb, x)`` returns each class's field
        contributions (a dict by field name, or the bare value of a
        one-field class; a tuple of those for several classes), ``x`` being
        the batch's rows (:func:`_flatten_rb`, read here unless given).  A
        GRAM contribution is the ``d`` of Xᵀ Diag(d) X.  An empty batch
        adds nothing and is not read."""
        if not rb.num_rows:
            return
        if x is None:
            x = _flatten_rb(rb)
        contribs = batch_fn(rb, x)
        if len(self.slots) == 1:
            contribs = (contribs,)
        for part, c in zip(self.slots, contribs):
            if not isinstance(c, dict):
                c = {part[0][0]: c}
            for name, kind, at in part:
                v = c[name]
                if kind == MIN:
                    self.least[at] = min(self.least[at], v)
                elif kind == MAX:
                    self.least[at] = min(self.least[at], -v)
                elif kind == GRAM:
                    self.gram_add(x, v, self.summed[at])
                else:
                    self.summed[at] += v

    def payload(self) -> tuple[bytes, bytes]:
        return self.summed.tobytes(), np.asarray(self.least, np.float64).tobytes()


def reduce_pass(batch_fn: Callable, k: int, blocks, *classes) -> Callable:
    """A reduce pass: one :class:`PayloadAcc` of ``classes`` per partition,
    fed every batch through ``batch_fn``; ``fn.classes`` names the payload
    for :func:`kernels.base.unpack`.  ``blocks``: None → the dense K×K
    Gram; else the (block_of, local, sizes, flat_offsets, total_flat)
    arrays → the flat Σk_b² per-block accumulation (the huge-K path)."""

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[tuple[bytes, bytes]]:
        acc = PayloadAcc(classes, k, blocks)
        for rb in batches:
            acc.feed(batch_fn, rb)
        yield acc.payload()

    fn.classes = classes
    return fn


_TREE_REDUCE_BYTES = 8 << 20  # payloads past this merge executor-side
# Plain collect ships ONE payload PER PARTITION to the driver; past this
# aggregate budget the reduce must go executor-side even when each payload
# is individually small.  Found at N=100M × K=100k grouped (r8): 400
# partitions × ~3.2 MB payloads (2 K-vectors + Σk_b² gram) = 1.28 GB blew
# the 1 GiB spark.driver.maxResultSize default mid-solve.  256 MiB keeps
# 4× headroom under that default.
_COLLECT_BUDGET_BYTES = 256 << 20


def gram_bytes(k: int, block_structure) -> int:
    """Size of a stats pass's gram payload: K² doubles dense, Σk_b² with
    block structure."""
    if block_structure is not None:
        return int(block_structure.total_flat) * 8
    return k * k * 8


def reduce_big(k: int, block_structure, n_parts: int) -> bool:
    """Whether a kernel reduce must merge executor-side (treeReduce,
    ``blob_plane.reduce_payload``): either one payload is large, or
    n_partitions × payload would overrun the driver's collect budget.
    Payload bound: a handful of scalars + up to 8 K-vectors + the gram
    buffer (generous for every pass shape across the three kernels)."""
    per_part = (32 + 8 * k) * 8 + gram_bytes(k, block_structure)
    return (
        per_part > _TREE_REDUCE_BYTES
        or per_part * max(n_parts, 1) > _COLLECT_BUDGET_BYTES
    )


def gram_big(kern) -> bool:
    """:func:`reduce_big` for a distributed kernel's Gram-carrying passes."""
    return reduce_big(kern.k, kern.block_structure, kern._base.getNumPartitions())


def blocks_tuple(block_structure: BlockStructure):
    """Closure-serializable view of a BlockStructure for the executor's
    Gram accumulator: None for the one-block (dense) case, which
    accumulates the K×K Gram with BLAS."""
    if len(block_structure.sizes) == 1:
        return None
    return (
        block_structure.block_of,
        block_structure.local,
        block_structure.sizes,
        block_structure.flat_offsets,
        block_structure.total_flat,
    )


def pack_rows(
    x_long: DataFrame,
    w0: DataFrame,
    known_sums: tuple[float, int] | None = None,
    prepacked: DataFrame | None = None,
) -> tuple[DataFrame, float, int]:
    """Pack the canonical long tables into per-row CSR; returns
    (packed, Σw0, n).

    With ``prepacked`` (the data layer's projection-derived
    ``(row_id, w0, idx, val)``) this is a pure narrow plan — the solver
    runs ZERO shuffles end-to-end.  Otherwise the generic explode+groupBy
    path performs the one co-partitioning shuffle (any x_long source, e.g.
    a loaded bundle).  Rows absent from x_long get empty arrays.
    ``known_sums=(Σw0, n)`` skips the aggregation job when the data layer
    already computed them at build time."""
    if known_sums is not None:
        total, count = known_sums
        sum_w0, n = float(total), int(count)
    elif prepacked is not None:
        agg = prepacked.agg(
            F.sum("w0").alias("s"), F.count(F.lit(1)).alias("n")
        ).first()
        sum_w0, n = float(agg["s"]), int(agg["n"])
    else:
        agg = w0.agg(F.sum("w0").alias("s"), F.count(F.lit(1)).alias("n")).first()
        sum_w0, n = float(agg["s"]), int(agg["n"])
    if prepacked is not None:
        return prepacked.select("row_id", "w0", "idx", "val"), sum_w0, n
    packed_x = (
        x_long.groupBy("row_id")
        .agg(
            F.sort_array(F.collect_list(F.struct("moment_id", "value"))).alias("mv")
        )
        .select(
            "row_id",
            F.col("mv").getField("moment_id").alias("idx"),
            F.col("mv").getField("value").alias("val"),
        )
    )
    df = (
        w0.select("row_id", "w0")
        .join(packed_x, "row_id", "left")
        .select(
            "row_id",
            "w0",
            F.coalesce("idx", F.expr("array()").cast("array<int>")).alias("idx"),
            F.coalesce("val", F.expr("array()").cast("array<double>")).alias("val"),
        )
    )
    return df, sum_w0, n


def _w_state(rb, q, x, wprog):
    """Current weight-state vector for a batch.

    ``wprog`` is the kernel's weight program (see SparkKernel.commit): a
    short driver-side list of ops replayed against the immutable base.  It
    opens with a start op — ``("exp", λ)`` renders the dual iterate
    ``q·exp(X·λ)``, ``("guess",)`` a warm start ``q·ratio_guess`` from the
    base's ``blob_plane.GUESS`` column, ``("state",)`` the compacted
    ``wstar`` column of the zipped state — then ``("lin", α, λ, Δλ)`` ops
    apply primal updates ``w·(1 + α·(X·Δλ − cd))`` with
    ``cd = log(w/q) − X·λ``; ``x`` is the batch's rows (:func:`_flatten_rb`)."""
    w = None
    with np.errstate(over="ignore", divide="ignore", invalid="ignore"):
        for op in wprog:
            if op[0] == "exp":
                w = q * np.exp(x.dot(op[1]))
            elif op[0] == "guess":
                w = q * _rb_col(rb, GUESS)
            elif op[0] == "state":
                w = _rb_col(rb, "wstar")
            else:
                _, alpha, lam_v, dlam_v = op
                cd = np.log(w / q) - x.dot(lam_v)
                w = w + alpha * (x.dot(dlam_v) - cd) * w
    return w


def _iter_stats(rb, x, q, w, lam, k: int) -> dict:
    """One batch's :class:`IterStats` contributions at the weights ``w``."""
    w0 = _rb_col(rb, "w0")
    r = w / q
    with np.errstate(divide="ignore", invalid="ignore"):
        lr = np.log(r)
        f_val = float(np.sum(w0 * (r * lr - r + 1.0)))
        cd = lr - x.dot(lam)
    bad = ~np.isfinite(cd)
    cdf = np.where(bad, 0.0, cd)
    return {
        "f_val": f_val,
        "xt_w": x.tdot(w, k),
        "cd_sq": float(cdf @ cdf),
        "xt_wcd": x.tdot(w * cdf, k),
        "gram": w,
        "min_w": float(w.min()),
        "has_nan": float(bad.sum()),
    }


def _stats_pass(
    k: int,
    lam: np.ndarray,
    blocks=None,
    wprog=None,
    sum_w0: float = 1.0,
) -> Callable:
    """:class:`IterStats` of the weight program ``wprog`` (``blocks``: see
    :func:`reduce_pass`)."""

    def batch(rb, x):
        q = _rb_q(rb, sum_w0)
        return _iter_stats(rb, x, q, _w_state(rb, q, x, wprog), lam, k)

    return reduce_pass(batch, k, blocks, IterStats)


def _step_pass(
    k: int,
    lam: np.ndarray,
    dlam: np.ndarray,
    wprog=None,
    sum_w0: float = 1.0,
    spec_lam_new: np.ndarray | None = None,
    blocks=None,
) -> Callable:
    """Step reductions (A2/A6), optionally followed in the same payload by
    the SPECULATIVE :class:`IterStats` of the α=1 primal candidate (r13
    optimization, guide §1.2 "remove passes").

    Measured on both unbounded bench problems (sf0.1): every commit is
    ``primal`` with ``alpha == 1.0`` exactly (the fraction-to-boundary
    never binds on well-conditioned problems).  The post-commit state is
    then ``w + (X·Δλ − cd)·w`` — α-independent — so this pass can compute
    the NEXT iteration's full IterStats in the same scan, and the kernel
    skips that stats job entirely when the driver indeed commits primal at
    α=1.  Bit-exactness: ``w_new = w + dw`` with the RAW ``dw`` equals the
    ``_w_state`` lin-replay at α=1 (multiplying by 1.0 is an IEEE
    identity), and the candidate's stats are :func:`_stats_pass`'s own
    per-batch function, accumulated the same way, so a hit returns the same
    bits the real pass would — iteration counts and weights cannot drift.
    """

    def batch(rb, x):
        q = _rb_q(rb, sum_w0)
        w = _w_state(rb, q, x, wprog)
        xlam = x.dot(lam)
        xdl = x.dot(dlam)
        with np.errstate(divide="ignore", invalid="ignore", over="ignore"):
            cd = np.log(w / q) - xlam
            dw = (xdl - cd) * w
            wdual = q * np.exp(xlam + xdl)
        bad = ~np.isfinite(dw) | ~np.isfinite(wdual)
        dwf = np.where(np.isfinite(dw), dw, 0.0)
        wdf = np.where(np.isfinite(wdual), wdual, 0.0)
        blocked = dwf < 0
        step = {
            "alpha_raw": (
                float(np.min(-w[blocked] / dwf[blocked]))
                if blocked.any()
                else np.inf
            ),
            "xt_dw": x.tdot(dwf, k),
            "dw_sq": float(dwf @ dwf),
            "xt_wdual": x.tdot(wdf, k),
            "min_wdual": float(wdf.min()),
            "has_nan": float(bad.sum()),
        }
        if spec_lam_new is None:
            return step
        # α=1 primal candidate, exactly as the lin-replay renders it
        return step, _iter_stats(rb, x, q, w + dw, spec_lam_new, k)

    if spec_lam_new is None:
        return reduce_pass(batch, k, blocks, StepStats)
    return reduce_pass(batch, k, blocks, StepStats, IterStats)


def _compact_pass(wprog, sum_w0: float) -> Callable:
    """The program rendered as the one ``wstar`` state column: a batch per
    input batch, empty ones included, so the state zips with the base."""

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            w = _w_state(rb, _rb_q(rb, sum_w0), _flatten_rb(rb), wprog)
            yield pa.RecordBatch.from_arrays(
                [pa.array(w, type=pa.float64())], ["wstar"]
            )

    return fn


class SparkKernel:
    """Distributed kernel over the packed rows, cached as Arrow IPC blobs.

    With ``moment_groups`` metadata (every moment group-specific), the
    per-iteration Gram is accumulated block-diagonally: Σk_b² floats per
    task instead of K² — the path that reaches the reference's
    'hundreds of thousands of constraints' regime (ref: README.md:8).

    State: the packed base is cached once and never rewritten.  The
    iterate is the weight program ``_wprog`` (see ``_w_state``), replayed
    by every pass — over ``base.zip(state)`` once a long primal chain has
    been compacted into the ``wstar`` state cache (see ``commit``).  A
    compaction is only declared (lazy, persisted): the next reduce
    materializes it in the same scan as its own reductions, and the step
    pass's speculative stats spare most stats jobs — at most 2 jobs per
    iteration."""

    # Lin ops replayed on top of the start op before a primal chain is
    # compacted.  Values are identical at any cap (the compacted wstar
    # stores exactly what the replay computes — pinned by
    # tests/test_speculative_stats.py): up to _MAX_PROG replayed lin ops
    # per pass (2 dots + a log each) against one 8 B/row state write.
    # Typical Newton solves (3–10 iterations) never compact.
    _MAX_PROG = 8
    # Speculative α=1 primal stats (see ``step_stats``); tests switch it
    # off to compare against the unfused solve.
    _SPECULATE = True

    # split-state bookkeeping shared with the penalty kernel
    _reduce = blob_plane.reduce_state
    _commit = blob_plane.commit_state

    def __init__(
        self, base_rdd, schema, spark, k: int, sum_w0: float, n: int, start,
        block_structure: BlockStructure,
    ) -> None:
        self._base = base_rdd
        self._schema = schema  # decode schema of the JVM-encoded base
        self._spark = spark
        self.k = k
        self.sum_w0 = sum_w0
        self.n = n
        self.block_structure = block_structure
        # the compacted wstar state (None until a compaction), the state a
        # declared commit superseded (released by the next reduce), and
        # the pre-commit (program, state) that ``rollback`` restores
        self._state = None
        self._prev = None
        self._commits_since_ckpt = 0
        self._wprog: list = [start]
        self._undo: tuple | None = None
        # deferred V1 validation: armed by the API layer, consumed by the
        # first reduce (``blob_plane.reduce``), which also materializes the
        # blob cache — validation costs zero extra jobs (r13 optimization)
        self._validate_first_pass = False
        # Speculative α=1 primal stats (r13 optimization): the step pass
        # fuses the NEXT iteration's stats reductions for the α=1 primal
        # candidate; ``commit`` marks the stash live when the driver indeed
        # commits primal at exactly α=1, and ``stats`` then returns it with
        # ZERO Spark jobs.  Two prediction misses (dual commit or α<1)
        # disable speculation for the rest of the solve, bounding wasted
        # work on problems where the fraction-to-boundary binds.
        self._spec: dict | None = None
        self._spec_misses = 0
        self.spec_hits = 0  # observable for tests/diagnostics

    @classmethod
    def from_problem(
        cls,
        x_long: DataFrame,
        w0: DataFrame,
        k: int,
        *,
        ratio_guess: DataFrame | None = None,
        moment_groups: list[str] | None = None,
        known_sums: tuple[float, int] | None = None,
        prepacked: DataFrame | None = None,
    ) -> "SparkKernel":
        """Pack the canonical long tables into per-row CSR — the one setup
        shuffle; every subsequent iteration is shuffle-free.

        r8 pack-cost work (PLANS.md §13): the blob carries only
        ``(row_id, w0, idx?, val)`` — q and the weight state are
        recomputed per pass (one divide), a dense ``[0..k)`` idx column is
        dropped when the plan proves it (``blob_plane.dense_idx``), and the
        persist is LAZY: the first stats reduce materializes
        encode+cache+reductions in one job instead of a separate pack
        scan.  A warm start's guess rides in the base as the
        ``blob_plane.GUESS`` column (``blob_plane.encode_base``, the
        split-state kernels' encode) and the program starts at
        ``("guess",)``."""
        df, sum_w0, n = pack_rows(x_long, w0, known_sums, prepacked)
        base, schema = blob_plane.encode_base(df, k, ratio_guess)
        bs = BlockStructure.from_groups(moment_groups) or BlockStructure.single(k)
        # the cold start wstar = q = q·exp(X·0) is analytic
        start = ("exp", np.zeros(k)) if ratio_guess is None else ("guess",)
        return cls(
            base, schema, df.sparkSession, k, sum_w0, n, start,
            block_structure=bs,
        )

    def materialize(self) -> None:
        """Force the (lazy) blob cache to build now.  The solve path never
        needs this — the first stats reduce materializes encode + cache +
        reductions in ONE job — but benches/tests that want the pack cost
        on its own line call it explicitly.  Counted on the JVM, so no
        Python worker starts and the time is the encode's."""
        self._base._jrdd.count()

    def init_state(self, ratio_guess=None) -> None:
        if ratio_guess is not None:
            raise ValueError(
                "SparkKernel takes the ratio guess at construction (from_problem)"
            )

    # -- passes ------------------------------------------------------------
    _gram_big = property(gram_big)

    def defer_validation(self) -> None:
        """Arm the fused V1 check: the next pass (the first ``stats``)
        counts bad X rows / bad weights and raises the same ValueError the
        eager aggregate would — one fewer full scan per solve."""
        self._validate_first_pass = True

    def stats(self, lam: np.ndarray) -> IterStats:
        if (
            not self._validate_first_pass
            and self._spec is not None
            and self._spec["committed"]
            and np.array_equal(lam, self._spec["lam_new"])
        ):
            # speculative hit: the step pass already computed these exact
            # reductions on the committed α=1 primal state — zero jobs
            out = self._spec["stats"]
            self._spec = None
            self.spec_hits += 1
            return out
        self._spec = None
        fn = _stats_pass(
            self.k, lam, blocks_tuple(self.block_structure), self._wprog,
            self.sum_w0,
        )
        payload = self._reduce(fn, big=self._gram_big)
        return unpack(payload, self.block_structure, IterStats)[0]

    def step_stats(self, lam: np.ndarray, dlam: np.ndarray) -> StepStats:
        speculate = self._SPECULATE and self._spec_misses < 2
        lam_new = np.asarray(lam + dlam, dtype=np.float64) if speculate else None
        blocks = blocks_tuple(self.block_structure) if speculate else None
        fn = _step_pass(
            self.k, lam, dlam, self._wprog, self.sum_w0,
            spec_lam_new=lam_new, blocks=blocks,
        )
        # the speculative payload carries a gram: use the same reduce
        # topology the stats pass uses so a hit's merge order is identical
        # to what the real stats pass would have produced
        payload = self._reduce(fn, big=self._gram_big if speculate else False)
        step, *spec = unpack(payload, self.block_structure, *fn.classes)
        self._spec = None
        if speculate:
            self._spec = {
                "lam": np.asarray(lam, dtype=np.float64).copy(),
                "dlam": np.asarray(dlam, dtype=np.float64).copy(),
                "lam_new": lam_new,
                "committed": False,
                "stats": spec[0],
            }
        return step

    def commit(self, choice: str, lam: np.ndarray, dlam: np.ndarray, alpha: float) -> None:
        """Advance the iterate — a driver-side program update; the packed
        base is never rewritten.

        ``dual``: the new state is ``q·exp(X·(λ+Δλ))`` — a pure function
        of a driver-side vector, so the program resets to a single ``exp``
        op and any compacted state is dropped, with ZERO Spark work.

        ``primal``: ``w·(1 + α·(X·Δλ − cd))`` depends on the current
        weights, so a ``lin`` op is appended (one more dot product
        replayed per pass).  When that would pass ``_MAX_PROG`` lin ops,
        the program with the new op is compacted instead: a LAZY
        ``wstar`` state cache (8 B/row, ``_compact_pass``) that the next
        reduce materializes in the same scan as its own reductions; the
        program restarts as ``[("state",)]`` and appends again.

        A primal commit at exactly α=1 on the speculated step makes the
        next ``stats`` free (see ``step_stats``); a dual commit or any
        other primal commit after a speculative step is a miss.  No extra
        min-job: zero-weight detection uses the step pass's ``min_wdual``
        (dual candidate) and the next stats' ``min_w`` (primal
        underflow)."""
        self._undo = (self._wprog, self._state)
        spec, self._spec = self._spec, None
        if spec is not None:
            if (
                choice == "primal"
                and alpha == 1.0
                and np.array_equal(lam, spec["lam"])
                and np.array_equal(dlam, spec["dlam"])
            ):
                # the committed state IS the speculated candidate: the
                # next stats() call returns the stash with zero jobs
                spec["committed"] = True
                self._spec = spec
            else:
                self._spec_misses += 1
        if choice == "dual":
            self._wprog = [("exp", np.asarray(lam + dlam, dtype=np.float64))]
            if self._state is not None:
                self._prev, self._state = self._state, None
            return
        op = (
            "lin",
            float(alpha),
            np.asarray(lam, dtype=np.float64),
            np.asarray(dlam, dtype=np.float64),
        )
        if len(self._wprog) <= self._MAX_PROG:
            self._wprog = [*self._wprog, op]
            return
        self._commit(_compact_pass([*self._wprog, op], self.sum_w0), ["wstar"])
        self._wprog = [("state",)]

    def rollback(self) -> None:
        """Undo the last commit: restore the pre-commit program and state
        handle (reference semantics — a zero-weight step fails BEFORE
        committing, ebw_routines.py:274-282).  The base is never touched;
        a restored state whose cache a reduce already released is
        recomputed from lineage — paid only on the failure path."""
        if self._undo is None:
            raise RuntimeError("no committed step to roll back")
        self._spec = None  # stale by definition after an undo
        self._wprog, state = self._undo
        self._undo = None
        if state is not self._state:
            if self._state is not None:
                self._state.unpersist()
            self._prev = None
            self._state = state if state is None else blob_plane.persist(state)

    def new_weights(self) -> DataFrame:
        sum_w0 = self.sum_w0
        wprog = self._wprog

        def weight_of(rb: pa.RecordBatch) -> np.ndarray:
            q = _rb_q(rb, sum_w0)
            return _w_state(rb, q, _flatten_rb(rb), wprog) * sum_w0

        return blob_plane.weights_df(
            self._spark, blob_plane.state_rows(self), self._schema, weight_of
        )

    def cleanup(self) -> None:
        blob_plane.release(
            self._spark.sparkContext, self._base, self._state, self._prev
        )
        self._prev = None
