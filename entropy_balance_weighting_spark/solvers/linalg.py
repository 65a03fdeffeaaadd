"""Driver-local K×K linear algebra (SURVEY §2.10 L1-L3) over one Gram type.

Every Gram a kernel returns is a :class:`BlockGram`: a block-diagonal
matrix stored as flat per-block tiles.  A dense K×K Gram is the one-block
case.  scipy/PARDISO are not assumed in this environment; ``numpy.linalg``
handles a block of up to a few thousand moments.  Beyond that, the
reference's "hundreds of thousands of constraints" regime (ref:
README.md:8) is reached through STRUCTURE, not a bigger factorization:
group-specific moments never co-occur in a row, so the Gram matrix is
block-diagonal by construction (SURVEY §7.2) — Σ k_b² storage instead of
K², and B independent small solves instead of one K×K solve.

Blocks are numbered by descending size, so the blocks of one size k are
contiguous in the flat buffer and each size class is a ``(B_k, k, k)``
view of it.  Every operation is one batched NumPy call chain per size
class.  ``np.matmul`` and ``np.linalg`` run the same BLAS/LAPACK call per
block as a per-block loop would, so each block's result is bit-identical
to solving that block alone.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

_MAX_ESCALATIONS = 30  # ×10 Tikhonov escalations before a block is unsolvable


@dataclass
class BlockStructure:
    """Partition of the K moments into Gram-independent blocks.

    Built from the data layer's ``moment_groups`` metadata (every moment
    carries its group label; moments of different groups never share a
    row), or as the single block of a dense Gram.  Block ids run by
    descending size, then label.
    """

    block_of: np.ndarray  # (K,) block id per moment
    members: list[np.ndarray]  # moment ids per block (id-ordered)
    local: np.ndarray  # (K,) index of each moment within its block
    sizes: np.ndarray  # (B,) block sizes, non-increasing
    flat_offsets: np.ndarray  # (B,) offsets into the flat Σk_b² buffer
    total_flat: int  # Σ k_b²
    # per block size k: (k, (B_k, k) member ids, flat offset of the class)
    classes: list[tuple[int, np.ndarray, int]]

    @classmethod
    def from_groups(cls, moment_groups: list[str] | None) -> "BlockStructure | None":
        """None unless every moment is grouped into >1 blocks: one global
        moment (e.g. an intercept) couples all blocks into one dense one."""
        if not moment_groups or any(g == "" for g in moment_groups):
            return None
        labels, lab = np.unique(np.asarray(moment_groups), return_inverse=True)
        if len(labels) < 2:
            return None
        # one stable sort: by block size (descending), then label; moment
        # ids stay ascending within a block
        order = np.lexsort((lab, -np.bincount(lab)[lab]))
        first = np.flatnonzero(np.diff(lab[order], prepend=-1))
        return cls._from_order(order, np.diff(first, append=len(order)))

    @classmethod
    def single(cls, k: int) -> "BlockStructure":
        """One block holding all K moments: the dense Gram."""
        return cls._from_order(np.arange(k), np.array([k]))

    @classmethod
    def _from_order(cls, order: np.ndarray, sizes: np.ndarray) -> "BlockStructure":
        """``order``: moment ids grouped by block, blocks by descending size."""
        k = len(order)
        starts = np.cumsum(sizes) - sizes
        block_of = np.empty(k, dtype=np.int64)
        block_of[order] = np.repeat(np.arange(len(sizes)), sizes)
        local = np.empty(k, dtype=np.int64)
        local[order] = np.arange(k) - np.repeat(starts, sizes)
        sq = sizes**2
        flat_offsets = np.cumsum(sq) - sq
        classes = []
        for b0 in np.flatnonzero(np.diff(sizes, prepend=0)):  # first of a size
            s = int(sizes[b0])
            nb = int(np.count_nonzero(sizes == s))
            ids = order[starts[b0] : starts[b0] + nb * s].reshape(nb, s)
            classes.append((s, ids, int(flat_offsets[b0])))
        return cls(
            block_of=block_of,
            members=np.split(order, starts[1:]),
            local=local,
            sizes=sizes,
            flat_offsets=flat_offsets,
            total_flat=int(np.sum(sq)),
            classes=classes,
        )


@dataclass
class BlockGram:
    """Block-diagonal Gram: the flat per-block buffer + its structure.

    Carries the driver-side K×K algebra the solvers need (matvec and the
    two solve shapes), batched per size class, so no solver ever
    materializes the dense K×K of a block-structured problem."""

    structure: BlockStructure
    flat: np.ndarray  # (Σ k_b²,)

    def tiles(self):
        """Per size class k: (k, (B_k, k) member ids, (B_k, k, k) tile view)."""
        for k, ids, off in self.structure.classes:
            yield k, ids, self.flat[off : off + ids.size * k].reshape(-1, k, k)

    def matvec(self, v: np.ndarray) -> np.ndarray:
        out = np.empty_like(v)
        for _, ids, t in self.tiles():
            out[ids] = (t @ v[ids][..., None])[..., 0]
        return out

    def solve_i_plus_g_diag(self, p: np.ndarray, rhs: np.ndarray) -> np.ndarray:
        """Solve (I + G·Diag(p)) x = rhs block-wise (the penalty Woodbury
        inner system — not symmetric, plain LU per block)."""
        out = np.empty_like(rhs)
        for k, ids, t in self.tiles():
            a = np.eye(k) + t * p[ids][:, None, :]
            out[ids] = np.linalg.solve(a, rhs[ids][..., None])[..., 0]
        return out


def tikhonov_penalty(residual_norm: float) -> float:
    """Adaptive regularization weight δ = max(1e-8, 1e-5·‖res‖^0.55).

    The collinearity defense (ref: ebw_routines.py:235-239): keeps the
    Newton system solvable when the Gram matrix is rank-deficient.
    """
    return max(1e-8, float(1e-5 * residual_norm**0.55))


def barrier_mu(mean: float, minimum: float) -> float:
    """Mehrotra-flavored ζ/σ barrier update from the mean and minimum of
    the complementarity products s·λ (ref: ebw_routines.py:560-574,
    ebw_penalty.py:319-323)."""
    zeta = minimum / mean
    sigma = 0.1 * min(0.05 * (1.0 - zeta) / zeta, 2.0) ** 3
    return sigma * mean


def _gated_solve(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """x = a⁻¹b per block of the stack ``a``, with NaN rows for the blocks
    that fail the Cholesky gate or the solve.  A batched ``np.linalg`` call
    raises if any block fails, so a failing stack is bisected until the
    failing blocks stand alone."""
    try:
        np.linalg.cholesky(a)  # positive-definiteness gate
        return np.linalg.solve(a, b[..., None])[..., 0]
    except np.linalg.LinAlgError:
        if len(a) == 1:
            return np.full_like(b, np.nan)
        h = len(a) // 2
        return np.concatenate([_gated_solve(a[:h], b[:h]), _gated_solve(a[h:], b[h:])])


def solve_regularized(
    gram: BlockGram,
    rhs: np.ndarray,
    penalty: float,
    shift: np.ndarray | None = None,
) -> np.ndarray:
    """Solve (G + Diag(shift) + δ_b I)x = rhs block by block, escalating a
    block's δ_b ×10 on numerical failure of that block only.

    Same retry semantics as the reference's dense path (ref:
    ebw_routines.py:247-257): require positive-definiteness (Cholesky
    check, the numpy analogue of ``assume_a='pos'``), escalate the
    Tikhonov term until the system factorizes and yields finite values.

    Documented deviation: the Tikhonov term is scaled by each block's mean
    Gram diagonal where that is below 1.  The reference's absolute δ
    silently over-damps problems whose Gram entries are far below 1 (e.g.
    thousands of group blocks over small-magnitude columns: entries ~1e-6
    vs δ ~1e-4 turn quadratic Newton into a slow linear crawl); such a
    block gets damping of its own size, and the collinearity defense is
    preserved (a rank-deficient Gram still receives a strictly positive
    relative shift).  A block at or above unit scale keeps the reference's
    absolute δ: the elastic Schur system carries moment totals (its Gram
    grows with N), and a δ grown with it leaves the equality residual of
    a feasible problem 10³–10⁴× above the reference's at convergence.
    The scale is G's own, never the shift's: the elastic term u/lu + v/lv
    grows large on infeasible moments and would over-damp every moment of
    its block.
    """
    out = np.empty_like(rhs)
    for k, ids, t in gram.tiles():
        scale = np.trace(t, axis1=1, axis2=2) / k
        pen = penalty * np.where((scale > 0) & (scale < 1), scale, 1.0)
        if shift is not None:
            diag = np.arange(k)
            t = t.copy()
            t[:, diag, diag] += shift[ids]
        todo = np.arange(len(ids))
        for _ in range(_MAX_ESCALATIONS):
            a = t[todo] + pen[todo, None, None] * np.eye(k)
            x = _gated_solve(a, rhs[ids[todo]])
            ok = np.all(np.isfinite(x), axis=1)
            out[ids[todo[ok]]] = x[ok]
            todo = todo[~ok]
            if not todo.size:
                break
            pen[todo] *= 10.0
        else:
            raise np.linalg.LinAlgError(
                "K×K system unsolvable after escalating regularization"
            )
    return out
