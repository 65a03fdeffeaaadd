"""Kernel interface shared by the local and distributed implementations."""

from __future__ import annotations

import math
from dataclasses import dataclass, field, fields
from typing import Protocol

import numpy as np

from entropy_balance_weighting_spark.solvers.linalg import BlockGram

TAU = 0.995  # fraction-to-boundary (ref: shared.py:76-91 call sites)

BOUNDS_INVALID = "invalid_bounds"


def parse_bounds(bounds) -> tuple[float, float | None]:
    """Ratio bounds ``(lb, ub)`` as every bounded kernel reads them: ``lb``
    clamped to ≥ 0 (the reference clamps it, ebw_routines.py:362,
    ebw_penalty.py:277) and ``ub`` None for no upper bound, which ``+inf``
    also means.  NaN in either bound, or ``ub <= lb`` (``−inf`` included),
    raises the :data:`BOUNDS_INVALID` ValueError."""
    lb = float(bounds[0])
    ub = None if bounds[1] is None else float(bounds[1])
    if math.isnan(lb) or (ub is not None and math.isnan(ub)):
        raise ValueError(f"{BOUNDS_INVALID}: NaN in bounds {tuple(bounds)}")
    lb = max(lb, 0.0)
    if ub == math.inf:
        ub = None
    if ub is not None and ub <= lb:
        raise ValueError(
            f"{BOUNDS_INVALID}: upper bound {ub} is not above the lower "
            f"bound {lb} in {tuple(bounds)}"
        )
    return lb, ub


def ftb_batch(point: np.ndarray, step: np.ndarray) -> float:
    """Fraction-to-boundary over one block: min(−τ·point/step over
    step<0); +inf when unblocked (the reference's masked-min with
    ``initial=np.inf``, ref: shared.py:76-91)."""
    blocked = step < 0
    if not blocked.any():
        return float("inf")
    return float(np.min(-TAU * point[blocked] / step[blocked]))


# -- payload layout ----------------------------------------------------------
# How a stats field reduces over the N rows.  The kind fixes the field's slot
# in a distributed pass's per-partition ``(sums, mins)`` float64 payload and
# how the driver reads it back (:func:`layout`, :func:`unpack`).
SUM = "sum"  # summed scalar
VEC = "vec"  # summed K-vector
GRAM = "gram"  # summed Gram: Σk_b² doubles, K² for the one dense block
MIN = "min"  # minimum; +inf when no batch contributes
MAX = "max"  # maximum, carried in ``mins`` as the minimum of its negation
NAN = "nan"  # summed count of non-finite entries, read back as ``count > 0``
_KINDS = (SUM, VEC, GRAM, MIN, MAX, NAN)


def reduced(kind: str):
    """A stats field that reduces as ``kind``."""
    return field(metadata={"reduce": kind})


def payload(cls):
    """Dataclass whose fields all declare their reduce kind (:func:`reduced`),
    so the class is its own pass payload; a field without one is a
    ``TypeError`` here, at definition."""
    cls = dataclass(cls)
    for f in fields(cls):
        if f.metadata.get("reduce") not in _KINDS:
            raise TypeError(
                f"{cls.__name__}.{f.name} declares no reduce kind "
                f"(one of {', '.join(_KINDS)})"
            )
    return cls


def layout(classes, k: int, gram_size: int):
    """Where the fields of one or more :func:`payload` classes sit, back to
    back, in a pass's ``(sums, mins)`` float64 payload, for K moments and a
    Gram of ``gram_size`` doubles: SUM, VEC, GRAM and NAN fields in
    ``sums``, MIN and MAX fields in ``mins``.  Returns per class its
    ``(name, kind, slice of sums | index into mins)`` slots, and the
    lengths of ``sums`` and ``mins``."""
    slots, n_sums, n_mins = [], 0, 0
    for cls in classes:
        part = []
        for f in fields(cls):
            kind = f.metadata["reduce"]
            if kind in (MIN, MAX):
                part.append((f.name, kind, n_mins))
                n_mins += 1
            else:
                size = k if kind == VEC else gram_size if kind == GRAM else 1
                part.append((f.name, kind, slice(n_sums, n_sums + size)))
                n_sums += size
        slots.append(part)
    return slots, n_sums, n_mins


def unpack(reduced_pair, structure, *classes) -> list:
    """The ``classes`` instances, in pass order, of a reduced ``(sums,
    mins)`` payload whose Gram has the block ``structure``; K-vectors and
    the Gram are views into ``sums``."""
    sums, mins = reduced_pair
    read = {
        SUM: lambda at: float(sums[at][0]),
        VEC: lambda at: sums[at],
        GRAM: lambda at: BlockGram(structure, sums[at]),
        NAN: lambda at: bool(sums[at][0] > 0),
        MIN: lambda at: float(mins[at]),
        MAX: lambda at: float(-mins[at]),
    }
    slots, _, _ = layout(classes, len(structure.block_of), structure.total_flat)
    return [
        cls(**{name: read[kind](at) for name, kind, at in part})
        for cls, part in zip(classes, slots)
    ]


@payload
class IterStats:
    """All N→{scalar,K,K×K} reductions one Newton iteration needs.

    Computed in a single pass over the data (the distributed kernel fuses
    them into one batch pass).  ``xt_w`` and ``xt_wcd`` are UNSCALED (no
    Σw0 factor); the driver applies scaling.
    """

    f_val: float = reduced(SUM)  # Σ w0·(r·log r − r + 1), r = wstar/q
    xt_w: np.ndarray = reduced(VEC)  # X^T wstar
    cd_sq: float = reduced(SUM)  # ‖Cd‖², Cd = log(wstar/q) − Xλ
    xt_wcd: np.ndarray = reduced(VEC)  # X^T (wstar ∘ Cd)
    gram: BlockGram = reduced(GRAM)  # X^T Diag(wstar) X (solvers.linalg)
    min_w: float = reduced(MIN)  # min wstar
    has_nan: bool = reduced(NAN)


@payload
class StepStats:
    """Reductions over the candidate steps (primal dw and dual exp-form)."""

    alpha_raw: float = reduced(MIN)  # min(−wstar/dw over dw<0); +inf unblocked
    xt_dw: np.ndarray = reduced(VEC)  # X^T dw
    dw_sq: float = reduced(SUM)  # ‖dw‖²
    xt_wdual: np.ndarray = reduced(VEC)  # X^T w_dual, w_dual = q·exp(X(λ+Δλ))
    min_wdual: float = reduced(MIN)
    has_nan: bool = reduced(NAN)


@payload
class PenaltyStats:
    """Per-iteration reductions for the unbounded penalty solver.

    Everything the driver needs is λ-free: ``‖Cd‖²`` and the Woodbury legs
    decompose into c-independent pieces (c = P∘Ce is only known after g1
    arrives), so ONE pass suffices per iteration.
    """

    f_val: float = reduced(SUM)  # Σ w0·(r·log r − r + 1)
    g1: np.ndarray = reduced(VEC)  # X^T (w0∘r) = A^T r
    g2v: np.ndarray = reduced(VEC)  # X^T (w0∘r∘log r)
    h: np.ndarray = reduced(VEC)  # X^T (w0²∘log r)
    s_ll: float = reduced(SUM)  # Σ w0²·(log r)²
    gram: BlockGram = reduced(GRAM)  # X^T Diag(w0∘r) X
    has_nan: bool = reduced(NAN)


@payload
class PBStats:
    """Per-iteration reductions for the BOUNDED penalty solver (log-barrier).

    μ-dependent quantities decompose linearly in μ (``u1 = u1a − μ·u1b``)
    because μ may be updated by the driver AFTER seeing these reductions.
    """

    f_val: float = reduced(SUM)
    g1: np.ndarray = reduced(VEC)  # X^T (w0∘r)
    sd0_sq: float = reduced(SUM)  # Σ d0², d0 = w0·log r − λ_lo + λ_hi
    hd: np.ndarray = reduced(VEC)  # X^T (w0∘d0)
    gb: BlockGram = reduced(GRAM)  # X^T Diag(w0²/h̃_b) X, h̃_b = w0/r + λ/s sums
    u1a: np.ndarray = reduced(VEC)  # X^T (w0/h̃_b ∘ w0·log r)
    u1b: np.ndarray = reduced(VEC)  # X^T (w0/h̃_b ∘ (1/s_lo − 1/s_hi))
    s_sum: float = reduced(SUM)  # Σ s·λ over present slack blocks
    s_sq: float = reduced(SUM)  # Σ (s·λ)²
    s_min: float = reduced(MIN)  # min s·λ
    s_cnt: float = reduced(SUM)  # number of slack entries (n or 2n)
    has_nan: bool = reduced(NAN)


@payload
class PBStepStats:
    """Reductions over the bounded-penalty candidate step."""

    p_sq: float = reduced(SUM)  # Σ p_r²
    ftb_slack: float = reduced(MIN)  # min(−τ·s/ds over ds<0); +inf unblocked
    ftb_dual: float = reduced(MIN)  # min(−τ·λ/dλ over dλ<0) across blocks
    has_nan: bool = reduced(NAN)


@payload
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

    f_val: float = reduced(SUM)  # Σ w0·(r·log r − r + 1)
    cd_sq: float = reduced(SUM)  # ‖Cd‖², Cd = (1/η)·w0·log r − w0·Xλ − (λ_lo − λ_hi)
    ci_sq: float = reduced(SUM)  # ‖Ci‖² over present slack blocks
    cs_sq: float = reduced(SUM)  # ‖Cs‖² over present slack blocks (at μ_s)
    alt_sq: float = reduced(SUM)  # Σ(exp(η·(Xλ + (λ_lo−λ_hi)/w0)) − r)²
    g1: np.ndarray = reduced(VEC)  # X^T (w0∘r) = A^T r
    rhs_leg: np.ndarray = reduced(VEC)  # X^T (w0/h̃ ∘ (Cd + zterm)), at μ_s
    rhs_mu_leg: np.ndarray = reduced(VEC)  # X^T (w0/h̃ ∘ (1/s_lo − 1/s_hi))
    gram: BlockGram = reduced(GRAM)  # X^T Diag(w0²/h̃) X
    sl_sum: float = reduced(SUM)  # Σ s·λ_ineq over present slack blocks
    sl_sq: float = reduced(SUM)  # Σ (s·λ_ineq)²
    sl_min: float = reduced(MIN)  # min s·λ_ineq
    sl_cnt: float = reduced(SUM)  # number of slack entries (n or 2n)
    lm_max: float = reduced(MAX)  # max λ_ineq over present blocks
    has_nan: bool = reduced(NAN)


@payload
class EStepStats:
    """Reductions over the elastic N-dimensional step blocks."""

    rstep_sq: float = reduced(SUM)  # Σ r_step²
    xt_rstep: np.ndarray = reduced(VEC)  # X^T r_step (unweighted; Δck test)
    ftb_slack: float = reduced(MIN)  # min(−τ·s/ds over ds<0), slack blocks
    ftb_dual: float = reduced(MIN)  # min(−τ·λ/dλ over dλ<0), λ_ineq blocks
    has_nan: bool = reduced(NAN)


@payload
class Totals:
    """Xᵀ(w0∘r): the elastic init gap and the penalty final moments."""

    g1: np.ndarray = reduced(VEC)


@payload
class InitGram:
    """Xᵀ Diag(w0²) X, the penalty solver's constant Gram."""

    g2: BlockGram = reduced(GRAM)


@payload
class PStepStats:
    """Σp² of the unbounded penalty step about to be committed."""

    p_sq: float = reduced(SUM)
    has_nan: bool = reduced(NAN)


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
