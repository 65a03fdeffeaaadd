"""Public solver API — mirrors the reference's surface (ref:
ebw_routines.py:18-24, ebw_penalty.py:17-23) for both local numpy inputs and
distributed DataFrame inputs.

Input forms accepted for ``x_sample``:

- ``numpy.ndarray`` (N×K dense) — local kernel, exact reference-shaped path.
- scipy-like CSR/CSC sparse matrix (duck-typed on ``data/indices/indptr/
  shape`` — real ``scipy.sparse`` works when scipy is present, but scipy is
  never imported): densified to the local kernel below ``local_threshold``
  nnz, converted to a long-COO :class:`plans.ProblemTables` for the
  distributed kernels above it.
- :class:`plans.ProblemTables` — canonical long encoding; runs distributed,
  or collects to the local kernel below ``local_threshold`` nnz (SURVEY §7.2
  'local fast path'), unless ``options['force_distributed']``.

``mean_population_moments`` is a K-vector (id-ordered) or, with
ProblemTables input, a targets DataFrame ``(moment_name|moment_id, target)``.
``weights0`` is an N-vector (local) or implied by ``ProblemTables.w0``.
"""

from __future__ import annotations

from typing import Any

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from entropy_balance_weighting_spark.plans.moment_spec import ProblemTables
from entropy_balance_weighting_spark.results import EntropyBalanceResults

_KNOWN_OPTIONS = {
    "max_steps",
    "bounds",
    "initial_ratio_guess",
    "optimality_violation",
    "step_tol",
    "save_problem_data",
    "save_failure_data",
    "eta",
    "force_distributed",
    "local_threshold",
    "validate",
    # accepted for drop-in compatibility with reference scripts (the
    # reference reads options via .get and silently ignores these; its own
    # examples pass them — ref: examples/simple_examples.py:24,30).  They
    # select kernel internals that have no analogue here and are no-ops.
    "dual_only",
    "force_dense",
}


def _validate_options(options: dict | None) -> dict:
    """Unlike the reference (which silently ignores unknown keys), reject
    typos loudly — but accept the reference's documented/vestigial names."""
    opts = dict(options or {})
    unknown = set(opts) - _KNOWN_OPTIONS
    if unknown:
        raise ValueError(f"Unknown options: {sorted(unknown)}")
    return opts


def _validate_local_inputs(x: np.ndarray, w0: np.ndarray, m: np.ndarray) -> None:
    """V1 guard — same predicate set as the reference (ref: shared.py:105-133)."""
    bad = (
        np.any(~np.isfinite(x))
        or np.any(~np.isfinite(w0))
        or np.any(~np.isfinite(m))
        or np.any(w0 <= 0)
    )
    if bad:
        raise ValueError(
            "Inputs include invalid values (NaNs, Infs, or non-positive weights)"
        )


def _moments_vector(pt: ProblemTables, m: Any) -> np.ndarray:
    """Targets as an id-ordered K-vector; accepts ndarray or DataFrame."""
    if isinstance(m, np.ndarray):
        if len(m) != pt.k:
            raise ValueError(f"moments length {len(m)} != K {pt.k}")
        return np.asarray(m, dtype=np.float64)
    key = "moment_id" if "moment_id" in m.columns else "moment_name"
    # K rows, usually a local relation: ``collect`` reads one with no Spark
    # job, where ``toArrow`` runs one per solve.  Names are keyed against
    # the driver-held dictionary in one Arrow ``index_in``; names the
    # dictionary lacks are dropped, and missing ids raise below.
    keys, vals = list(zip(*m.select(key, "target").collect())) or [(), ()]
    if key == "moment_id":
        ids = pa.array(keys, pa.int64())
    else:
        ids = pc.index_in(
            pa.array(keys, pa.string()),
            value_set=pa.array(pt.moment_names, pa.string()),
        )
    known = pc.is_valid(ids)
    ids = pc.filter(ids, known).to_numpy().astype(np.int64)
    vals = np.asarray(vals, dtype=np.float64)[known.to_numpy(zero_copy_only=False)]
    # a moment named more than once keeps its last row's target
    _, last = np.unique(ids[::-1], return_index=True)
    keep = len(ids) - 1 - last
    out = np.full(pt.k, np.nan)
    out[ids[keep]] = vals[keep]
    if np.any(np.isnan(out)):
        missing = [pt.moment_names[i] for i in np.where(np.isnan(out))[0][:5]]
        raise ValueError(f"targets missing for moments: {missing}")
    return out


def entropy_balance(
    *,
    mean_population_moments: Any,
    x_sample: Any,
    weights0: Any = None,
    options: dict | None = None,
) -> EntropyBalanceResults:
    """Primary entry point: entropy-balance reweighting (unbounded or bounded).

    With ``options['bounds']`` set, dispatches to the elastic interior-point
    solver (ref: ebw_routines.py:166-172 dispatch semantics).
    """
    opts = _validate_options(options)

    if opts.get("bounds") is not None:
        from entropy_balance_weighting_spark.solvers.elastic import (
            entropy_balance_elastic,
        )

        return entropy_balance_elastic(
            mean_population_moments=mean_population_moments,
            x_sample=x_sample,
            weights0=weights0,
            options=opts,
        )

    from entropy_balance_weighting_spark.kernels.local import LocalKernel
    from entropy_balance_weighting_spark.kernels.spark import SparkKernel
    from entropy_balance_weighting_spark.solvers.newton import solve_unbounded

    kernel, m, original = _build_kernel(
        x_sample, weights0, mean_population_moments, opts, LocalKernel,
        SparkKernel,
    )

    res = solve_unbounded(kernel, m, opts, original_weights=original)
    _maybe_dump(opts, x_sample, weights0, m, res)
    return res


def entropy_balance_penalty(
    mean_population_moments: Any,
    x_sample: Any,
    weights0: Any = None,
    penalty_parameter: Any = 1.0,
    options: dict | None = None,
) -> EntropyBalanceResults:
    """Quadratic-penalty variant (ref: ebw_penalty.py:17-23); dispatches to
    the bounded variant when ``options['bounds']`` is set (ref:
    ebw_penalty.py:155-162)."""
    from entropy_balance_weighting_spark.kernels.penalty_local import (
        PenaltyLocalKernel,
    )
    from entropy_balance_weighting_spark.kernels.penalty_spark import (
        PenaltySparkKernel,
    )
    from entropy_balance_weighting_spark.solvers.penalty import (
        solve_penalty,
        solve_penalty_bounded,
    )

    opts = _validate_options(options)
    bounds = opts.get("bounds")
    kernel, m, original = _build_kernel(
        x_sample, weights0, mean_population_moments, opts, PenaltyLocalKernel,
        PenaltySparkKernel, bounds=bounds,
    )
    solve = solve_penalty_bounded if bounds else solve_penalty
    res = solve(kernel, m, penalty_parameter, opts, original_weights=original)
    _maybe_dump(opts, x_sample, weights0, m, res)
    return res


def _sparse_like(x):
    """Duck-typed ``scipy.sparse`` CSR/CSC detection — NO scipy import
    (the reference accepts scipy sparse for ``x_sample``, ref:
    ebw_routines.py:18-24, typing.py:12-14; scipy is absent from this
    environment, so the contract is matched structurally: anything
    carrying ``data/indices/indptr/shape`` in compressed-sparse layout is
    accepted, which includes real scipy matrices when present).  Returns
    ``(data, indices, indptr, (n, k), fmt)`` or None."""
    if not all(hasattr(x, a) for a in ("data", "indices", "indptr", "shape")):
        return None
    fmt = getattr(x, "format", "csr")
    if fmt not in ("csr", "csc"):
        if hasattr(x, "tocsr"):
            x = x.tocsr()
            fmt = "csr"
        else:
            return None
    return (
        np.asarray(x.data, dtype=np.float64),
        np.asarray(x.indices, dtype=np.int64),
        np.asarray(x.indptr, dtype=np.int64),
        (int(x.shape[0]), int(x.shape[1])),
        fmt,
    )


def _csx_coo(data, indices, indptr, shape, fmt):
    """(row, col, value) COO arrays from compressed-sparse storage."""
    n, k = shape
    if fmt == "csr":
        rows = np.repeat(np.arange(n, dtype=np.int64), np.diff(indptr))
        cols = indices
    else:
        cols = np.repeat(np.arange(k, dtype=np.int64), np.diff(indptr))
        rows = indices
    return rows, cols, data


def _sparse_to_problem_tables(sp, weights0):
    """Long-COO ProblemTables from a driver-resident sparse matrix — the
    handoff from 'fits on the driver as index arrays' to the distributed
    kernels (Arrow-batched createDataFrame, one partition per ~1M nnz)."""
    from pyspark.sql import SparkSession

    data, indices, indptr, shape, fmt = sp
    n, k = shape
    spark = SparkSession.getActiveSession()
    if spark is None:
        raise RuntimeError(
            "sparse x_sample above local_threshold needs an active SparkSession"
        )
    rows, cols, vals = _csx_coo(data, indices, indptr, shape, fmt)
    import pandas as pd

    x_long = spark.createDataFrame(
        pd.DataFrame(
            {"row_id": rows, "moment_id": cols.astype(np.int32), "value": vals}
        )
    )
    w0 = np.asarray(weights0, dtype=np.float64)
    w0_df = spark.createDataFrame(
        pd.DataFrame({"row_id": np.arange(n, dtype=np.int64), "w0": w0})
    )
    names = [f"m{j}" for j in range(k)]
    moments = spark.createDataFrame(
        pd.DataFrame({"moment_id": np.arange(k, dtype=np.int32), "moment_name": names})
    )
    return ProblemTables(
        x_long=x_long,
        w0=w0_df,
        moments=moments,
        moment_names=names,
        n=n,
        sum_w0=float(w0.sum()),
    )


def _resolve_problem(x_sample, weights0, mean_population_moments, opts):
    """Dispatch on input form → ('local'|'spark', payload).

    'local' payload: (x, w0, m, original, wrap) where ``wrap`` re-exposes an
    ndarray-weights kernel as a DataFrame-weights kernel when the input came
    from ProblemTables (API symmetry), else identity.
    'spark' payload: (pt, m, original).
    """
    validate = opts.get("validate", True)

    if isinstance(x_sample, np.ndarray):
        x = np.asarray(x_sample, dtype=np.float64)
        w0 = np.asarray(weights0, dtype=np.float64)
        m = np.asarray(mean_population_moments, dtype=np.float64)
        if validate:
            _validate_local_inputs(x, w0, m)
        return "local", (x, w0, m, w0.copy(), lambda kernel: kernel)

    sp = _sparse_like(x_sample)
    if sp is not None:
        data, indices, indptr, shape, fmt = sp
        n, k = shape
        nnz = len(data)
        threshold = int(opts.get("local_threshold", 2_000_000))
        if (
            not opts.get("force_distributed")
            and nnz <= threshold
            and n * k <= 8 * threshold
        ):
            # small sparse: densify on the driver, exact reference-shaped path
            rows, cols, vals = _csx_coo(data, indices, indptr, shape, fmt)
            x = np.zeros((n, k))
            # Sum duplicate (row, col) entries — scipy semantics for
            # non-canonical CSR/CSC, and what the long-COO distributed
            # path's groupBy-sum does.  Plain fancy-index assignment is
            # last-write-wins, so the two paths would disagree.
            np.add.at(x, (rows, cols), vals)
            w0 = np.asarray(weights0, dtype=np.float64)
            m = np.asarray(mean_population_moments, dtype=np.float64)
            if validate:
                _validate_local_inputs(x, w0, m)
            return "local", (x, w0, m, w0.copy(), lambda kernel: kernel)
        # large sparse: long-COO ProblemTables, distributed kernels
        pt = _sparse_to_problem_tables(sp, weights0)
        return _resolve_problem(pt, None, mean_population_moments, opts)

    if isinstance(x_sample, ProblemTables):
        pt = x_sample
        if pt.k == 0:
            raise ValueError("Problem has no moments (K=0)")
        m = _moments_vector(pt, mean_population_moments)

        n = pt.n if pt.n is not None else pt.w0.count()
        # nnz is known exactly when the data layer built the tables (fixed
        # entries per row) — no extra counting pass (VERDICT r1 perf note).
        nnz = n * pt.nnz_per_row if pt.nnz_per_row else pt.x_long.count()
        threshold = int(opts.get("local_threshold", 2_000_000))
        # Gate on the DENSE footprint too: _collect_local densifies to n×k,
        # so a sparse problem under the nnz threshold with huge n·k must
        # still run distributed (8·n·k bytes ≲ 8× the nnz budget).
        dense_cells = n * pt.k
        original = pt.w0.select("row_id", pt.w0["w0"].alias("new_weight"))
        if (
            not opts.get("force_distributed")
            and nnz <= threshold
            and dense_cells <= 8 * threshold
        ):
            x, w0, row_ids, spark = _collect_dense(pt)
            if validate:
                # the problem is on the driver anyway — validate the
                # collected arrays (free numpy) instead of running a
                # separate full Spark scan (r13 optimization; NaN/Inf
                # long values land in the dense cells, so the predicate
                # set is unchanged)
                _validate_local_inputs(x, w0, m)
            wrap = lambda kernel: _LocalKernelAsDataFrame(kernel, row_ids, spark)  # noqa: E731
            return "local", (x, w0, m, original, wrap)
        # V1 validation for the distributed kernels is DEFERRED into the
        # kernel's first pass (r13 optimization, guide §1.2): the pass that
        # materializes the blob cache counts bad X rows / bad weights in
        # its payload and raises the V1 ValueError — one fewer full scan
        # per solve than a separate validation aggregate.
        return "spark", (pt, m, original, validate)

    raise TypeError(
        "x_sample must be numpy.ndarray, a scipy-like CSR/CSC sparse matrix, "
        f"or ProblemTables, got {type(x_sample)}"
    )


def _build_kernel(
    x_sample, weights0, mean_population_moments, opts, local_cls, spark_cls,
    **kernel_kw,
):
    """Kernel factory → (kernel, m-vector, original).  The problem runs on
    ``local_cls`` (driver numpy) or ``spark_cls`` (distributed, built by
    ``from_problem`` with the V1 check deferred into its first pass);
    ``kernel_kw`` (the bounds, for elastic and penalty) goes to either."""
    mode, payload = _resolve_problem(
        x_sample, weights0, mean_population_moments, opts
    )
    guess = opts.get("initial_ratio_guess")
    if mode == "local":
        x, w0, m, original, wrap = payload
        kernel = local_cls(
            x,
            w0,
            ratio_guess=None if guess is None else np.asarray(guess, float),
            **kernel_kw,
        )
        return wrap(kernel), m, original

    pt, m, original, validate = payload
    kernel = spark_cls.from_problem(
        pt.x_long,
        pt.w0,
        pt.k,
        ratio_guess=guess,
        moment_groups=pt.moment_groups,
        known_sums=(
            (pt.sum_w0, pt.n) if pt.sum_w0 is not None and pt.n is not None else None
        ),
        prepacked=pt.packed_arrays,
        **kernel_kw,
    )
    if validate:
        kernel.defer_validation()
    return kernel, m, original


class _LocalKernelAsDataFrame:
    """LocalKernel wrapper that reports weights as a (row_id, new_weight)
    DataFrame, so ProblemTables input yields a DataFrame result regardless of
    which kernel ran (API symmetry with SparkKernel)."""

    def __init__(self, inner, row_ids, spark):
        self._inner = inner
        self._row_ids = row_ids
        self._spark = spark

    def __getattr__(self, name):
        return getattr(self._inner, name)

    def new_weights(self):
        import pandas as pd

        w = self._inner.new_weights()
        pdf = pd.DataFrame(
            {"row_id": np.asarray(self._row_ids, dtype=np.int64), "new_weight": w}
        )
        return self._spark.createDataFrame(pdf)


def _collect_dense(pt: ProblemTables):
    """Local fast path: collect the long tables into a dense numpy problem
    (SURVEY §7.2 — exactness for small fixtures, no per-iteration jobs).
    Arrow-batched ``toPandas`` + vectorized scatter — no per-row Python.
    The two collects run as concurrent jobs (guide §2.6): they share the
    materialized prep rows, so overlapping them makes the wall the max of
    the two instead of the sum."""
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        fut_w = pool.submit(pt.w0.toPandas)
        fut_x = pool.submit(pt.x_long.toPandas)
        wpd = fut_w.result()
        xpd = fut_x.result()
    row_ids = wpd["row_id"].to_numpy(np.int64)
    w0 = wpd["w0"].to_numpy(np.float64)
    n = len(row_ids)
    # row_id -> dense position, fully vectorized (a Python dict + .map is
    # a per-long-row interpreter loop — N·nnz lookups)
    order = np.argsort(row_ids, kind="stable")
    ridx = order[
        np.searchsorted(row_ids[order], xpd["row_id"].to_numpy(np.int64))
    ]
    x = np.zeros((n, pt.k))
    x[ridx, xpd["moment_id"].to_numpy(np.int64)] = xpd["value"].to_numpy(np.float64)
    return x, w0, row_ids, pt.w0.sparkSession


def _maybe_dump(opts, x_sample, weights0, m, res) -> None:
    """S2 problem-bundle sinks: ``save_problem_data`` always writes,
    ``save_failure_data`` writes only on failure (ref: ebw_routines.py:312-319).
    ``m`` is the resolved id-ordered target vector."""
    from entropy_balance_weighting_spark.sources import bundle

    names = (
        x_sample.moment_names
        if isinstance(x_sample, ProblemTables)
        else None
    )
    if path := opts.get("save_problem_data"):
        bundle.dump_problem(path, x_sample, weights0, m, moment_names=names)
    if (path := opts.get("save_failure_data")) and not res.converged:
        bundle.dump_problem(path, x_sample, weights0, m, moment_names=names)
