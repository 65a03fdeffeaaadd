"""Per-group independent solves via ``applyInPandas`` (SURVEY §2.9 G1
alternate, §2.12 'local solve per group' mode).

When every group's problem is INDEPENDENT (its own rows, its own targets —
e.g. each state reweighted to its own population controls), the composite
-moment-key path (A10) solves one big block-diagonal problem; this module
is the other idiomatic rendering: ship each group's rows to one executor
task as an Arrow batch and run the dense Newton solve there.  Thousands of
small solves run in parallel with zero driver round-trips per iteration —
the right physical plan when groups are small and numerous (the big-solver
path wins when single groups are huge).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from entropy_balance_weighting_spark.plans.moment_spec import MomentSpec


def solve_per_group(
    df: DataFrame,
    spec: MomentSpec,
    targets: DataFrame,
    *,
    options: dict | None = None,
) -> DataFrame:
    """Independent entropy-balance solve per group.

    Parameters
    ----------
    df: input rows; ``spec.group`` names the grouping columns and
        ``spec.row_key`` the unique per-row key.
    targets: ``(<group cols...>, moment_name, target)`` — per-group targets
        keyed by the UNgrouped moment name (e.g. ``'bdsp'``, ``'hht=1'``).
    options: forwarded to the local solver (max_steps, tolerances, ...).

    Returns ``(<group cols...>, <row_key cols...>, new_weight, converged,
    n_iterations)``.
    """
    if not spec.group:
        raise ValueError("solve_per_group requires spec.group")
    if not spec.row_key:
        raise ValueError("solve_per_group requires spec.row_key")
    opts = dict(options or {})

    group_cols = list(spec.group)
    key_cols = list(spec.row_key)
    numeric = list(spec.numeric)
    onehot = list(spec.onehot)
    w_col = spec.weight_col
    intercept = spec.intercept

    tgt_cols = group_cols + ["moment_name", "target"]
    tgt = targets.select(*tgt_cols)
    # Row keys keep their NATIVE type: an unconditional cast-to-long turns a
    # string key (e.g. PUMS SERIALNO) into NULL for every row, silently
    # collapsing row identity in the returned weights.
    key_types = {c: df.schema[c].dataType.simpleString() for c in key_cols}
    joined_schema = ", ".join(
        [f"`{c}` string" for c in group_cols]
        + [f"`{c}` {key_types[c]}" for c in key_cols]
        + ["new_weight double", "converged boolean", "n_iterations int"]
    )

    prepared = df.select(
        *[F.col(c).cast("string").alias(c) for c in group_cols],
        *key_cols,
        F.col(w_col).cast("double").alias("__w"),
        *[F.col(c).cast("double").alias(c) for c in numeric],
        *[F.col(c).cast("string").alias(c) for c in onehot],
    )
    if spec.dropna:
        prepared = prepared.na.drop()
    if spec.drop_nonpositive_weights:
        prepared = prepared.filter(F.col("__w") > 0)

    # tag targets so one cogrouped pass sees both sides per group
    def solve_group(keys, rows, tg):
        import numpy as np
        import pandas as pd

        if not len(rows) or not len(tg):
            return pd.DataFrame(
                columns=group_cols + key_cols
                + ["new_weight", "converged", "n_iterations"]
            )
        # dense design matrix: numeric + intercept + one-hot
        names: list[str] = list(numeric)
        cols = [rows[c].to_numpy(np.float64) for c in numeric]
        if intercept:
            names.append("_count")
            cols.append(np.ones(len(rows)))
        for c in onehot:
            for val in sorted(rows[c].unique()):
                names.append(f"{c}={val}")
                cols.append((rows[c] == val).to_numpy(np.float64))
        x = np.column_stack(cols)
        w0 = rows["__w"].to_numpy(np.float64)
        tmap = dict(zip(tg["moment_name"], tg["target"]))
        missing = [nm for nm in names if nm not in tmap]
        if missing:
            raise ValueError(f"group {keys}: targets missing for {missing}")
        m = np.array([float(tmap[nm]) for nm in names])

        bounds = opts.get("bounds")
        if bounds is not None:
            # the reference's production regime per group: bounded elastic
            # interior point, one dense solve per executor-side batch
            from entropy_balance_weighting_spark.kernels.elastic_local import (
                ElasticLocalKernel,
            )
            from entropy_balance_weighting_spark.solvers.elastic import (
                solve_elastic,
            )

            ekern = ElasticLocalKernel(x, w0, bounds=tuple(bounds))
            res = solve_elastic(ekern, m, opts, original_weights=w0.copy())
        else:
            from entropy_balance_weighting_spark.kernels.local import (
                LocalKernel,
            )
            from entropy_balance_weighting_spark.solvers.newton import (
                solve_unbounded,
            )

            kern = LocalKernel(x, w0)
            res = solve_unbounded(kern, m, opts, original_weights=w0.copy())
        out = pd.DataFrame({c: rows[c] for c in group_cols + key_cols})
        out["new_weight"] = np.asarray(res.new_weights, dtype=np.float64)
        out["converged"] = bool(res.converged)
        out["n_iterations"] = int(res.n_iterations)
        return out

    return (
        prepared.groupBy(*group_cols)
        .cogroup(tgt.groupBy(*group_cols))
        .applyInPandas(solve_group, joined_schema)
    )
