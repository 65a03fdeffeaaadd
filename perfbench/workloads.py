"""Benchmark workloads: input generation, the timed reweighting op, and the
correctness gate that runs after it.

One op is what a user of the package runs to reweight a table:

    input DataFrame → plans.build_problem_tables → plans.targets_from_problem
    → entropy_balance / entropy_balance_penalty → materialized new_weights

Inputs are made here, never read from outside the checkout:

- the survey table is a TPC-H ``lineitem``-shaped table written to parquet
  by numpy before Spark starts (fixed generator state, so every seed sees
  the same rows);
- the synthetic table is generated inside Spark from ``spark.range``, with
  the seed as the hash salt of its columns.

The seed also draws the per-moment target perturbations: every target is
moved up or down by the workload's ``shift`` of itself, so no moment starts
already matched.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field, replace

import numpy as np

# TPC-H lineitem value domains at the sizes the repo's own test data uses
_RETURNFLAGS = np.array(["A", "N", "R"])
_RETURNFLAG_P = [0.25, 0.5, 0.25]
_SURVEY_GEN_SEED = 20250101


@dataclass(frozen=True)
class Workload:
    name: str
    table: str  # "survey" or "synthetic"
    rows: int
    suppliers: int = 0  # survey: distinct l_suppkey values
    grouped: bool = False  # survey: moments per l_suppkey
    bounds: tuple[float, float] | None = None
    penalty: float | None = None
    shift: float = 0.01  # each target moves up or down by this share of itself
    options: dict = field(default_factory=dict)


# README.md says why each workload exists and which layers it stresses.
# Shifts and tolerances (absolute, in weight units) put the tolerance in a
# gap of the residual sequence for every seed, so each seed takes the same
# number of iterations: 4 on survey_bounded_grouped (the 0.3 % shift keeps
# its interior-point solve short enough for the time budget), 4 on
# synthetic_newton (at 0.3 % its seeds split between 3 and 4).
WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="survey_local",
            table="survey",
            rows=150_000,
            suppliers=1000,
        ),
        Workload(
            name="survey_bounded_grouped",
            table="survey",
            rows=100_000,
            suppliers=1000,
            grouped=True,
            bounds=(0.2, 5.0),
            shift=0.003,
            options={"force_distributed": True, "optimality_violation": 1e-3},
        ),
        Workload(
            name="synthetic_newton",
            table="synthetic",
            rows=400_000,
            options={"force_distributed": True, "optimality_violation": 1e-3},
        ),
        Workload(
            name="survey_penalty",
            table="survey",
            rows=100_000,
            suppliers=1000,
            penalty=5.0,
            options={"force_distributed": True},
        ),
    )
}

# sf0.001-sized inputs for --smoke: every code path, seconds per op
SMOKE_ROWS = {"survey": 6_000, "synthetic": 20_000}
SMOKE_SUPPLIERS = 10


def smoke_variant(w: Workload) -> Workload:
    return replace(
        w,
        rows=SMOKE_ROWS[w.table],
        suppliers=min(w.suppliers, SMOKE_SUPPLIERS),
    )


def write_survey_table(path: str, rows: int, suppliers: int) -> None:
    """lineitem-shaped parquet (one file, one row group) with the columns
    the survey specs use; the generator state is fixed, not seeded."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(_SURVEY_GEN_SEED)
    table = pa.table(
        {
            "l_quantity": rng.integers(1, 51, rows).astype(np.float64),
            "l_discount": rng.integers(0, 11, rows) / 100.0,
            "l_tax": rng.integers(0, 9, rows) / 100.0,
            "l_returnflag": _RETURNFLAGS[rng.choice(3, rows, p=_RETURNFLAG_P)],
            "l_suppkey": rng.integers(0, suppliers, rows),
        }
    )
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, row_group_size=rows)


def moment_spec(w: Workload):
    from entropy_balance_weighting_spark.plans import MomentSpec

    if w.table == "synthetic":
        return MomentSpec(
            weight_col="w",
            numeric=tuple(f"c{j}" for j in range(1, 8)),
            intercept=True,
        )
    if w.grouped:
        return MomentSpec(
            weight_col="l_quantity",
            numeric=("l_discount", "l_tax"),
            group=("l_suppkey",),
        )
    return MomentSpec(
        weight_col="l_quantity",
        numeric=("l_discount", "l_tax"),
        onehot=("l_returnflag",),
    )


def input_frame(spark, w: Workload, seed: int, survey_path: str | None):
    """The op's input DataFrame (lazy: building it runs no Spark job)."""
    from pyspark.sql import functions as F

    if w.table == "survey":
        return spark.read.parquet(survey_path)

    def unit(j: int):
        h = F.xxhash64(F.col("id"), F.lit(seed), F.lit(j))
        return (F.pmod(h, F.lit(1 << 30)) / float(1 << 30)).alias(f"c{j}")

    weight = (
        F.pmod(F.xxhash64(F.col("id"), F.lit(seed), F.lit(0)), F.lit(50)) + 1
    ).cast("double").alias("w")
    return spark.range(0, w.rows).select(weight, *[unit(j) for j in range(1, 8)])


def perturbed_targets(pt, seed: int, shift: float):
    """Weighted-mean targets, each moved by ``shift`` of itself in a
    seed-drawn direction — a column expression, so the perturbation costs
    no job.  The size is fixed so that every seed poses a problem of the
    same difficulty (same iteration count); only the directions vary."""
    from entropy_balance_weighting_spark.plans import targets_from_problem
    from pyspark.sql import functions as F

    up = F.pmod(F.xxhash64(F.col("moment_name"), F.lit(seed)), 2) == 0
    factor = F.when(up, 1.0 + shift).otherwise(1.0 - shift)
    return targets_from_problem(pt).withColumn("target", F.col("target") * factor)


class OpFailed(Exception):
    """The op ran but its result fails the correctness gate."""


def run_op(df, w: Workload, seed: int, tracer):
    """One reweighting, input DataFrame → materialized weights.

    Returns ``(pt, targets_df, result)`` for the gate; raises on a solver
    error.  ``tracer`` opens the per-layer spans (a no-op when tracing is
    off)."""
    from entropy_balance_weighting_spark import (
        entropy_balance,
        entropy_balance_penalty,
    )
    from entropy_balance_weighting_spark.plans import build_problem_tables

    spec = moment_spec(w)
    with tracer.span("plans.build"):
        pt = build_problem_tables(df, spec)
    with tracer.span("plans.targets"):
        targets = perturbed_targets(pt, seed, w.shift)
    options = dict(w.options)
    if w.bounds is not None:
        options["bounds"] = w.bounds
    with tracer.span("solvers.api"):
        if w.penalty is not None:
            res = entropy_balance_penalty(
                mean_population_moments=targets,
                x_sample=pt,
                penalty_parameter=w.penalty,
                options=options,
            )
        else:
            res = entropy_balance(
                mean_population_moments=targets, x_sample=pt, options=options
            )
    with tracer.span("kernels.render"):
        res.new_weights.write.format("noop").mode("overwrite").save()
    return pt, targets, res


def check_result(w: Workload, pt, targets, res) -> dict:
    """Correctness gate, run outside the timed region.

    Recomputes the achieved moments of ``new_weights`` with
    ``operators.weighted_moments.weighted_moment_totals``.  Newton and
    elastic pass when the max relative error against ``target·Σw0`` is at
    most 1e-6; penalty passes when every moment's gap shrank against the
    start weights.  Raises :class:`OpFailed` otherwise."""
    from entropy_balance_weighting_spark.operators.weighted_moments import (
        weighted_moment_totals,
    )

    if not res.converged:
        raise OpFailed(f"converged=False: {res.error_message}")
    k = pt.k
    name_to_id = {nm: i for i, nm in enumerate(pt.moment_names)}
    m = np.full(k, np.nan)
    for r in targets.select("moment_name", "target").collect():
        m[name_to_id[r["moment_name"]]] = float(r["target"])
    goal = m * pt.sum_w0

    def totals(weights, col):
        out = np.zeros(k)
        for r in weighted_moment_totals(pt.x_long, weights, weight_col=col).collect():
            out[r["moment_id"]] = float(r["total"])
        return out

    achieved = totals(res.new_weights, "new_weight")
    if not np.all(np.isfinite(achieved)):
        raise OpFailed("non-finite achieved moments")
    gap = np.abs(achieved - goal)
    if w.penalty is None:
        rel = float(np.max(gap / np.maximum(np.abs(goal), 1e-300)))
        if rel > 1e-6:
            raise OpFailed(f"max relative moment error {rel:.3e} > 1e-6")
        return {"max_rel_err": rel}
    start_gap = np.abs(totals(pt.w0, "w0") - goal)
    shrunk = gap < start_gap
    if not np.all(shrunk):
        bad = [pt.moment_names[i] for i in np.where(~shrunk)[0][:5]]
        raise OpFailed(f"penalty gap did not shrink for {bad}")
    return {"max_gap_ratio": float(np.max(gap / start_gap))}
