"""Kernel-throughput benchmark at parameterized N — the scale evidence.

``bench.py`` measures sf-scale end-to-end wall time; this script measures
every distributed solver kernel's per-iteration scan throughput on a
synthetic problem whose size is an environment parameter, so the scale
claim behind the design (map-only iterations, K/K²-sized partials, zero
per-iteration shuffle) is reproducible at any N the machine can hold —
not an ad-hoc number in a doc.

The synthetic problem is generated entirely inside Spark (``spark.range``
+ hash-derived columns): no driver-side data, no parquet dependency, so
N is bounded only by executor memory.  Moment 0 is an intercept; the rest
are hash-uniform values in [0, 1).  Targets are the start-point moments
perturbed by 1% — feasible by construction, converges in a few
iterations for all three solvers.

Environment:
- ``SPARK_GRAFT_SCALE_N``        rows (default 2_000_000)
- ``SPARK_GRAFT_SCALE_K``        moments (default 8)
- ``SPARK_GRAFT_SCALE_SOLVERS``  comma list of newton,elastic,penalty,
                                 grouped,pipeline (default: newton,
                                 elastic,penalty,pipeline)
- ``SPARK_GRAFT_SCALE_GROUPS``   groups for the grouped solve (default 1000)
- ``SPARK_GRAFT_CPUS``           local parallelism (session default)

Prints ONE JSON line:
``{"metric": "kernel_scan_throughput", "n": ..., "k": ...,
   "queries": {"pack": s, "stats_pass": s, "step_pass": s, "solve": s,
               "solve_iterations": i, "elastic_stats_pass": s, ...},
   "throughput_rows_per_sec": {"newton": r, "elastic": r, "penalty": r},
   "pass_rows_per_sec": {"stats_pass": r, "step_pass": r, ...},
   "loadavg_start": [...], "loadavg_end": [...], "steal_pct": p}``
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

import numpy as np

sys.path.insert(0, str(Path(__file__).resolve().parent))


def _timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def _min3(fn) -> float:
    fn()  # warm codegen / worker pool outside the timed region
    return min(_timed(fn) for _ in range(3))


def _cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies over all CPUs, from /proc/stat."""
    try:
        with open("/proc/stat") as f:
            fields = [int(x) for x in f.readline().split()[1:9]]
    except OSError:
        return 0, 0
    return fields[7], sum(fields)


_LOAD0 = os.getloadavg()
_JIFFIES0 = _cpu_jiffies()


def main() -> None:
    n = int(os.environ.get("SPARK_GRAFT_SCALE_N", 2_000_000))
    k = int(os.environ.get("SPARK_GRAFT_SCALE_K", 8))
    solvers = [
        s.strip()
        for s in os.environ.get(
            "SPARK_GRAFT_SCALE_SOLVERS", "newton,elastic,penalty,pipeline"
        ).split(",")
        if s.strip()
    ]

    from pyspark.sql import functions as F

    from entropy_balance_weighting_spark.session import get_spark

    spark = get_spark(app_name="ebw_bench_scale")
    cpus = spark.sparkContext.defaultParallelism
    # ~250k rows per partition: big enough to amortize per-task overhead,
    # small enough that a partition's dense scratch stays cache-friendly
    n_parts = max(cpus, n // 250_000)

    base = spark.range(0, n, 1, n_parts).select(
        F.col("id").alias("row_id"),
        (0.5 + F.pmod(F.hash("id"), F.lit(1000)) / 1000.0).alias("w0"),
        F.array(*[F.lit(j) for j in range(k)]).alias("idx"),
        F.array(
            F.lit(1.0),
            *[
                F.pmod(F.hash("id", F.lit(j)), F.lit(1000)) / 1000.0
                for j in range(1, k)
            ],
        ).alias("val"),
    )

    # Warm the Python worker pool + Arrow imports before any timed stage:
    # the FIRST Python job of a session pays worker spawn + module import
    # across all cores, and on this box that warmup has measured 10× on
    # top of the first timed pack (143 s vs 14 s for the identical encode
    # later in the same session).  Same discipline as _min3's warm call.
    def _noop(batches):
        import numpy  # noqa: F401  (warm the heavy imports in each worker)
        import pyarrow  # noqa: F401

        for rb in batches:
            yield rb

    spark.range(0, cpus * 4, 1, cpus).mapInArrow(_noop, "id long").count()

    # Warm the PACK path itself (hash-projection codegen + Arrow list
    # writers + blob encode + persist): measured this session, the first
    # pack of a session pays a ~10-14 s one-time premium at N=20M that the
    # _noop warmup does not reach (penalty-first pack 18.3 s vs 8.1 s for
    # the identical pack run second).  A tiny end-to-end pack compiles all
    # of it outside the timed region.
    if any(s in solvers for s in ("newton", "elastic", "penalty", "grouped")):
        from entropy_balance_weighting_spark.kernels.spark import SparkKernel

        warm_base = spark.range(0, 200_000, 1, cpus).select(
            F.col("id").alias("row_id"),
            (0.5 + F.pmod(F.hash("id"), F.lit(1000)) / 1000.0).alias("w0"),
            F.array(*[F.lit(j) for j in range(k)]).alias("idx"),
            F.array(
                F.lit(1.0),
                *[
                    F.pmod(F.hash("id", F.lit(j)), F.lit(1000)) / 1000.0
                    for j in range(1, k)
                ],
            ).alias("val"),
        )
        warm_kern = SparkKernel.from_problem(None, None, k, prepacked=warm_base)
        warm_kern.materialize()
        warm_kern.stats(__import__("numpy").zeros(k))
        warm_kern.cleanup()

    timings: dict[str, float] = {}
    throughput: dict[str, float] = {}

    if "dense" in solvers:
        _bench_dense_collinear(spark, timings, throughput)
    if "newton" in solvers:
        _bench_newton(base, k, n, timings, throughput)
    if "elastic" in solvers:
        _bench_elastic(base, k, n, timings, throughput)
    if "penalty" in solvers:
        _bench_penalty(base, k, n, timings, throughput)
    if "grouped" in solvers:
        _bench_grouped(spark, n, n_parts, timings, throughput)
    if "pipeline" in solvers:
        _bench_pipeline(spark, n, n_parts, timings, throughput)

    steal, total = (b - a for a, b in zip(_JIFFIES0, _cpu_jiffies()))
    print(
        json.dumps(
            {
                "metric": "kernel_scan_throughput",
                "value": max(throughput.values()),
                "unit": "rows/sec",
                "n": n,
                "k": k,
                "partitions": n_parts,
                "queries": timings,
                "throughput_rows_per_sec": throughput,
                # every timed pass as rows/s (n over its best-of-3 wall)
                "pass_rows_per_sec": {
                    name: round(n / t, 1)
                    for name, t in timings.items()
                    if name.endswith("_pass") and t > 0
                },
                # contamination evidence: loadavg at start and end — this
                # script has no sleep-retry gate like bench.py, so the
                # reader (or the next session) judges cold-vs-steady and
                # load pollution from the recorded numbers (PLANS.md §13:
                # never compare a first-in-session run against a steady
                # one; 1-min loadavg decays slowly after 32-core bursts)
                "loadavg_start": [round(x, 2) for x in _LOAD0],
                "loadavg_end": [round(x, 2) for x in os.getloadavg()],
                # hypervisor steal over the whole run, % of all CPU time
                "steal_pct": round(100.0 * steal / total, 2) if total else None,
            }
        )
    )
    spark.stop()


def _bench_dense_collinear(spark, timings, throughput) -> None:
    """The reference's largest in-repo workload, reproduced distributed:
    a DENSE N=100k × K=2000 design matrix, collinear BY CONSTRUCTION,
    unbounded solve (`/root/reference/examples/simple_examples.py:13-31`
    — there a duplicated-column numpy matrix on one process).  Here the
    last 100 columns are exact copies of the first 100 non-intercept
    columns, so the K×K Gram is singular every iteration and the solve
    exercises the escalating-Tikhonov path (L2/L3) at full K — no block
    structure, the dense-Gram BLAS tiles carry K²=4M-float partials per
    task.  Opt-in (SPARK_GRAFT_SCALE_SOLVERS=dense): one solve is ~10²×
    the default bench entries.

    Feasibility under perturbation: duplicated columns produce duplicated
    moments, and scaling ALL start moments by one factor keeps the target
    inside the Gram's range space, so the singular system stays
    consistent."""
    from pyspark.sql import functions as F

    from entropy_balance_weighting_spark.kernels.spark import SparkKernel
    from entropy_balance_weighting_spark.solvers.newton import solve_unbounded

    n = int(os.environ.get("SPARK_GRAFT_SCALE_DENSE_N", 100_000))
    k = int(os.environ.get("SPARK_GRAFT_SCALE_DENSE_K", 2_000))
    n_dup = min(100, max(k // 20, 1))
    cpus = spark.sparkContext.defaultParallelism
    # dense rows are K floats each — size partitions so a task's densify
    # chunk plus its K² Gram scratch stays comfortably in memory
    n_parts = max(cpus, (n * k) // 4_000_000)

    u = lambda row, j: F.pmod(F.hash(row, j), F.lit(1000)) / 1000.0  # noqa: E731
    base = spark.range(0, n, 1, n_parts).select(
        F.col("id").alias("row_id"),
        (0.5 + F.pmod(F.hash("id"), F.lit(1000)) / 1000.0).alias("w0"),
        F.sequence(F.lit(0), F.lit(k - 1)).alias("idx"),
        F.transform(
            F.sequence(F.lit(0), F.lit(k - 1)),
            lambda j: F.when(j == 0, F.lit(1.0)).otherwise(
                u(
                    F.col("id"),
                    # replay of the duplicated-column construction: the
                    # last n_dup columns repeat earlier columns exactly
                    F.when(
                        j >= k - n_dup, (j - 1) % (k - 1 - n_dup) + 1
                    ).otherwise(j),
                )
            ),
        ).alias("val"),
    )

    t0 = time.perf_counter()
    kern = SparkKernel.from_problem(None, None, k, prepacked=base)
    timings["dense_pack"] = round(time.perf_counter() - t0, 4)

    lam = np.zeros(k)
    t0 = time.perf_counter()
    stats0 = kern.stats(lam)
    timings["dense_stats_pass"] = round(time.perf_counter() - t0, 4)

    m = stats0.xt_w * 1.01
    t0 = time.perf_counter()
    res = solve_unbounded(
        kern, m, {"max_steps": 30}, original_weights=kern.new_weights()
    )
    timings["dense_solve"] = round(time.perf_counter() - t0, 4)
    if not res.converged:
        raise RuntimeError("dense collinear scale solve did not converge")
    kern.cleanup()

    timings["dense_solve_iterations"] = float(res.n_iterations)
    timings["dense_n"] = float(n)
    timings["dense_k"] = float(k)
    throughput["dense_collinear"] = round(n / timings["dense_stats_pass"], 1)


def _bench_pipeline(spark, n, n_parts, timings, throughput) -> None:
    """Sampling throughput at N: synthetic documents are generated inside
    Spark (hash-derived words — no parquet, no driver data), then the
    fixed-k-per-stratum sampler is timed as rows/sec.  The timed scan ends
    in a 1-row aggregate — the collect cost is constant, the scan
    dominates."""
    from pyspark.sql import functions as F

    from entropy_balance_weighting_spark.functions.sampling import (
        sample_fixed_per_stratum,
    )

    # documents-shaped: ~40 hash-derived words/doc from a 64-word vocab
    words = F.transform(
        F.sequence(F.lit(1), F.lit(40)),
        lambda j: F.concat(F.lit("w"), F.pmod(F.hash("id", j), F.lit(64))),
    )
    docs = spark.range(0, n, 1, n_parts).select(
        F.col("id").alias("doc_id"), F.concat_ws(" ", words).alias("text")
    )

    def t_fixed_k():
        strat = docs.withColumn(
            "src", F.pmod(F.hash("doc_id", F.lit(5)), F.lit(256))
        )
        sample_fixed_per_stratum(strat, "doc_id", "src", 100).agg(
            F.count(F.lit(1))
        ).collect()

    t = _min3(t_fixed_k)
    timings["pipe_fixed_k_sample"] = round(t, 4)
    throughput["fixed_k_sample"] = round(n / t, 1)


def _bench_newton(base, k, n, timings, throughput) -> None:
    from entropy_balance_weighting_spark.kernels.spark import SparkKernel
    from entropy_balance_weighting_spark.solvers.newton import solve_unbounded

    # The FIRST multi-GB pack of a JVM session pays a large one-time
    # premium (heap growth + GC ramp: measured 29.6 s vs 8.2 s for the
    # IDENTICAL pack re-run in-session at N=20M, r8) that no cheap warmup
    # reaches.  Report both: pack_cold = first-in-session (what a one-shot
    # job pays), pack = steady-state (what the plan costs).
    t0 = time.perf_counter()
    kern = SparkKernel.from_problem(None, None, k, prepacked=base)
    # r8: the persist is lazy (the first stats reduce would materialize
    # encode+cache+reductions in one job); force it here so "pack" keeps
    # meaning "build the cache" and the stats timings stay steady-state
    kern.materialize()
    timings["pack_cold"] = round(time.perf_counter() - t0, 4)
    kern.cleanup()
    t0 = time.perf_counter()
    kern = SparkKernel.from_problem(None, None, k, prepacked=base)
    kern.materialize()
    timings["pack"] = round(time.perf_counter() - t0, 4)

    lam = np.zeros(k)
    dlam = np.full(k, 1e-3)
    t_stats = _min3(lambda: kern.stats(lam))
    t_step = _min3(lambda: kern.step_stats(lam, dlam))
    stats0 = kern.stats(lam)

    m = stats0.xt_w * 1.01
    t0 = time.perf_counter()
    res = solve_unbounded(
        kern, m, {"max_steps": 20}, original_weights=kern.new_weights()
    )
    timings["solve"] = round(time.perf_counter() - t0, 4)
    if not res.converged:
        raise RuntimeError("newton scale solve did not converge")
    kern.cleanup()

    timings["stats_pass"] = round(t_stats, 4)
    timings["step_pass"] = round(t_step, 4)
    timings["solve_iterations"] = float(res.n_iterations)
    throughput["newton"] = round(n / min(t_stats, t_step), 1)


def _bench_elastic(base, k, n, timings, throughput) -> None:
    from entropy_balance_weighting_spark.kernels.elastic_spark import (
        ElasticSparkKernel,
    )
    from entropy_balance_weighting_spark.solvers.elastic import solve_elastic

    t0 = time.perf_counter()
    kern = ElasticSparkKernel.from_problem(
        None, None, k, bounds=(0.2, 5.0), prepacked=base
    )
    timings["elastic_pack"] = round(time.perf_counter() - t0, 4)

    lam = np.zeros(k)
    dlam = np.full(k, 1e-3)
    eta, mu_s = 10.0, 0.05
    t_stats = _min3(lambda: kern.elastic_stats(lam, eta, mu_s))
    t_step = _min3(lambda: kern.elastic_step(lam, dlam, eta, mu_s))

    m = kern.elastic_g1() / kern.sum_w0 * 1.01
    t0 = time.perf_counter()
    res = solve_elastic(
        kern, m, {"max_steps": 40}, original_weights=kern.new_weights()
    )
    timings["elastic_solve"] = round(time.perf_counter() - t0, 4)
    if not res.converged:
        raise RuntimeError("elastic scale solve did not converge")
    kern.cleanup()

    timings["elastic_stats_pass"] = round(t_stats, 4)
    timings["elastic_step_pass"] = round(t_step, 4)
    timings["elastic_solve_iterations"] = float(res.n_iterations)
    throughput["elastic"] = round(n / min(t_stats, t_step), 1)


def _bench_grouped(spark, n, n_parts, timings, throughput) -> None:
    """Bounded + per-group solve at scale — the production regime
    (ref README headline: per-group bounded reweighting).  Synthetic
    ``SPARK_GRAFT_SCALE_GROUPS`` groups (default 1000) × 2 numeric
    moments → K = 2·groups block-diagonal; the
    elastic IP iterates over a block Gram that scales with Σk_b²,
    never K² (pinned by tests/test_block_gram.py)."""
    from pyspark.sql import functions as F

    from entropy_balance_weighting_spark.plans.moment_spec import (
        MomentSpec,
        build_problem_tables,
        targets_from_problem,
    )
    from entropy_balance_weighting_spark.solvers.api import entropy_balance

    n_groups = int(os.environ.get("SPARK_GRAFT_SCALE_GROUPS", 1000))
    df = spark.range(0, n, 1, n_parts).select(
        (0.5 + F.pmod(F.hash("id"), F.lit(1000)) / 1000.0).alias("w"),
        (F.pmod(F.hash("id", F.lit(1)), F.lit(1000)) / 1000.0).alias("f1"),
        (F.pmod(F.hash("id", F.lit(2)), F.lit(1000)) / 1000.0).alias("f2"),
        F.pmod(F.col("id"), F.lit(n_groups)).alias("g"),
    )
    spec = MomentSpec(weight_col="w", numeric=("f1", "f2"), group=("g",))

    t0 = time.perf_counter()
    pt = build_problem_tables(df, spec)
    targets = targets_from_problem(pt, perturb=0.01)
    timings["grouped_build"] = round(time.perf_counter() - t0, 4)

    t0 = time.perf_counter()
    res = entropy_balance(
        mean_population_moments=targets,
        x_sample=pt,
        options={"force_distributed": True, "bounds": (0.2, 5.0)},
    )
    if res.converged:
        res.new_weights.count()
    wall = time.perf_counter() - t0
    if not res.converged:
        raise RuntimeError("grouped scale solve did not converge")
    timings["grouped_bounded_solve"] = round(wall, 4)
    timings["grouped_k"] = float(pt.k)
    timings["grouped_iterations"] = float(res.n_iterations)
    timings["grouped_per_iter"] = round(wall / max(res.n_iterations, 1), 4)
    # rows/s in both keys (like the other solvers' n/stage_time), with the
    # denominator explicit in the name — a bare n·iters/wall reads inflated
    # next to the per-pass numbers of its siblings
    throughput["grouped_rows_per_sec"] = round(n / wall, 1)
    throughput["grouped_rows_per_sec_per_iter"] = round(
        n / (wall / max(res.n_iterations, 1)), 1
    )


def _bench_penalty(base, k, n, timings, throughput) -> None:
    from entropy_balance_weighting_spark.kernels.penalty_spark import (
        PenaltySparkKernel,
    )
    from entropy_balance_weighting_spark.solvers.penalty import solve_penalty

    t0 = time.perf_counter()
    kern = PenaltySparkKernel.from_problem(None, None, k, prepacked=base)
    timings["penalty_pack"] = round(time.perf_counter() - t0, 4)

    kern.penalty_init()
    t_stats = _min3(lambda: kern.penalty_stats())

    m = kern.moment_totals() / kern.sum_w0 * 1.01
    t0 = time.perf_counter()
    res = solve_penalty(
        kern, m, 3.0, {"max_steps": 30}, original_weights=kern.new_weights()
    )
    timings["penalty_solve"] = round(time.perf_counter() - t0, 4)
    if not res.converged:
        raise RuntimeError("penalty scale solve did not converge")
    kern.cleanup()

    timings["penalty_stats_pass"] = round(t_stats, 4)
    timings["penalty_solve_iterations"] = float(res.n_iterations)
    throughput["penalty"] = round(n / t_stats, 1)


if __name__ == "__main__":
    main()
