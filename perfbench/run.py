#!/usr/bin/env python3
"""Reweighting benchmark: time from an input DataFrame to materialized
entropy-balance weights, end to end and per layer.

    python3 perfbench/run.py --workload survey_local --seed 1 --seconds 8 --trace 0
    python3 perfbench/run.py --smoke

Load model: closed loop, one client, one reweighting at a time, on
``local[nproc]``.  ``--trace 0`` prints the end-to-end metrics
(``reweight_s``, ``setup_s``, ``peak_rss_mb``); ``--trace 1`` prints the
per-layer metrics from a run that alternates traced and untraced ops.
``--smoke`` runs every workload at sf0.001 size and prints both sets.

Standard output ends with two JSON lines: the run's details (environment
stamp, every op, every set-up) and the result
``{"correct", "attempted", "failed", "metrics"}``.  Exit code 2 when the
package is not next to this directory.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from dataclasses import replace
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PACKAGE = ROOT / "entropy_balance_weighting_spark"

MIN_OPS = 2  # measured ops per run, even past --seconds
DRIVER_MEM = "2g"  # pinned: session.py defaults to 32g


def parse_args(argv):
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=8.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true", help="every workload at sf0.001 size")
    p.add_argument("--rows", type=int, help="override the workload's row count (sizing runs)")
    args = p.parse_args(argv)
    if not args.smoke and args.workload is None:
        p.error("--workload is required unless --smoke")
    return args


def configure_env(work: Path) -> None:
    """Keep every file Spark writes inside ``work`` (``SPARK_LOCAL_DIRS``
    overrides the ``/dev/shm`` local dir ``get_spark`` would pick: the
    benchmark writes only inside its checkout); put the repo on the Python
    workers' path (the elastic kernel ships functions by module name, so
    workers must import the package too)."""
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    # HotSpot writes its perf-data file to /tmp whatever java.io.tmpdir says;
    # the launcher JVM that spark-submit starts first does too
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = str(ROOT) + (os.pathsep + path if path else "")
    sys.path.insert(0, str(ROOT))


def start_session(work: Path, cores: int):
    from entropy_balance_weighting_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            # -Xms = -Xmx: a System.gc() between ops cannot shrink the heap,
            # so the next op does not regrow it inside its timed region
            "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM} -Djava.io.tmpdir={work / 'tmp'}",
            "spark.executorEnv.PYTHONPATH": str(ROOT),
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_session(spark) -> None:
    """Stop Spark and its JVM, so the next session pays a cold start."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            # the gateway JVM exits when its stdin closes
            proc.stdin.close()
            proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def release(spark) -> None:
    """Drop the finished op's caches before the next op (untimed)."""
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def one_op(spark, df, w, seed, tracer=None, rss=None, gate=True) -> dict:
    from tracing import NullTracer
    from workloads import OpFailed, check_result, run_op

    rec = {"traced": tracer is not None, "ok": False, "error": None}
    if tracer is not None:
        tracer.install()
        tracer.begin_op()
    if rss is not None:
        rss.reset()
    t0 = time.perf_counter()
    out = None
    try:
        out = run_op(df, w, seed, tracer or NullTracer())
    except Exception as exc:  # a failed op is counted, never timed as a success
        rec["error"] = f"{type(exc).__name__}: {exc}"
        traceback.print_exc(file=sys.stderr)
    rec["wall_s"] = time.perf_counter() - t0
    if rss is not None:
        rec["peak_rss_mb"] = rss.peak / 2**20
    trace = None
    if tracer is not None:
        trace = tracer.end_op()
        tracer.uninstall()
    if out is not None:
        pt, targets, res = out
        out = None
        rec["iterations"] = res.n_iterations
        try:
            if gate:
                rec["check"] = check_result(w, pt, targets, res)
            rec["ok"] = True
        except OpFailed as exc:
            rec["error"] = str(exc)
        if trace is not None:
            rec["layers"] = layer_metrics(trace, pt.n, res.n_iterations)
        del pt, targets, res
    # spans hold kernel instances, which pin their blob caches
    trace = None
    release(spark)
    return rec


def layer_metrics(op, n: int, iterations: int) -> dict:
    """Per-layer numbers of one traced op (times are self times)."""
    from entropy_balance_weighting_spark.kernels.spark import gram_bytes

    spans = op.spans
    child = [0.0] * len(spans)
    for s in spans[1:]:
        child[s.parent] += s.dur
    self_s = [s.dur - c for s, c in zip(spans, child)]

    def total(prefix, attr=None):
        picked = [i for i, s in enumerate(spans) if s.name.startswith(prefix)]
        if attr is None:
            return sum(self_s[i] for i in picked)
        return sum(getattr(spans[i], attr) for i in picked)

    def calls(name):
        return sum(1 for s in spans if s.name == name)

    # steady data passes that ran a job: the Newton kernel's speculative
    # stats ride its step pass, so a stats call there often runs none
    steady = [
        self_s[i]
        for i, s in enumerate(spans)
        if s.name in ("kernels.stats", "kernels.step") and s.jobs
    ]
    # one gram payload per task of every stats pass that ran a job
    reduce_bytes = sum(
        s.tasks * gram_bytes(s.kernel.k, s.kernel.block_structure)
        for s in spans
        if s.name == "kernels.stats" and s.jobs
    )
    layer_s = sum(self_s[1:])
    kernel_jobs = total("kernels.", "jobs")
    return {
        "plans.build_s": total("plans."),
        "plans.jobs": total("plans.", "jobs"),
        "solvers.api.self_s": total("solvers.api"),
        "solvers.api.jobs": total("solvers.api", "jobs"),
        "kernels.local.s": total("kernels.local"),
        "kernels.pack_s": total("kernels.pack"),
        "kernels.stats_s": total("kernels.stats"),
        "kernels.stats_calls": calls("kernels.stats"),
        "kernels.step_s": total("kernels.step"),
        "kernels.step_calls": calls("kernels.step"),
        "kernels.commit_s": total("kernels.commit"),
        "kernels.commit_calls": calls("kernels.commit"),
        "kernels.pass_rows_per_s": n / statistics.median(steady) if steady else 0.0,
        "kernels.render_s": total("kernels.render"),
        "kernels.jobs": kernel_jobs,
        "kernels.tasks": total("kernels.", "tasks"),
        "kernels.jobs_per_iter": kernel_jobs / max(iterations, 1),
        "kernels.reduce_bytes_computed": reduce_bytes,
        "solvers.driver_self_s": total("solvers.loop") - op.linalg_s,
        "solvers.linalg.solve_s": op.linalg_s,
        "solvers.linalg.calls": op.linalg_calls,
        "solvers.iterations": iterations,
        "spark.jobs_per_op": sum(s.jobs for s in spans),
        "spark.stages_per_op": sum(s.stages for s in spans),
        "spark.tasks_per_op": sum(s.tasks for s in spans),
        "spark.unattributed_jobs": op.unattributed_jobs,
        "trace.coverage_pct": 100.0 * layer_s / spans[0].dur,
    }


LAYER_UNITS = {
    "plans.build_s": "s",
    "plans.jobs": "count",
    "solvers.api.self_s": "s",
    "solvers.api.jobs": "count",
    "kernels.pack_s": "s",
    "kernels.stats_s": "s",
    "kernels.stats_calls": "count",
    "kernels.step_s": "s",
    "kernels.step_calls": "count",
    "kernels.commit_s": "s",
    "kernels.commit_calls": "count",
    "kernels.pass_rows_per_s": "rows/s",
    "kernels.render_s": "s",
    "kernels.jobs": "count",
    "kernels.tasks": "count",
    "kernels.jobs_per_iter": "count",
    "kernels.reduce_bytes_computed": "bytes",
    "solvers.driver_self_s": "s",
    "solvers.linalg.solve_s": "s",
    "solvers.linalg.calls": "count",
    "solvers.iterations": "count",
    "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.unattributed_jobs": "count",
    "trace.coverage_pct": "%",
    "trace.overhead_pct": "%",
    "trace.reweight_s": "s",
    "ops.failed_ratio": "ratio",
}
# printed only for workloads that may take the local path (the scored ones
# force the distributed kernels, where it reads 0)
LOCAL_UNITS = {"kernels.local.s": "s"}


def measure(spark, df, w, seed, seconds, trace) -> list[dict]:
    """Closed loop for ``seconds``; with tracing, ops go untraced, traced,
    traced, untraced (and again), so the overhead is measured in the same
    process and the slower early ops fall on both sides alike."""
    from envinfo import RssSampler
    from tracing import Tracer

    tracer = Tracer(spark.sparkContext) if trace else None
    min_ops = 2 * MIN_OPS if trace else MIN_OPS
    ops = []
    t0 = time.perf_counter()
    with RssSampler() as rss:
        while len(ops) < min_ops or time.perf_counter() - t0 < seconds:
            traced = trace and len(ops) % 4 in (1, 2)
            ops.append(one_op(spark, df, w, seed, tracer if traced else None, rss))
    return ops


def metric(value, unit) -> dict:
    return {"value": value, "unit": unit}


def median_or_zero(values) -> float:
    return statistics.median(values) if values else 0.0


def plain(ops, key="wall_s") -> list[float]:
    """``key`` of the untraced ops, successes only unless every op failed."""
    vals = [o[key] for o in ops if o["ok"] and not o["traced"]]
    return vals or [o[key] for o in ops if not o["traced"]]


def e2e_metrics(ops, setup_s) -> dict:
    return {
        "reweight_s": metric(statistics.median(plain(ops)), "s"),
        "setup_s": metric(setup_s, "s"),
        "peak_rss_mb": metric(statistics.median(plain(ops, "peak_rss_mb")), "MB"),
    }


def layer_summary(ops, w) -> dict:
    """Median per op of every per-layer number, over the traced ops."""
    ok = [o for o in ops if o["ok"]]
    layers = [o["layers"] for o in ok if o["traced"]]
    units = LAYER_UNITS if w.options.get("force_distributed") else LAYER_UNITS | LOCAL_UNITS
    out = {
        name: metric(median_or_zero([lay[name] for lay in layers if name in lay]), unit)
        for name, unit in units.items()
    }
    traced = median_or_zero([o["wall_s"] for o in ok if o["traced"]])
    untraced = plain(ops)
    out["trace.reweight_s"] = metric(traced, "s")
    out["trace.overhead_pct"] = metric(
        100.0 * (traced / statistics.median(untraced) - 1.0) if traced and untraced else 0.0,
        "%",
    )
    out["ops.failed_ratio"] = metric((len(ops) - len(ok)) / len(ops), "ratio")
    return out


def op_detail(o: dict) -> dict:
    keep = ("traced", "ok", "error", "wall_s", "peak_rss_mb", "iterations", "check", "layers")
    return {k: o[k] for k in keep if k in o}


def run_workload(w, args, work: Path, cores: int, survey_path, setup_offset: float):
    """Cold set-up (session start plus one untimed warm-up op), then the
    measured closed loop.  ``setup_offset`` adds the package import time
    to the first set-up of the process."""
    from envinfo import spark_stamp
    from workloads import input_frame

    t0 = time.perf_counter()
    spark = start_session(work, cores)
    df = input_frame(spark, w, args.seed, survey_path)
    # the gate is not part of set-up; every measured op of the same input
    # and seed passes it
    warm = one_op(spark, df, w, args.seed, gate=False)
    if not warm["ok"]:
        raise RuntimeError(f"warm-up op failed: {warm['error']}")
    setup_s = time.perf_counter() - t0 + setup_offset
    stamp = spark_stamp(spark)
    ops = measure(spark, df, w, args.seed, args.seconds, bool(args.trace or args.smoke))
    stop_session(spark)
    if args.smoke:
        metrics = e2e_metrics(ops, setup_s) | layer_summary(ops, w)
    elif args.trace:
        metrics = layer_summary(ops, w)
    else:
        metrics = e2e_metrics(ops, setup_s)
    correct = all(o["ok"] for o in ops) and all(
        o["layers"]["spark.unattributed_jobs"] == 0 for o in ops if o["traced"] and o["ok"]
    )
    detail = {
        "workload": w.name,
        "rows": w.rows,
        "setup_s": setup_s,
        "ops": [op_detail(o) for o in ops],
        "spark": stamp,
    }
    return ops, metrics, correct, detail


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (PACKAGE / "__init__.py").is_file():
        print(f"perfbench: package not found at {PACKAGE}", file=sys.stderr)
        return 2
    from envinfo import cpu_jiffies, loadavg, nproc, steal_pct
    from workloads import WORKLOADS, smoke_variant, write_survey_table

    work = HERE / ".work" / f"run-{os.getpid()}"
    jiffies0, load0 = cpu_jiffies(), loadavg()
    cores = nproc()
    if args.smoke:
        chosen = [smoke_variant(w) for w in WORKLOADS.values()]
        args.seconds = min(args.seconds, 1.0)
    else:
        chosen = [WORKLOADS[args.workload]]
    if args.rows:
        chosen = [replace(w, rows=args.rows) for w in chosen]
    results = []
    try:
        configure_env(work)
        paths = {}
        for w in chosen:
            if w.table == "survey" and (w.rows, w.suppliers) not in paths:
                path = str(work / f"survey-{w.rows}-{w.suppliers}.parquet")
                write_survey_table(path, w.rows, w.suppliers)
                paths[(w.rows, w.suppliers)] = path
        t0 = time.perf_counter()
        import pyspark  # noqa: F401  (import time is part of set-up)

        import entropy_balance_weighting_spark  # noqa: F401

        import_s = time.perf_counter() - t0
        for i, w in enumerate(chosen):
            survey_path = paths.get((w.rows, w.suppliers))
            offset = import_s if i == 0 else 0.0
            results.append((w, *run_workload(w, args, work, cores, survey_path, offset)))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    env = {
        "nproc": cores,
        "loadavg_start": load0,
        "loadavg_end": loadavg(),
        "steal_pct": steal_pct(jiffies0, cpu_jiffies()),
        "driver_mem": DRIVER_MEM,
        "python": sys.version.split()[0],
    }
    details = [r[4] for r in results]
    print(json.dumps({"seed": args.seed, "seconds": args.seconds, "trace": args.trace,
                      "env": env, "runs": details}))
    if args.smoke:
        metrics = {f"{w.name}.{k}": v for w, _, m, _, _ in results for k, v in m.items()}
    else:
        metrics = results[0][2]
    print(json.dumps({
        "correct": all(r[3] for r in results),
        "attempted": sum(len(r[1]) for r in results),
        "failed": sum(1 for r in results for o in r[1] if not o["ok"]),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
