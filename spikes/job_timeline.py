"""Job/stage timeline of one warm perfbench op, read from the JVM status store.

Starts a session the way ``perfbench/run.py`` does, runs one untimed
warm-up op of the workload, then one more op, and prints for that second
op:

- every Spark job: start (seconds since the op began), duration, driver
  gap (time since the previous job ended, or since the op began), stage
  count and call site;
- every stage of those jobs: status, tasks, wall time and summed task run
  time.

Everything is read from the driver JVM's ``AppStatusStore`` (the store the
Spark UI renders), so it works with ``spark.ui.enabled=false`` — unlike
``spikes/profile_solver*.py``, which scrape the UI's REST API.  Call sites
are shortened to ``file:line``.

Usage (from a checkout root)::

    python spikes/job_timeline.py --workload synthetic_newton --seed 1
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT / "perfbench"))
sys.path.insert(0, str(ROOT))


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def _ms(opt) -> int | None:
    return opt.get().getTime() if opt.isDefined() else None


def _site(name: str) -> str:
    """``collect at /a/b/blob_plane.py:352`` → ``collect at blob_plane.py:352``."""
    head, sep, path = name.rpartition(" at ")
    return f"{head}{sep}{os.path.basename(path)}" if sep else name


def _drain(store, first_job: int, timeout_s: float = 10.0) -> None:
    """Wait until the status store (fed asynchronously by the listener
    bus) has recorded the end of every job with id ≥ ``first_job``."""
    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline:
        jobs = [j for j in _seq(store.jobsList(None)) if j.jobId() >= first_job]
        if jobs and all(j.completionTime().isDefined() for j in jobs):
            return
        time.sleep(0.2)


def timeline(sc, first_job: int, t0_ms: int) -> str:
    """Text timeline of the jobs with id ≥ ``first_job``; times are
    relative to ``t0_ms`` (epoch milliseconds)."""
    store = sc._jsc.sc().statusStore()
    jobs = sorted(
        (j for j in _seq(store.jobsList(None)) if j.jobId() >= first_job),
        key=lambda j: j.jobId(),
    )
    lines = [
        f"{'job':>4} {'start_s':>8} {'dur_s':>7} {'gap_s':>7} {'stages':>6}  call site"
    ]
    stage_lines = [
        f"{'job':>4} {'stage':>5} {'status':>8} {'tasks':>5} {'wall_s':>7} "
        f"{'task_run_s':>10}  name"
    ]
    prev_end = t0_ms
    busy = 0
    for j in jobs:
        sub, end = _ms(j.submissionTime()), _ms(j.completionTime())
        if sub is None or end is None:
            continue
        ids = sorted(_seq(j.stageIds()))
        lines.append(
            f"{j.jobId():>4} {(sub - t0_ms) / 1e3:>8.3f} {(end - sub) / 1e3:>7.3f} "
            f"{(sub - prev_end) / 1e3:>7.3f} {len(ids):>6}  {_site(j.name())}"
        )
        busy += end - sub
        prev_end = max(prev_end, end)
        for sid in ids:
            s = store.lastStageAttempt(sid)
            s_sub, s_end = _ms(s.submissionTime()), _ms(s.completionTime())
            wall = (s_end - s_sub) / 1e3 if s_sub and s_end else 0.0
            stage_lines.append(
                f"{j.jobId():>4} {sid:>5} {s.status().toString():>8} "
                f"{s.numTasks():>5} {wall:>7.3f} {s.executorRunTime() / 1e3:>10.3f}"
                f"  {_site(s.name())}"
            )
    ran = [s for s in stage_lines[1:] if " COMPLETE " in s]
    summary = (
        f"jobs {len(lines) - 1}, stages run {len(ran)}, "
        f"job time {busy / 1e3:.3f} s, last job end {(prev_end - t0_ms) / 1e3:.3f} s"
    )
    return "\n".join(["# jobs", *lines, "", "# stages", *stage_lines, "", summary])


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", default="synthetic_newton")
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--rows", type=int, help="override the workload's row count")
    args = p.parse_args(argv)

    import run as prun
    from envinfo import loadavg, nproc
    from tracing import NullTracer
    from workloads import WORKLOADS, input_frame, run_op, write_survey_table

    w = WORKLOADS[args.workload]
    if args.rows:
        from dataclasses import replace

        w = replace(w, rows=args.rows)
    work = ROOT / ".scratch" / f"timeline-{os.getpid()}"
    try:
        prun.configure_env(work)
        survey = None
        if w.table == "survey":
            survey = str(work / "survey.parquet")
            write_survey_table(survey, w.rows, w.suppliers)
        cores = nproc()
        spark = prun.start_session(work, cores)
        sc = spark.sparkContext
        df = input_frame(spark, w, args.seed, survey)
        run_op(df, w, args.seed, NullTracer())  # warm-up, untimed
        prun.release(spark)
        store = sc._jsc.sc().statusStore()
        _drain(store, 0)
        first = max((j.jobId() for j in _seq(store.jobsList(None))), default=-1) + 1
        load = loadavg()
        t0_ms = int(time.time() * 1000)
        t0 = time.perf_counter()
        _, _, res = run_op(df, w, args.seed, NullTracer())
        wall = time.perf_counter() - t0
        _drain(store, first)
        print(
            f"# {w.name} seed {args.seed}, {w.rows} rows, {cores} cores, "
            f"loadavg {load}, op {wall:.3f} s, {res.n_iterations} iterations"
        )
        print(timeline(sc, first, t0_ms))
        prun.stop_session(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
