"""Per-layer tracing, recorded from the benchmark process only.

The package is not edited.  :class:`Tracer` replaces the public entry
points of each layer with wrappers that open a span around the call while
an op is traced, and restores the originals on :meth:`Tracer.uninstall`:

- ``solvers.newton|elastic|penalty`` driver loops → ``solvers.loop``;
- the distributed kernels' methods → ``kernels.pack`` (construction plus
  the kernel's first pass: encode, persist, fused validation),
  ``kernels.stats``, ``kernels.step``, ``kernels.commit``,
  ``kernels.render``;
- the local kernels' methods → ``kernels.local``;
- ``solvers.linalg`` K×K solves → a call count and a time sum, not spans
  (a grouped solve makes thousands of block solves per op).

The benchmark itself opens ``plans.build``, ``plans.targets``,
``solvers.api`` and ``kernels.render`` around its calls into the package.

Spark work is counted per span with job groups: every span sets its own
group on the calling thread, and thread-pool helpers started inside a span
inherit it (the thread-local group is otherwise lost in a new thread).
After the op a fence job drains the listener bus; jobs, stages and tasks
are then read back from ``statusTracker`` per group.  Jobs that escape
every group are counted as ``unattributed``.
"""

from __future__ import annotations

import time
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager
from dataclasses import dataclass, field

_GROUP = "perfbench"


@dataclass
class Span:
    name: str
    parent: int  # index into OpTrace.spans; -1 for the op root
    group: str
    t0: float = 0.0
    t1: float = 0.0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    kernel: object = None  # the kernel instance a kernel span ran on

    @property
    def dur(self) -> float:
        return self.t1 - self.t0


class NullTracer:
    """Tracing off: spans cost one context-manager entry."""

    @contextmanager
    def span(self, name):
        yield None


@dataclass
class OpTrace:
    """Spans and counters of one traced op."""

    spans: list = field(default_factory=list)
    linalg_calls: int = 0
    linalg_s: float = 0.0
    unattributed_jobs: int = 0


class Tracer:
    def __init__(self, sc):
        self._sc = sc
        self._status = sc.statusTracker()
        self._patches: list[tuple[object, str, object]] = []
        self._stack: list[int] = []
        self._op: OpTrace | None = None
        self._first_pass_done: set[int] = set()
        self._linalg_depth = 0
        self._fences = 0
        self._ops = 0
        self._none_before: set[int] = set()  # group-less job ids at op start

    # -- spans ---------------------------------------------------------------
    @contextmanager
    def span(self, name, kernel=None):
        op = self._op
        if op is None:
            yield None
            return
        parent = self._stack[-1]
        idx = len(op.spans)
        s = Span(name=name, parent=parent, group=f"{_GROUP}-{self._ops}-{idx}")
        s.kernel = kernel
        op.spans.append(s)
        self._stack.append(idx)
        self._sc.setJobGroup(s.group, name)
        s.t0 = time.perf_counter()
        try:
            yield s
        finally:
            s.t1 = time.perf_counter()
            self._stack.pop()
            p = op.spans[self._stack[-1]]
            self._sc.setJobGroup(p.group, p.name)

    def current_group(self) -> str | None:
        if self._op is None:
            return None
        return self._op.spans[self._stack[-1]].group

    # -- op lifecycle ----------------------------------------------------------
    def begin_op(self) -> None:
        self._ops += 1
        self._fence()
        self._none_before = set(self._status.getJobIdsForGroup(None))
        self._op = OpTrace()
        self._first_pass_done.clear()
        root = Span(name="op", parent=-1, group=f"{_GROUP}-{self._ops}-op")
        self._op.spans.append(root)
        self._stack = [0]
        self._sc.setJobGroup(root.group, "op")
        root.t0 = time.perf_counter()

    def end_op(self) -> OpTrace:
        """Close the op, drain the listener bus and count Spark work."""
        op = self._op
        op.spans[0].t1 = time.perf_counter()
        self._op = None
        self._stack = []
        self._fence()
        escaped = set(self._status.getJobIdsForGroup(None)) - self._none_before
        op.unattributed_jobs = len(escaped)
        seen_stages: set[int] = set()
        for s in op.spans:
            for jid in sorted(self._status.getJobIdsForGroup(s.group)):
                info = self._status.getJobInfo(jid)
                s.jobs += 1
                for sid in info.stageIds if info is not None else ():
                    if sid in seen_stages:
                        continue
                    seen_stages.add(sid)
                    st = self._status.getStageInfo(sid)
                    if st is not None and st.numCompletedTasks > 0:
                        s.stages += 1
                        s.tasks += st.numCompletedTasks + st.numFailedTasks
        return op

    def _fence(self) -> None:
        """Run one tiny job and wait until the status store shows it
        finished: listener events are processed in order, so every job
        before it is then fully accounted."""
        self._fences += 1
        group = f"{_GROUP}-fence-{self._fences}"
        self._sc.setJobGroup(group, "fence")
        self._sc.parallelize([0], 1).count()
        self._sc.setLocalProperty("spark.jobGroup.id", None)
        deadline = time.monotonic() + 30.0
        while True:
            ids = self._status.getJobIdsForGroup(group)
            infos = [self._status.getJobInfo(j) for j in ids]
            if infos and all(i is not None and i.status == "SUCCEEDED" for i in infos):
                return
            if time.monotonic() > deadline:
                raise RuntimeError("listener bus did not drain within 30 s")
            time.sleep(0.002)

    # -- patching --------------------------------------------------------------
    def _patch(self, owner, attr, wrapper) -> None:
        self._patches.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, wrapper)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def install(self) -> None:
        from entropy_balance_weighting_spark.kernels import (
            elastic_local,
            elastic_spark,
            local,
            penalty_local,
            penalty_spark,
        )
        from entropy_balance_weighting_spark.kernels import spark as kspark
        from entropy_balance_weighting_spark.solvers import (
            api,
            elastic,
            linalg,
            newton,
            penalty,
        )

        for mod, fn in (
            (newton, "solve_unbounded"),
            (elastic, "solve_elastic"),
            (penalty, "solve_penalty"),
            (penalty, "solve_penalty_bounded"),
        ):
            self._patch(mod, fn, self._span_fn(getattr(mod, fn), "solvers.loop"))

        self._patch(linalg, "solve_regularized", self._linalg_fn(linalg.solve_regularized))
        # newton bound the name at import; hand it the wrapper just installed
        self._patch(newton, "solve_regularized", linalg.solve_regularized)
        self._patch(penalty, "_solve_i_plus_gp", self._linalg_fn(penalty._solve_i_plus_gp))
        self._patch(
            linalg.BlockGram,
            "solve_i_plus_g_diag",
            self._block_count_fn(linalg.BlockGram.solve_i_plus_g_diag),
        )

        distributed = {
            kspark.SparkKernel: {
                "defer_validation": "build",
                "init_state": "build",
                "stats": "stats",
                "step_stats": "step",
                "commit": "commit",
                "rollback": "commit",
                "new_weights": "render",
            },
            elastic_spark.ElasticSparkKernel: {
                "defer_validation": "build",
                "elastic_g1": "stats",
                "elastic_stats": "stats",
                "elastic_step": "step",
                "elastic_commit": "commit",
                "new_weights": "render",
            },
            penalty_spark.PenaltySparkKernel: {
                "penalty_init": "stats",
                "moment_totals": "stats",
                "penalty_stats": "stats",
                "pb_stats": "stats",
                "pb_step": "step",
                "penalty_commit": "commit",
                "pb_commit": "commit",
                "new_weights": "render",
            },
        }
        for cls, methods in distributed.items():
            self._patch(cls, "from_problem", self._from_problem_fn(cls))
            for meth, kind in methods.items():
                self._patch(cls, meth, self._kernel_fn(cls.__dict__[meth], kind))
        for cls in (
            local.LocalKernel,
            elastic_local.ElasticLocalKernel,
            penalty_local.PenaltyLocalKernel,
        ):
            for meth, fn in list(cls.__dict__.items()):
                if callable(fn) and not meth.startswith("_"):
                    self._patch(cls, meth, self._span_method(fn, "kernels.local"))
        self._patch(
            api._LocalKernelAsDataFrame,
            "new_weights",
            self._span_method(api._LocalKernelAsDataFrame.new_weights, "kernels.render"),
        )
        self._patch(ThreadPoolExecutor, "submit", self._submit_fn(ThreadPoolExecutor.submit))

    # -- wrappers --------------------------------------------------------------
    def _span_fn(self, fn, name):
        tracer = self

        def wrapper(*args, **kwargs):
            with tracer.span(name):
                return fn(*args, **kwargs)

        return wrapper

    def _span_method(self, fn, name):
        tracer = self

        def wrapper(this, *args, **kwargs):
            with tracer.span(name):
                return fn(this, *args, **kwargs)

        return wrapper

    def _from_problem_fn(self, cls):
        tracer = self
        orig = cls.from_problem.__func__

        def from_problem(klass, *args, **kwargs):
            with tracer.span("kernels.pack") as s:
                kern = orig(klass, *args, **kwargs)
                if s is not None:
                    s.kernel = kern
                return kern

        return classmethod(from_problem)

    def _kernel_fn(self, fn, kind):
        """Kernel method → span; the first pass on a kernel counts as pack
        (that pass encodes and persists the blob cache)."""
        tracer = self
        passes = kind in ("stats", "step")

        def wrapper(this, *args, **kwargs):
            name = f"kernels.{kind}"
            if kind == "build":
                name = "kernels.pack"
            elif passes and id(this) not in tracer._first_pass_done:
                tracer._first_pass_done.add(id(this))
                name = "kernels.pack"
            with tracer.span(name, kernel=this):
                return fn(this, *args, **kwargs)

        return wrapper

    def _linalg_fn(self, fn):
        """Count leaf solves (a block-diagonal solve recurses once per
        block) and sum time over the outermost call only."""
        tracer = self

        def wrapper(lhs, *args, **kwargs):
            op = tracer._op
            if op is None:
                return fn(lhs, *args, **kwargs)
            if not hasattr(lhs, "structure"):
                op.linalg_calls += 1
            tracer._linalg_depth += 1
            t0 = time.perf_counter()
            try:
                return fn(lhs, *args, **kwargs)
            finally:
                tracer._linalg_depth -= 1
                if tracer._linalg_depth == 0:
                    op.linalg_s += time.perf_counter() - t0

        return wrapper

    def _block_count_fn(self, fn):
        tracer = self

        def wrapper(this, *args, **kwargs):
            if tracer._op is not None:
                tracer._op.linalg_calls += len(this.structure.members)
            return fn(this, *args, **kwargs)

        return wrapper

    def _submit_fn(self, orig_submit):
        tracer = self

        def submit(pool, fn, /, *args, **kwargs):
            group = tracer.current_group()
            if group is None:
                return orig_submit(pool, fn, *args, **kwargs)
            sc = tracer._sc

            def in_group(*a, **k):
                sc.setJobGroup(group, "helper thread")
                try:
                    return fn(*a, **k)
                finally:
                    sc.setLocalProperty("spark.jobGroup.id", None)

            return orig_submit(pool, in_group, *args, **kwargs)

        return submit
