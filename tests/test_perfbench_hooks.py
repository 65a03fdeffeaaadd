"""The benchmark's tracer (perfbench/tracing.py) patches named methods on
each distributed kernel class, the solver loops and the linalg entry
points, and perfbench/run.py imports ``kernels.spark.gram_bytes``.  A
refactor that moves one of those names must fail here, in tier-1, not
only when the benchmark runs."""

from __future__ import annotations

import sys

from tests.conftest import REPO_ROOT


class _NoSpark:
    """Installing and removing the hooks touches no Spark state; the
    tracer only keeps the status tracker for counting jobs later."""

    def statusTracker(self):  # noqa: N802 - SparkContext's name
        return None


def test_tracer_installs_and_restores_every_hook():
    sys.path.insert(0, str(REPO_ROOT / "perfbench"))
    try:
        import tracing
    finally:
        sys.path.remove(str(REPO_ROOT / "perfbench"))
    from entropy_balance_weighting_spark.kernels.spark import gram_bytes

    assert gram_bytes(3, None) == 72

    tracer = tracing.Tracer(_NoSpark())
    try:
        tracer.install()
        patched = list(tracer._patches)
        assert patched
        for owner, attr, orig in patched:
            assert owner.__dict__[attr] is not orig, (owner, attr)
    finally:
        tracer.uninstall()
    for owner, attr, orig in patched:
        assert owner.__dict__[attr] is orig, (owner, attr)
    assert not tracer._patches
