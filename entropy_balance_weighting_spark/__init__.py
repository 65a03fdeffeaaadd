"""entropy_balance_weighting_spark — a PySpark-native entropy-balance-weighting engine.

A from-scratch, Spark-first implementation of
``uscensusbureau/entropy-balance-weighting`` (the reference; see docstring
citations of the form ``ref: file:line``): reweight a sample so that K
weighted moments hit their targets with the smallest KL change from the
initial weights.

Architecture:

1. **data layer** (``plans/``, ``operators/``) — relational builders that turn
   any DataFrame plus a moment spec into the canonical long-format problem
   tables ``x_long(row_id, moment_id, value)`` / ``w0(row_id, w0)`` /
   ``targets(moment_id, target)``.
2. **solver layer** (``solvers/``, ``kernels/``) — the three algorithms
   (unbounded Newton, elastic interior-point, quadratic penalty) as driver
   loops over Spark aggregates with driver-local K×K solves.  N-dimensional
   state lives in DataFrames; K-dimensional state lives on the driver.
3. **around the pipeline** — ``ml.py`` (MLlib Estimator/Model wrapper),
   ``sources/`` (problem bundles, storage layout), ``functions/sampling``
   (deterministic hash sampling of the frame to reweight) and ``queries/``
   (the oracle-checked registry: solver proofs, survey-prep scans,
   data-quality audits).  The remaining ``functions/`` modules (media
   codecs, dedup, CDC compaction) are unregistered library code.

Public API mirrors the reference's surface (ref: ebw_routines.py:18-24,
ebw_penalty.py:17-23, shared.py:15-38):

- :func:`entropy_balance`
- :func:`entropy_balance_penalty`
- :class:`EntropyBalanceResults`
- :func:`setup_logging`
- :mod:`sources.bundle` — problem serialization
"""

from __future__ import annotations

import logging

from entropy_balance_weighting_spark import _zipimport_shim
from entropy_balance_weighting_spark.results import EntropyBalanceResults

# inside a PySpark task only: later tasks of this worker skip the per-task
# zip directory rescan (see _zipimport_shim)
_zipimport_shim.install_in_task()

__version__ = "0.1.0"

__all__ = [
    "EntropyBalanceResults",
    "entropy_balance",
    "entropy_balance_penalty",
    "setup_logging",
    "__version__",
]

_LOGGER_NAME = "entropy_balance_weighting_spark"


def setup_logging(filepath: str, mode: str = "w") -> None:
    """Attach a file handler that records the per-iteration solver trace.

    Same role as the reference's ``setup_logging`` (ref: __init__.py:17-29):
    one line per Newton/IP iteration with criterion value, residual norms and
    step sizes.
    """
    logger = logging.getLogger(_LOGGER_NAME)
    logger.setLevel(logging.INFO)
    handler = logging.FileHandler(filepath, mode=mode)
    handler.setFormatter(logging.Formatter("%(asctime)s %(levelname)s %(message)s"))
    logger.addHandler(handler)


def entropy_balance(*args, **kwargs):  # noqa: ANN002, ANN003 - thin lazy wrapper
    """Primary solver entry point; see :func:`solvers.api.entropy_balance`."""
    from entropy_balance_weighting_spark.solvers.api import entropy_balance as _eb

    return _eb(*args, **kwargs)


def entropy_balance_penalty(*args, **kwargs):  # noqa: ANN002, ANN003
    """Penalty solver entry point; see :func:`solvers.api.entropy_balance_penalty`."""
    from entropy_balance_weighting_spark.solvers.api import (
        entropy_balance_penalty as _ebp,
    )

    return _ebp(*args, **kwargs)
