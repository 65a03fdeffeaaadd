"""Compute kernels: the N-dimensional half of every solver iteration.

A kernel owns the observation matrix X (N×K), initial weights and the
N-dimensional iterate state, and exposes the handful of primitives every
solver needs (SURVEY §1.4): elementwise maps over N, reductions N→K /
N→K×K / N→scalar, and broadcasts K→N.  K-dimensional algebra stays on the
driver (solvers/).

Two implementations with identical semantics:

- :class:`kernels.local.LocalKernel` — dense numpy, used below a size
  threshold and as the parity oracle.
- :class:`kernels.spark.SparkKernel` — packed rows cached as Arrow IPC
  blobs; one pass computes all of an iteration's reductions.  The elastic
  and penalty solvers have the same local/distributed pair, and the three
  distributed kernels share one blob plane (:mod:`kernels.blob_plane`).
"""
