"""Compute kernels: the N-dimensional half of every solver iteration.

A kernel owns the observation matrix X (N×K), initial weights and the
N-dimensional iterate state, and exposes the handful of primitives every
solver needs (SURVEY §1.4): elementwise maps over N, reductions N→K /
N→K×K / N→scalar, and broadcasts K→N.  K-dimensional algebra stays on the
driver (solvers/).

Two implementations with identical semantics:

- :class:`kernels.local.LocalKernel` — dense numpy, used below a size
  threshold and as the parity oracle.
- :class:`kernels.spark.SparkKernel` — packed rows cached as Arrow blobs
  written by Spark's JVM Arrow writer; one pass computes all of an
  iteration's reductions.  The elastic
  and penalty solvers have the same local/distributed pair, and the three
  distributed kernels share one blob plane (:mod:`kernels.blob_plane`).

Every reduction a solver reads comes back as a stats dataclass of
:mod:`kernels.base`, whose fields each declare how they reduce (a sum, a
K-vector, the Gram, a min, a max or a NaN count).  That declaration is
the distributed payload's one layout: each distributed pass is a
per-batch function returning its fields' contributions, run by one pass
runner and one accumulator (``kernels.spark.reduce_pass``), and
``kernels.base.unpack`` reads the reduced payload back.
"""
