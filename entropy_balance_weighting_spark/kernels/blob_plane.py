"""Blob plane shared by the three distributed kernels (Newton, elastic,
penalty): how packed rows become cached Arrow IPC blobs, how passes read
them back, and how pass payloads and weights leave them.

- **encode / decode** — one IPC stream blob per Arrow record batch; a
  dense ``[0..k)`` idx pattern is elided per batch (:func:`maybe_elide_idx`).
- **cache** — every cached blob RDD carries the same batch-size-1
  serializer (:data:`BLOB_SER`) and ``MEMORY_AND_DISK`` (:func:`persist`);
  small problems coalesce to few partitions once, at encode
  (:func:`adaptive_blob_partitions`).
- **split state** — the stateful kernels (elastic, penalty) cache an
  immutable base RDD and a small mutable state RDD, aligned element for
  element and read as ``base.zip(state)`` (:func:`split_state`).
- **passes** — :func:`batches` turns blob or zip-pair elements into record
  batches; a pass yields one ``(sums, mins)`` payload per partition
  (:func:`pack_payload`), reduced by :func:`reduce_payload`; a commit pass
  re-caches its output as new blobs (:func:`transform` + :func:`commit`),
  truncating lineage every :data:`CKPT_EVERY` commits.
- **render** — ``(row_id, new_weight)`` as a DataFrame (:func:`weights_df`).

Why blobs: a ``mapInArrow`` scan over a cached DataFrame re-encodes the
Tungsten columnar cache into Arrow on every pass (10.2 s/pass at N=20M
K=8), while a cached pre-encoded blob opens zero-copy in the Python worker
(1.6 s for the same math, PLANS.md §11).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark import StorageLevel
from pyspark.serializers import BatchedSerializer, CPickleSerializer
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

BASE_NAMES = ["row_id", "w0", "idx", "val"]

# Dense-idx elision: when every row of a batch has idx == [0..k), the idx
# list column is pure redundancy — k·4 B/row (a quarter of a k=8 blob)
# paid on every crossing and in the cache.  The encode drops the column
# and stamps k in the schema metadata; the kernels' ``_flatten_rb``
# resynthesizes the flat index vector (np.tile) for one allocation per pass.
DENSE_IDX_META = b"ebw_dense_k"

# Identical batched serializer on every cached blob RDD: ``RDD.zip`` (the
# split-state base↔state align) silently re-pickles BOTH sides per job when
# batch sizes differ (pyspark/core/rdd.py, ``zip``; measured 3.6× slower
# passes).  Batch size 1 is right regardless — each element is already a
# multi-MB Arrow IPC blob.
BLOB_SER = BatchedSerializer(CPickleSerializer(), 1)

CKPT_EVERY = 8  # commits between lineage truncations

BOUNDS_ERROR = "bounds must strictly contain the initial ratio guess"

# Scale-adaptive blob partitioning (r13, guide §2.2 "fewer, larger
# partitions"): an iteration pass's per-task numpy work on a ~19k-row blob
# is sub-millisecond, so at small N the per-task fixed cost (scheduling +
# Python-worker round trip) dominates every pass — measured 276 ms/job at
# 32 partitions vs 162 ms at 4 for identical work.  Encoding therefore
# coalesces the finished blobs down to ceil(N / rows-per-partition)
# partitions (shuffle=True so the ENCODE still runs at full input
# parallelism and only the blobs move, once, at setup).  At real scale
# N/rows_target >> defaultParallelism and the coalesce never fires.
_BLOB_ROWS_PER_PARTITION_CONF = "spark.ebw.blobRowsPerPartition"
_BLOB_ROWS_PER_PARTITION_DEFAULT = 150_000


# -- encode / decode ---------------------------------------------------------
def maybe_elide_idx(rb: pa.RecordBatch, k: int) -> pa.RecordBatch:
    """Drop the ``idx`` column from a packed batch when it is exactly the
    dense ``[0..k)`` pattern on every row (stamped in schema metadata for
    ``_flatten_rb`` to resynthesize); returns ``rb`` unchanged for any
    other sparsity pattern."""
    i = rb.schema.get_field_index("idx")
    if i < 0 or k <= 0:
        return rb
    idx = rb.column(i)
    lens = pc.list_value_length(idx).to_numpy().astype(np.int64, copy=False)
    if lens.size == 0 or not (lens == k).all():
        return rb
    flat = idx.flatten().to_numpy(zero_copy_only=False)
    if not np.array_equal(
        flat, np.tile(np.arange(k, dtype=flat.dtype), lens.size)
    ):
        return rb
    arrays = [rb.column(j) for j in range(rb.num_columns) if j != i]
    fields = [rb.schema.field(j) for j in range(rb.num_columns) if j != i]
    meta = dict(rb.schema.metadata or {})
    meta[DENSE_IDX_META] = str(k).encode()
    return pa.RecordBatch.from_arrays(
        arrays, schema=pa.schema(fields, metadata=meta)
    )


def ipc_ser(rb: pa.RecordBatch) -> bytes:
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, rb.schema) as w:
        w.write_batch(rb)
    return sink.getvalue().to_pybytes()


def ipc_deser(b: bytes) -> pa.RecordBatch:
    return pa.ipc.open_stream(pa.BufferReader(b)).read_next_batch()


def _combine(base_blob, state_blob) -> pa.RecordBatch:
    """One zip pair → one RecordBatch, zero-copy (same buffers).  The
    combined schema keeps the BASE blob's metadata: a dense-elided base has
    no idx column, and the stamp that resynthesizes it must survive."""
    b = ipc_deser(bytes(base_blob))
    s = ipc_deser(bytes(state_blob))
    fields = [
        *(b.schema.field(i) for i in range(b.num_columns)),
        *(s.schema.field(i) for i in range(s.num_columns)),
    ]
    return pa.RecordBatch.from_arrays(
        list(b.columns) + list(s.columns),
        schema=pa.schema(fields, metadata=b.schema.metadata),
    )


def batches(elements) -> Iterator[pa.RecordBatch]:
    """Record batches of a blob RDD partition.  An element is a blob, or a
    ``(base, state)`` zip pair whose state side is a blob or the elastic
    fused commit+stats cache's ``(state, sums, mins)`` tuple."""
    for e in elements:
        if isinstance(e, tuple):
            base, state = e
            if isinstance(state, tuple):
                state = state[0]
            yield _combine(base, state)
        else:
            yield ipc_deser(bytes(e))


# -- cache -------------------------------------------------------------------
def persist(rdd):
    """Cache a blob RDD with the shared serializer (lazy: the next job
    that reads it materializes it)."""
    return rdd._reserialize(BLOB_SER).persist(StorageLevel.MEMORY_AND_DISK)


def adaptive_blob_partitions(spark, n: int, current: int) -> int | None:
    """Target blob-partition count for an N-row packed problem, or None
    when the current partitioning should stand (large problems, or the
    knob disabled with a non-positive value)."""
    try:
        rows_target = int(
            spark.conf.get(
                _BLOB_ROWS_PER_PARTITION_CONF,
                str(_BLOB_ROWS_PER_PARTITION_DEFAULT),
            )
        )
    except Exception:  # pragma: no cover - conf unavailable
        rows_target = _BLOB_ROWS_PER_PARTITION_DEFAULT
    if rows_target <= 0 or n <= 0:
        return None
    par = max(spark.sparkContext.defaultParallelism, 1)
    p = max(1, -(-n // rows_target))
    if p > par:
        # not a small problem: N already exceeds rows_target per core —
        # moving blobs around would shuffle real data for no pass savings
        return None
    return p if p < current else None


def _coalesce_small(rdd, spark, n: int):
    p = adaptive_blob_partitions(spark, n, rdd.getNumPartitions())
    return rdd if p is None else rdd.coalesce(p, shuffle=True)


def encode(
    df: DataFrame,
    k: int,
    n: int,
    to_rb: Callable[[pa.RecordBatch], pa.RecordBatch] | None = None,
):
    """Lazily cached blob RDD of ``df``: one blob per non-empty Arrow batch
    (optionally reshaped by ``to_rb``), dense idx elided.  The first job
    that reads it runs encode + cache + that job's own work in one scan."""

    def to_blob(it: Iterator[pa.RecordBatch]):
        for rb in it:
            if rb.num_rows:
                out = maybe_elide_idx(to_rb(rb) if to_rb else rb, k)
                yield pa.RecordBatch.from_arrays(
                    [pa.array([ipc_ser(out)], type=pa.binary())], ["payload"]
                )

    rdd = df.mapInArrow(to_blob, "payload binary").rdd.map(lambda r: bytes(r[0]))
    return persist(_coalesce_small(rdd, df.sparkSession, n))


def _inside(ratio: np.ndarray, bounds) -> bool:
    if bounds is None:
        return True
    lb, ub = bounds
    return not (
        (ratio - lb <= 0).any() or (ub is not None and (ub - ratio <= 0).any())
    )


def split_state(
    df: DataFrame,
    k: int,
    n: int,
    state_of: Callable[[np.ndarray], pa.RecordBatch],
    *,
    bounds: tuple[float, float | None] | None = None,
    ratio_guess: DataFrame | None = None,
):
    """``(base, state)`` blob RDDs for a stateful kernel, aligned element
    for element so every pass reads ``base.zip(state)``.  ``state_of``
    renders the state batch for a start-ratio vector; the start ratio must
    lie strictly inside ``bounds = (lb, ub | None)`` when given.

    Cold start (constant ratio 1.0): the bounds check is a driver-side
    scalar test and the state derives from the base cache; nothing runs
    here — the kernel's first pass materializes BOTH caches in one source
    scan.  Warm start (per-row ``ratio_guess``): one Arrow pass renders
    aligned (base, state) blobs with the per-row bounds check riding the
    same scan, and both caches are counted here so a bounds violation
    surfaces at construction."""
    if ratio_guess is None:
        if not _inside(np.ones(1), bounds):
            raise ValueError(BOUNDS_ERROR)
        base = encode(df.select(*BASE_NAMES), k, n)

        def init_state(blobs):
            for b in blobs:
                yield ipc_ser(state_of(np.ones(ipc_deser(bytes(b)).num_rows)))

        return base, persist(
            base.mapPartitions(init_state, preservesPartitioning=True)
        )

    df = df.join(
        ratio_guess.select("row_id", "ratio"), "row_id", "left"
    ).withColumn("ratio", F.coalesce("ratio", F.lit(1.0)))

    def to_pair(it: Iterator[pa.RecordBatch]):
        for rb in it:
            if not rb.num_rows:
                continue
            ratio = rb.column(rb.schema.get_field_index("ratio")).to_numpy(
                zero_copy_only=False
            )
            if not _inside(ratio, bounds):
                raise ValueError(BOUNDS_ERROR)
            base_rb = maybe_elide_idx(
                pa.RecordBatch.from_arrays(
                    [rb.column(rb.schema.get_field_index(c)) for c in BASE_NAMES],
                    BASE_NAMES,
                ),
                k,
            )
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array([ipc_ser(base_rb)], type=pa.binary()),
                    pa.array([ipc_ser(state_of(ratio))], type=pa.binary()),
                ],
                ["base", "state"],
            )

    pairs = (
        df.select(*BASE_NAMES, "ratio")
        .mapInArrow(to_pair, "base binary, state binary")
        .rdd.map(lambda r: (bytes(r[0]), bytes(r[1])))
    )
    pairs = persist(_coalesce_small(pairs, df.sparkSession, n))
    base = persist(pairs.map(lambda t: t[0], preservesPartitioning=True))
    state = persist(pairs.map(lambda t: t[1], preservesPartitioning=True))
    try:
        base.count()
    except Exception as exc:
        if BOUNDS_ERROR in str(exc):
            raise ValueError(BOUNDS_ERROR) from None
        raise
    state.count()  # reads the pair cache, not the source scan
    pairs.unpersist(blocking=True)
    return base, state


def commit(rdd, commits_since_ckpt: int):
    """Cache a commit's new blob RDD (lazy — the next reduce materializes
    it); every :data:`CKPT_EVERY` commits an RDD ``localCheckpoint``
    truncates lineage, so a long solve never grows an unbounded plan.
    Returns the cached RDD and the updated commit counter."""
    rdd = persist(rdd)
    commits_since_ckpt += 1
    if commits_since_ckpt >= CKPT_EVERY:
        rdd.localCheckpoint()
        commits_since_ckpt = 0
    return rdd, commits_since_ckpt


def release(sc, *rdds) -> None:
    """Drop a solve's caches, then nudge the JVM: without a collection
    hint the dead byte[] blocks linger in the old generation and the NEXT
    kernel's encode job pays for them in GC pauses (measured: 2nd pack in
    a session 12 s → 90+ s).  Once per solve teardown."""
    for rdd in rdds:
        if rdd is not None:
            rdd.unpersist(blocking=True)
    try:
        sc._jvm.System.gc()
    except Exception:  # pragma: no cover - JVM gateway already closed
        pass


# -- passes ------------------------------------------------------------------
def pack_payload(sums, mins) -> tuple[bytes, bytes]:
    """A pass's per-partition payload: the concatenated float64 ``sums``
    (scalars and arrays, flattened) and the float64 ``mins``."""
    sbuf = np.concatenate(
        [np.atleast_1d(np.asarray(x, dtype=np.float64)).ravel() for x in sums]
    )
    return sbuf.tobytes(), np.asarray(mins, dtype=np.float64).tobytes()


def payloads(rdd, pass_fn: Callable):
    """RDD of the ``(sums, mins)`` payloads ``pass_fn`` yields over each
    partition's record batches."""
    return rdd.mapPartitions(
        lambda it: pass_fn(batches(it)), preservesPartitioning=True
    )


def transform(rdd, pass_fn: Callable, names=None):
    """Blob RDD of the batches ``pass_fn`` yields (uncached), keeping only
    the ``names`` columns when given — a split-state commit re-encodes the
    mutable state, never the immutable base."""

    def fn(it):
        for rb in pass_fn(batches(it)):
            if names is not None:
                rb = pa.RecordBatch.from_arrays(
                    [rb.column(rb.schema.get_field_index(c)) for c in names],
                    names,
                )
            yield ipc_ser(rb)

    return rdd.mapPartitions(fn, preservesPartitioning=True)


def _merge(a, b):
    sums = np.frombuffer(a[0], dtype=np.float64) + np.frombuffer(
        b[0], dtype=np.float64
    )
    mins = np.minimum(
        np.frombuffer(a[1], dtype=np.float64),
        np.frombuffer(b[1], dtype=np.float64),
    )
    return (sums.tobytes(), mins.tobytes())


def reduce_payload(pairs, big: bool) -> tuple[np.ndarray, np.ndarray]:
    """Sum the ``sums`` and min the ``mins`` of every partition payload.

    Small payloads: plain ``collect`` — one job, no extra stage.  ``big``
    payloads (the dense K² Gram at K ≳ 1000, or partitions × payload past
    the driver's collect budget — ``kernels.spark.reduce_big``) merge
    executor-side with ``treeReduce`` so the driver receives O(tree-fanout)
    blobs; 50 partitions × 32 MB at K=2000 already exceed
    ``spark.driver.maxResultSize``."""
    if big:
        sums_b, mins_b = pairs.treeReduce(_merge)
        return (
            np.frombuffer(sums_b, dtype=np.float64).copy(),
            np.frombuffer(mins_b, dtype=np.float64).copy(),
        )
    rows = pairs.collect()
    if not rows:
        raise ValueError(
            "kernel reduce returned no partition payloads (empty problem?)"
        )
    sums = np.sum([np.frombuffer(s, dtype=np.float64) for s, _ in rows], axis=0)
    mins = np.min([np.frombuffer(m, dtype=np.float64) for _, m in rows], axis=0)
    return sums, mins


# -- render ------------------------------------------------------------------
def _unpack(it: Iterator[pa.RecordBatch]):
    for rb in it:
        for blob in rb.column(0).to_pylist():
            yield ipc_deser(blob)


def weights_df(
    spark, rdd, weight_of: Callable[[pa.RecordBatch], np.ndarray]
) -> DataFrame:
    """``(row_id, new_weight)`` DataFrame, Arrow end to end: each batch's
    weights (``weight_of``) cross the RDD→DataFrame seam as one binary row,
    then ``mapInArrow`` explodes them JVM-side."""

    def to_payload(it):
        for rb in batches(it):
            out = pa.RecordBatch.from_arrays(
                [
                    rb.column(rb.schema.get_field_index("row_id")),
                    pa.array(weight_of(rb), type=pa.float64()),
                ],
                ["row_id", "new_weight"],
            )
            yield (ipc_ser(out),)

    payload = rdd.mapPartitions(to_payload, preservesPartitioning=True)
    return spark.createDataFrame(payload, "payload binary").mapInArrow(
        _unpack, "row_id bigint, new_weight double"
    )
