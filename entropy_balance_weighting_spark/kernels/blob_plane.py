"""Blob plane shared by the three distributed kernels (Newton, elastic,
penalty): how packed rows become cached Arrow blobs, how passes read them
back, and how pass payloads and weights leave them.

- **encode** — runs on the JVM: Spark's own Arrow writer
  (``Dataset.toArrowBatchRdd``) turns the packed DataFrame into one IPC
  record-batch message per Arrow batch, cached as a raw-bytes RDD
  (:func:`encode`).  No Python worker, Row pickling or shuffle touches the
  base; the partitioning is the packed plan's own (the data layer's
  ``_spread_width`` is the one small-input sizing rule).  A dense
  ``[0..k)`` idx column is dropped when the plan proves it
  (:func:`dense_idx`).
- **decode** — a base element decodes against the Arrow schema the kernel
  keeps from its packed DataFrame; Python-written state and commit blobs
  are self-describing IPC streams (:func:`batches`).
- **cache** — ``MEMORY_AND_DISK`` everywhere; Python-written blob RDDs
  share the batch-size-1 serializer (:data:`BLOB_SER`) so they ``zip``
  with the raw-bytes base as they are (:func:`persist`).
- **split state** — every kernel caches the immutable base once
  (:func:`encode_base`, which also carries a warm start's guess) and
  never rewrites it.  Mutable state lives in a small state RDD derived
  from the base element for element, read as ``base.zip(state)``
  (:func:`split_state` for elastic and penalty; Newton's compacted
  ``wstar``).  :func:`reduce_state` and :func:`commit_state` are the
  Newton and penalty kernels' shared bookkeeping.
- **passes** — a reduce pass yields one ``(sums, mins)`` float64 payload
  per partition; :func:`reduce` runs it and reduces the payloads
  (:func:`reduce_payload`).  A payload is laid out by the stats
  dataclass the pass returns (``kernels.base.layout``): one accumulator
  builds it on the executor from a per-batch function
  (``kernels.spark.reduce_pass``) and ``kernels.base.unpack`` rebuilds
  the dataclass on the driver.  A commit pass
  re-caches the state columns it yields as new blobs (:func:`transform`
  + :func:`commit`), truncating lineage every :data:`CKPT_EVERY` commits.
- **validation** — the V1 bad-input check rides a kernel's first pass:
  ``reduce(..., validate=True)`` counts bad ``val`` rows and bad ``w0``
  weights in the batches that pass reads and raises the V1 error
  (:func:`count_bad_entries`, :func:`raise_if_bad`), so it costs no job
  of its own.
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
from py4j.protocol import Py4JError, Py4JJavaError
from pyspark import RDD, StorageLevel
from pyspark.serializers import (
    BatchedSerializer,
    CPickleSerializer,
    NoOpSerializer,
)
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema

BASE_NAMES = ["row_id", "w0", "idx", "val"]

# Dense-idx elision: when every row's idx is [0..k), the idx list column is
# pure redundancy — k·4 B/row plus offsets (36 of a k=8 base row's 120 B),
# paid on every crossing and in the cache.  The encode drops the column and
# stamps k in the decode schema's metadata; the kernels' ``_flatten_rb``
# then reads the batch's ``val`` buffer as a dense (n, k) matrix, and every
# product is a BLAS call.
DENSE_IDX_META = b"ebw_dense_k"

# Shared serializer of every Python-written blob RDD.  ``RDD.zip`` (the
# split-state base↔state align) silently re-pickles BOTH sides per job when
# batch sizes differ (pyspark/core/rdd.py, ``zip``; measured 3.6× slower
# passes); the raw-bytes base counts as batch size 1, so this must be 1 too.
BLOB_SER = BatchedSerializer(CPickleSerializer(), 1)

CKPT_EVERY = 8  # commits between lineage truncations

BOUNDS_ERROR = "bounds must strictly contain the initial ratio guess"

# the warm-start ratio column of a split-state base (named apart from the
# state's own ``ratio`` so the zipped batch has one column of each name)
GUESS = "ratio_guess"

# ``private[sql]`` on Spark's classic Dataset; Scala compiles it public, so
# py4j reaches it.  Resolved in one place (:func:`_arrow_batch_rdd`).
_ARROW_WRITER = "toArrowBatchRdd"


# -- encode / decode ---------------------------------------------------------
def _arrow_batch_rdd(df: DataFrame):
    """JavaRDD of ``df``'s Arrow IPC record-batch messages, written by the
    JVM; raises ``blob_encode_unavailable`` when this Spark build lacks the
    writer (there is no Python-encode fallback)."""
    try:
        return getattr(df._jdf, _ARROW_WRITER)().toJavaRDD()
    except (AttributeError, Py4JError) as exc:
        if isinstance(exc, Py4JJavaError):
            raise
        raise RuntimeError(
            f"blob_encode_unavailable: Spark {df.sparkSession.version} has "
            f"no JVM Dataset.{_ARROW_WRITER}, which the blob encode needs "
            f"({type(exc).__name__}: {exc})"
        ) from exc


def dense_idx(df: DataFrame, k: int) -> bool:
    """Whether the optimized plan proves every row's ``idx`` is ``[0..k)``:
    the column folds to that literal array (the data layer's static moment
    ids).  Anything else — ids from a join, an aggregate or a per-row
    expression, or a plan shape this check does not read — keeps the
    column, which costs bytes, never correctness."""
    if k <= 0:
        return False
    try:
        plan = df.select("idx")._jdf.queryExecution().optimizedPlan()
        if plan.nodeName() != "Project":
            return False
        expr = plan.expressions().head()
        if expr.nodeName() == "Alias":
            expr = expr.child()
        if not expr.foldable():
            return False
        ids = expr.eval(None).toIntArray()
    except Py4JError:
        return False
    return list(ids) == list(range(k))


def encode(df: DataFrame, k: int, dense: bool) -> tuple[RDD, pa.Schema]:
    """Lazily cached blob RDD of ``df`` — one JVM-written Arrow record-batch
    message per batch — and the schema its elements decode against.
    ``dense`` (from :func:`dense_idx`) drops ``idx`` and stamps
    :data:`DENSE_IDX_META`.  The first job that reads the cache runs the
    source scan, the encode and that job's own work in one pass."""
    if dense:
        df = df.drop("idx")
    schema = to_arrow_schema(df.schema)
    if dense:
        schema = schema.with_metadata({DENSE_IDX_META: str(k).encode()})
    rdd = RDD(_arrow_batch_rdd(df), df.sparkSession.sparkContext, NoOpSerializer())
    return persist(rdd), schema


def ipc_ser(rb: pa.RecordBatch) -> bytes:
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, rb.schema) as w:
        w.write_batch(rb)
    return sink.getvalue().to_pybytes()


def ipc_deser(b) -> pa.RecordBatch:
    return pa.ipc.open_stream(pa.py_buffer(b)).read_next_batch()


def decode(blob, schema: pa.Schema) -> pa.RecordBatch:
    """One blob → one RecordBatch, zero-copy.  A Python-written blob is an
    IPC stream (it opens with a schema message); a JVM-written base
    element is a bare record-batch message, decoded against ``schema``."""
    msg = pa.ipc.read_message(pa.py_buffer(blob))
    if msg.type == "schema":
        return ipc_deser(blob)
    rb = pa.ipc.read_record_batch(msg, schema)
    return rb.replace_schema_metadata(schema.metadata)


def _combine(base_blob, state_blob, schema: pa.Schema) -> pa.RecordBatch:
    """One zip pair → one RecordBatch, zero-copy (same buffers).  The
    combined schema keeps the BASE's metadata: a dense-elided base has no
    idx column, and the stamp that marks it dense must survive."""
    b = decode(base_blob, schema)
    s = decode(state_blob, schema)
    fields = [
        *(b.schema.field(i) for i in range(b.num_columns)),
        *(s.schema.field(i) for i in range(s.num_columns)),
    ]
    return pa.RecordBatch.from_arrays(
        list(b.columns) + list(s.columns),
        schema=pa.schema(fields, metadata=b.schema.metadata),
    )


def batches(elements, schema: pa.Schema) -> Iterator[pa.RecordBatch]:
    """Record batches of a blob RDD partition; ``schema`` decodes the
    JVM-written base elements.  An element is a blob, or a ``(base,
    state)`` zip pair whose state side is a blob or the elastic fused
    commit+stats cache's ``(state, sums, mins)`` tuple."""
    for e in elements:
        if isinstance(e, tuple):
            base, state = e
            if isinstance(state, tuple):
                state = state[0]
            yield _combine(base, state, schema)
        else:
            yield decode(e, schema)


# -- cache -------------------------------------------------------------------
def persist(rdd):
    """Cache a blob RDD (lazy: the next job that reads it materializes
    it).  The JVM-encoded base is cached as raw bytes; a Python-written
    RDD takes the shared :data:`BLOB_SER`."""
    if not isinstance(rdd._jrdd_deserializer, NoOpSerializer):
        rdd = rdd._reserialize(BLOB_SER)
    return rdd.persist(StorageLevel.MEMORY_AND_DISK)


def _inside(ratio: np.ndarray, bounds) -> bool:
    if bounds is None:
        return True
    lb, ub = bounds
    return not (
        (ratio - lb <= 0).any() or (ub is not None and (ub - ratio <= 0).any())
    )


def encode_base(
    df: DataFrame, k: int, ratio_guess: DataFrame | None = None
) -> tuple[RDD, pa.Schema]:
    """The immutable base of a kernel (:func:`encode` of the
    :data:`BASE_NAMES` columns) and its decode schema.  A warm start's
    per-row ``ratio_guess`` rides along as the :data:`GUESS` column (1.0
    for rows the guess lacks); the dense-id decision is taken before that
    join."""
    dense = dense_idx(df, k)
    cols = list(BASE_NAMES)
    if ratio_guess is not None:
        df = df.join(
            ratio_guess.select("row_id", F.col("ratio").alias(GUESS)),
            "row_id",
            "left",
        ).withColumn(GUESS, F.coalesce(GUESS, F.lit(1.0)))
        cols.append(GUESS)
    return encode(df.select(*cols), k, dense)


def split_state(
    df: DataFrame,
    k: int,
    state_of: Callable[[np.ndarray], pa.RecordBatch],
    *,
    bounds: tuple[float, float | None] | None = None,
    ratio_guess: DataFrame | None = None,
):
    """``(base, state, schema)`` for a stateful kernel: the JVM-encoded
    base (:func:`encode_base`), a state blob RDD derived from it element
    for element (so every pass reads ``base.zip(state)``), and the base's
    decode schema.  ``state_of`` renders the state batch for a start-ratio
    vector; the start ratio must lie strictly inside ``bounds = (lb, ub |
    None)`` when given.

    Cold start (constant ratio 1.0): the bounds check is a driver-side
    scalar test and nothing runs here — the kernel's first pass
    materializes BOTH caches in one source scan.  Warm start (per-row
    ``ratio_guess``): the state pass derives the state from the base's
    :data:`GUESS` column with the per-row bounds check, and the state
    cache is counted here (which materializes the base too) so a bounds
    violation surfaces at construction."""
    if ratio_guess is None and not _inside(np.ones(1), bounds):
        raise ValueError(BOUNDS_ERROR)
    base, schema = encode_base(df, k, ratio_guess)

    def init_state(blobs):
        for rb in batches(blobs, schema):
            i = rb.schema.get_field_index(GUESS)
            if i < 0:
                ratio = np.ones(rb.num_rows)
            else:
                ratio = rb.column(i).to_numpy(zero_copy_only=False)
                if not _inside(ratio, bounds):
                    raise ValueError(BOUNDS_ERROR)
            yield ipc_ser(state_of(ratio))

    state = persist(base.mapPartitions(init_state, preservesPartitioning=True))
    if ratio_guess is not None:
        try:
            state._jrdd.count()
        except Exception as exc:
            if BOUNDS_ERROR in str(exc):
                raise ValueError(BOUNDS_ERROR) from None
            raise
    return base, state, schema


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


def state_rows(kern):
    """What a pass of a split-state kernel reads: ``base.zip(state)``, or
    the base alone while the kernel holds no state (Newton between
    compactions)."""
    if kern._state is None:
        return kern._base
    return kern._base.zip(kern._state)


def reduce_state(kern, pass_fn: Callable, big: bool = False):
    """A split-state kernel's reduce (the Newton and penalty kernels bind
    it as ``_reduce``): :func:`reduce` over :func:`state_rows`, running the
    kernel's armed V1 check, then releasing the state cache the last
    commit superseded — this reduce read, and so materialized, its
    successor."""
    validate, kern._validate_first_pass = kern._validate_first_pass, False
    sums, mins = reduce(
        state_rows(kern), pass_fn, kern._schema, big, validate=validate
    )
    if kern._prev is not None:
        kern._prev.unpersist()
        kern._prev = None
    return sums, mins


def commit_state(kern, pass_fn: Callable, names) -> None:
    """A split-state kernel's lazy commit (bound as ``_commit``): the
    ``names`` state columns of ``pass_fn`` over :func:`state_rows` become
    the new state cache, materialized by the next reduce in the same scan
    (no job here); the base is never rewritten."""
    kern._prev = kern._state
    kern._state, kern._commits_since_ckpt = commit(
        transform(state_rows(kern), pass_fn, kern._schema, names),
        kern._commits_since_ckpt,
    )


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
def payloads(rdd, pass_fn: Callable, schema: pa.Schema):
    """RDD of the ``(sums, mins)`` payloads ``pass_fn`` yields over each
    partition's record batches."""
    return rdd.mapPartitions(
        lambda it: pass_fn(batches(it, schema)), preservesPartitioning=True
    )


def count_bad_entries(rb: pa.RecordBatch) -> tuple[float, float]:
    """V1 validation counts for one packed batch: rows with any
    non-finite ``val`` entry, and ``w0`` weights that are non-finite or
    ≤ 0 (nulls arrive as NaN through the Arrow conversion, so one
    finiteness check covers null/NaN/±Inf — the reference's V1 predicate
    set, ref: shared.py:105-133)."""
    val = rb.column(rb.schema.get_field_index("val"))
    bad = ~np.isfinite(val.flatten().to_numpy(zero_copy_only=False))
    rows = pc.list_parent_indices(val).to_numpy()
    w0 = rb.column(rb.schema.get_field_index("w0")).to_numpy(
        zero_copy_only=False
    )
    with np.errstate(invalid="ignore"):
        bad_w = np.count_nonzero(~np.isfinite(w0) | (w0 <= 0))
    return float(np.unique(rows[bad]).size), float(bad_w)


def raise_if_bad(bad_x: float, bad_w: float) -> None:
    """The V1 error every distributed kernel's first pass raises."""
    if bad_x or bad_w:
        raise ValueError(
            f"Inputs include invalid values ({int(bad_x)} bad X "
            f"rows, {int(bad_w)} bad weights)"
        )


def reduce(
    rdd, pass_fn: Callable, schema: pa.Schema, big: bool = False,
    *, validate: bool = False,
) -> tuple[np.ndarray, np.ndarray]:
    """Run ``pass_fn`` over ``rdd`` and reduce its payloads
    (:func:`reduce_payload`).

    ``validate`` runs the V1 check in the same pass: each partition counts
    the bad entries of the batches it reads (:func:`count_bad_entries`)
    and appends the two counts to its payload; the counts are stripped
    after the reduce and :func:`raise_if_bad` raises before anything is
    returned.  A kernel arms this for its first pass, the one that also
    materializes its blob caches."""
    if not validate:
        return reduce_payload(payloads(rdd, pass_fn, schema), big)

    def checked(it):
        bad = np.zeros(2)

        def counted():
            for rb in batches(it, schema):
                bad[:] += count_bad_entries(rb)
                yield rb

        for sums, mins in pass_fn(counted()):
            yield sums + bad.tobytes(), mins

    sums, mins = reduce_payload(
        rdd.mapPartitions(checked, preservesPartitioning=True), big
    )
    raise_if_bad(sums[-2], sums[-1])
    return sums[:-2], mins


def transform(rdd, pass_fn: Callable, schema: pa.Schema, names):
    """Blob RDD of the ``names`` columns of the batches ``pass_fn`` yields
    (uncached) — a commit re-encodes the mutable state, never the
    immutable base."""

    def fn(it):
        for rb in pass_fn(batches(it, schema)):
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
    spark,
    rdd,
    schema: pa.Schema,
    weight_of: Callable[[pa.RecordBatch], np.ndarray],
) -> DataFrame:
    """``(row_id, new_weight)`` DataFrame, Arrow end to end: each batch's
    weights (``weight_of``) cross the RDD→DataFrame seam as one binary row,
    then ``mapInArrow`` explodes them JVM-side."""

    def to_payload(it):
        for rb in batches(it, schema):
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
