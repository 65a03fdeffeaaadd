"""Blob-plane encode/decode contracts (kernels/blob_plane.py).

The pure-pyarrow tests build dense-elided batches by hand and check that
the elision stamp survives the zip and commit batch rebuilds.  The Spark
tests check that the JVM-encoded base cache decodes to exactly the packed
rows, that the plan-time elision fires only for provably dense ids, and
that a Spark build without the JVM Arrow writer fails with a named error.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest

from entropy_balance_weighting_spark.kernels import blob_plane
from entropy_balance_weighting_spark.kernels.blob_plane import (
    DENSE_IDX_META,
    GUESS,
    batches,
    ipc_ser,
)
from entropy_balance_weighting_spark.kernels.spark import (
    _compact_pass,
    _flatten_rb,
    _rb_col,
    _rb_q,
    _w_state,
)


def _packed_rb(idx_rows, val_rows, w0=None):
    n = len(idx_rows)
    return pa.RecordBatch.from_arrays(
        [
            pa.array(np.arange(n), type=pa.int64()),
            pa.array(
                w0 if w0 is not None else np.linspace(1.0, 2.0, n),
                type=pa.float64(),
            ),
            pa.array(idx_rows, type=pa.list_(pa.int32())),
            pa.array(val_rows, type=pa.list_(pa.float64())),
        ],
        ["row_id", "w0", "idx", "val"],
    )


def _elided_rb(k, val_rows, w0=None):
    """A dense-elided base batch as the encode produces it: no idx column,
    k stamped in the schema metadata."""
    rb = _packed_rb([list(range(k))] * len(val_rows), val_rows, w0)
    rb = rb.drop_columns(["idx"])
    return rb.replace_schema_metadata({DENSE_IDX_META: str(k).encode()})


def test_rb_q_recomputes_from_w0():
    rb = _packed_rb([[0]], [[1.0]], w0=np.array([3.0]))
    np.testing.assert_allclose(_rb_q(rb, 6.0), [0.5])


def test_zip_combined_preserves_elision_metadata():
    k, n = 4, 3
    base = _elided_rb(k, [[1.0] * k] * n)
    state = pa.RecordBatch.from_arrays(
        [pa.array(np.ones(n), type=pa.float64())], ["ratio"]
    )
    # the base side is a bare record-batch message, as the JVM writes it
    (combined,) = list(
        batches(
            [(base.serialize().to_pybytes(), ipc_ser(state))],
            base.schema,
        )
    )
    assert combined.schema.metadata[DENSE_IDX_META] == str(k).encode()
    fi, fv, lens = _flatten_rb(combined).csr()
    np.testing.assert_array_equal(lens, [k] * n)
    np.testing.assert_array_equal(fi[:k], np.arange(k))
    assert combined.schema.get_field_index("ratio") >= 0


def test_compaction_blob_zips_with_elided_base_bit_for_bit():
    """A Newton compaction writes only ``wstar``, one batch per base batch
    (empty ones included, so the zip stays aligned).  Zipped with a
    dense-elided base the stamp survives, and the state replays the
    program bit for bit, also when the chain goes on after it."""
    k, n = 3, 4
    rng = np.random.default_rng(0)
    base = _elided_rb(
        k, rng.uniform(size=(n, k)).tolist(), w0=rng.uniform(1.0, 2.0, n)
    )
    empty = base.slice(0, 0)
    sum_w0 = 7.5

    def lin(alpha, s):
        return ("lin", alpha, np.full(k, s), np.linspace(-s, s, k))

    prog = [("exp", np.full(k, 0.1)), lin(1.0, 0.2), lin(0.5, 0.3)]
    out = list(_compact_pass(prog, sum_w0)(iter([base, empty])))
    assert [rb.schema.names for rb in out] == [["wstar"], ["wstar"]]
    assert [rb.num_rows for rb in out] == [n, 0]
    (combined, _) = batches(
        [
            (b.serialize().to_pybytes(), ipc_ser(s))
            for b, s in zip([base, empty], out)
        ],
        base.schema,
    )
    assert combined.schema.metadata[DENSE_IDX_META] == str(k).encode()

    def replay(rb, wprog):
        return _w_state(rb, _rb_q(rb, sum_w0), _flatten_rb(rb), wprog)

    np.testing.assert_array_equal(
        _rb_col(combined, "wstar"), replay(base, prog)
    )
    np.testing.assert_array_equal(
        replay(combined, [("state",), lin(1.0, 0.4)]),
        replay(base, [*prog, lin(1.0, 0.4)]),
    )


# -- JVM encode round trip -----------------------------------------------------
def _decoded_rows(rdd, schema):
    """(row_id, w0, idx, val) of every row a blob cache decodes to."""
    rows = []
    for rb in batches(rdd.collect(), schema):
        flat_idx, flat_val, lens = _flatten_rb(rb).csr()
        ends = np.cumsum(lens)
        for i, (rid, w) in enumerate(
            zip(
                rb.column(rb.schema.get_field_index("row_id")).to_pylist(),
                rb.column(rb.schema.get_field_index("w0")).to_pylist(),
            )
        ):
            lo = ends[i] - lens[i]
            rows.append(
                (
                    rid,
                    w,
                    tuple(int(j) for j in flat_idx[lo : ends[i]]),
                    tuple(float(v) for v in flat_val[lo : ends[i]]),
                )
            )
    return sorted(rows)


def _packed_rows(df):
    return sorted(
        (r["row_id"], r["w0"], tuple(r["idx"]), tuple(r["val"]))
        for r in df.collect()
    )


def _static_packed(spark, ids, n=300):
    from pyspark.sql import functions as F

    return spark.range(n, numPartitions=3).select(
        F.col("id").alias("row_id"),
        (F.col("id") % 7 + 0.5).alias("w0"),
        F.array(*[F.lit(j).cast("int") for j in ids]).alias("idx"),
        F.array(
            *[(F.col("id") * (j + 1) % 11).cast("double") for j in ids]
        ).alias("val"),
    )


def test_jvm_encode_roundtrip_dense_static_ids_elided(spark):
    from entropy_balance_weighting_spark.kernels.spark import SparkKernel

    k = 8
    packed = _static_packed(spark, range(k))
    assert blob_plane.dense_idx(packed, k)
    kern = SparkKernel.from_problem(None, None, k, prepacked=packed)
    try:
        assert kern._schema.get_field_index("idx") == -1
        assert kern._schema.metadata[DENSE_IDX_META] == str(k).encode()
        assert _decoded_rows(kern._base, kern._schema) == _packed_rows(packed)
    finally:
        kern.cleanup()


def test_jvm_encode_roundtrip_non_dense_static_ids_kept(spark):
    from entropy_balance_weighting_spark.kernels.spark import SparkKernel

    ids = [1, 2, 3, 4, 5, 6, 7, 0]
    k = len(ids)
    packed = _static_packed(spark, ids)
    assert not blob_plane.dense_idx(packed, k)
    kern = SparkKernel.from_problem(None, None, k, prepacked=packed)
    try:
        assert kern._schema.get_field_index("idx") >= 0
        assert DENSE_IDX_META not in (kern._schema.metadata or {})
        assert _decoded_rows(kern._base, kern._schema) == _packed_rows(packed)
    finally:
        kern.cleanup()


def test_static_spec_with_intercept_packs_ids_in_id_order(spark):
    """The scored Newton shape (numeric columns plus an intercept, no
    combos): ``_count`` sorts first, so the data layer emits its entries
    in id order and ``idx`` folds to ``[0..k)``.  The base drops ``idx``,
    every batch reads as a dense matrix, and it decodes to the packed
    rows with each value under its own moment."""
    import pandas as pd

    from entropy_balance_weighting_spark.kernels.spark import (
        DenseRows,
        SparkKernel,
    )
    from entropy_balance_weighting_spark.plans import (
        MomentSpec,
        build_problem_tables,
    )

    rng = np.random.default_rng(7)
    n = 200
    pdf = pd.DataFrame(
        {
            "w": rng.uniform(0.5, 2.0, n),
            "c1": rng.uniform(size=n),
            "c2": rng.uniform(size=n),
            "c3": rng.uniform(size=n),
        }
    )
    pt = build_problem_tables(
        spark.createDataFrame(pdf).repartition(2),
        MomentSpec(weight_col="w", numeric=("c1", "c2", "c3"), intercept=True),
    )
    assert pt.moment_names == ["_count", "c1", "c2", "c3"]
    assert blob_plane.dense_idx(pt.packed_arrays, pt.k)
    kern = SparkKernel.from_problem(
        None, None, pt.k, prepacked=pt.packed_arrays
    )
    try:
        assert kern._schema.get_field_index("idx") == -1
        assert kern._schema.metadata[DENSE_IDX_META] == str(pt.k).encode()
        assert all(
            isinstance(_flatten_rb(rb), DenseRows)
            for rb in batches(kern._base.collect(), kern._schema)
        )
        rows = _decoded_rows(kern._base, kern._schema)
        assert rows == _packed_rows(pt.packed_arrays)
        assert {r[2] for r in rows} == {(0, 1, 2, 3)}
        assert sorted(r[3] for r in rows) == sorted(
            (1.0, *t) for t in pdf[["c1", "c2", "c3"]].itertuples(index=False)
        )
    finally:
        kern.cleanup()


def test_jvm_encode_roundtrip_grouped_and_generic_paths(spark):
    import pandas as pd

    from entropy_balance_weighting_spark.kernels.elastic_spark import (
        ElasticSparkKernel,
    )
    from entropy_balance_weighting_spark.kernels.spark import (
        SparkKernel,
        pack_rows,
    )
    from entropy_balance_weighting_spark.plans import (
        MomentSpec,
        build_problem_tables,
    )

    rng = np.random.default_rng(3)
    n = 240
    pdf = pd.DataFrame(
        {
            "rid": np.arange(n),
            "w": rng.uniform(0.5, 2.0, n),
            "x0": rng.uniform(size=n),
            "g": rng.choice(["a", "b", "c"], n),
        }
    )
    src = spark.createDataFrame(pdf).repartition(3)
    # grouped: ids come from the broadcast combo table, never elided
    pt = build_problem_tables(
        src,
        MomentSpec(
            weight_col="w", numeric=("x0",), group=("g",), row_key=("rid",)
        ),
    )
    assert not blob_plane.dense_idx(pt.packed_arrays, pt.k)
    kern = ElasticSparkKernel.from_problem(
        None, None, pt.k, bounds=(0.2, 5.0), prepacked=pt.packed_arrays,
        moment_groups=pt.moment_groups,
    )
    try:
        assert kern._schema.get_field_index("idx") >= 0
        assert _decoded_rows(kern._base, kern._schema) == _packed_rows(
            pt.packed_arrays
        )
    finally:
        kern.cleanup()
    # generic x_long path (explode + groupBy): dense in fact, but the plan
    # cannot prove it, so idx is kept
    pt = build_problem_tables(
        src, MomentSpec(weight_col="w", numeric=("x0",), row_key=("rid",))
    )
    generic, _, _ = pack_rows(pt.x_long, pt.w0)
    kern = SparkKernel.from_problem(pt.x_long, pt.w0, pt.k)
    try:
        assert kern._schema.get_field_index("idx") >= 0
        assert _decoded_rows(kern._base, kern._schema) == _packed_rows(generic)
    finally:
        kern.cleanup()


def test_missing_jvm_arrow_writer_fails_loudly(spark, monkeypatch):
    """No Python-encode fallback: a Spark build without the JVM writer
    raises the named error, with the Spark version in it."""
    from entropy_balance_weighting_spark.kernels.spark import SparkKernel

    monkeypatch.setattr(blob_plane, "_ARROW_WRITER", "noSuchArrowWriter")
    with pytest.raises(RuntimeError, match="blob_encode_unavailable") as info:
        SparkKernel.from_problem(
            None, None, 2, prepacked=_static_packed(spark, range(2), n=10)
        )
    assert spark.version in str(info.value)


def test_warm_start_encodes_start_state(spark):
    """Warm starts ride the same JVM encode (``blob_plane.encode_base``):
    the base carries the guess column, Newton's program renders the start
    state ``q · ratio`` with the same bits as ``(w0 / Σw0) · ratio``, and
    a split-state kernel derives its state ratio from the guess column
    (rows missing from the guess start at 1.0); the dense-id decision is
    taken before the join."""
    from pyspark.sql import functions as F

    from entropy_balance_weighting_spark.kernels.elastic_spark import (
        ElasticSparkKernel,
    )
    from entropy_balance_weighting_spark.kernels.spark import SparkKernel

    k, n = 3, 120
    packed = _static_packed(spark, range(k), n=n)
    guess = packed.filter(F.col("row_id") % 5 != 0).select(
        "row_id", (1.0 + (F.col("row_id") % 4) / 8.0).alias("ratio")
    )
    want = {r["row_id"]: r["ratio"] for r in guess.collect()}
    ratio_of = lambda rid: want.get(rid, 1.0)  # noqa: E731

    kern = SparkKernel.from_problem(
        None, None, k, prepacked=packed, ratio_guess=guess
    )
    try:
        assert kern._schema.metadata[DENSE_IDX_META] == str(k).encode()
        assert kern._wprog == [("guess",)]
        seen = 0
        for rb in batches(kern._base.collect(), kern._schema):
            rid, w0 = _rb_col(rb, "row_id"), _rb_col(rb, "w0")
            ratio = np.array([ratio_of(r) for r in rid])
            np.testing.assert_array_equal(_rb_col(rb, GUESS), ratio)
            wstar = _w_state(
                rb, _rb_q(rb, kern.sum_w0), _flatten_rb(rb), kern._wprog
            )
            np.testing.assert_array_equal(wstar, (w0 / kern.sum_w0) * ratio)
            seen += rb.num_rows
        assert seen == n
    finally:
        kern.cleanup()

    kern = ElasticSparkKernel.from_problem(
        None, None, k, bounds=(0.2, 5.0), prepacked=packed, ratio_guess=guess
    )
    try:
        pairs = kern._base.zip(kern._state).collect()
        got = {}
        for rb in batches(pairs, kern._schema):
            got.update(zip(_rb_col(rb, "row_id"), _rb_col(rb, "ratio")))
        assert got == {rid: ratio_of(rid) for rid in range(n)}
    finally:
        kern.cleanup()
