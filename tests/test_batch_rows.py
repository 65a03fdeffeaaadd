"""Batch rows of the distributed kernels (kernels/spark.py).

A pass reads each record batch once as one value: an idx-elided batch is
the dense ``(n, k)`` view of its ``val`` buffer (``DenseRows``), any other
batch is CSR (``CsrRows``).  Both must give the same X·λ, Xᵀu and Gram for
the same rows, and the CSR row sums must be each row's own exact-as-can-be
sum, empty rows included.
"""

from __future__ import annotations

import math

import numpy as np
import pyarrow as pa
import pytest

from entropy_balance_weighting_spark.kernels import spark as ks
from entropy_balance_weighting_spark.kernels.blob_plane import DENSE_IDX_META


def _batches(v: np.ndarray) -> tuple[pa.RecordBatch, pa.RecordBatch]:
    """The same rows as a CSR batch (with ``idx``) and as the encode's
    idx-elided batch."""
    n, k = v.shape
    cols = [
        pa.array(np.arange(n), type=pa.int64()),
        pa.array(np.ones(n), type=pa.float64()),
        pa.array([list(range(k))] * n, type=pa.list_(pa.int32())),
        pa.array(v.tolist(), type=pa.list_(pa.float64())),
    ]
    csr = pa.RecordBatch.from_arrays(cols, ["row_id", "w0", "idx", "val"])
    dense = csr.drop_columns(["idx"]).replace_schema_metadata(
        {DENSE_IDX_META: str(k).encode()}
    )
    return csr, dense


def _rel(a, b) -> float:
    return float(np.max(np.abs(a - b)) / np.max(np.abs(b)))


def test_dense_and_csr_rows_agree(monkeypatch):
    # a chunk smaller than the batch, so the Gram spans several chunks
    # and a partial last one
    monkeypatch.setattr(ks, "_GRAM_CHUNK_CELLS", 12 * 256)
    n, k = 1000, 12
    assert ks._gram_chunk(k) < n
    rng = np.random.default_rng(11)
    v = rng.uniform(-1.0, 2.0, size=(n, k))
    lam = rng.normal(size=k)
    u = rng.uniform(0.1, 3.0, size=n)
    csr_rb, dense_rb = _batches(v)
    csr, dense = ks._flatten_rb(csr_rb), ks._flatten_rb(dense_rb)
    assert isinstance(csr, ks.CsrRows) and isinstance(dense, ks.DenseRows)

    assert _rel(dense.dot(lam), csr.dot(lam)) <= 1e-12
    assert _rel(dense.tdot(u, k), csr.tdot(u, k)) <= 1e-12
    want = v.T @ (v * u[:, None])
    grams = []
    for x in (dense, csr):
        out = np.zeros((k, k))
        x.gram(u, k, out)
        assert _rel(out, want) <= 1e-12
        grams.append(out)
    assert _rel(grams[0], grams[1]) <= 1e-12
    # the block accumulator reads any batch as CSR
    for x in (dense, csr):
        fi, fv, lens = x.csr()
        np.testing.assert_array_equal(lens, np.full(n, k))
        np.testing.assert_array_equal(fi, np.tile(np.arange(k), n))
        np.testing.assert_array_equal(fv, v.ravel())


def test_elided_batch_is_a_view_of_the_val_buffer():
    v = np.arange(12.0).reshape(4, 3)
    _, dense_rb = _batches(v)
    x = ks._flatten_rb(dense_rb)
    assert isinstance(x, ks.DenseRows)
    assert x.v.shape == (4, 3) and not x.v.flags.owndata
    np.testing.assert_array_equal(x.v, v)
    # an empty batch is a (0, k) matrix: its products are empty or zero
    empty = ks._flatten_rb(dense_rb.slice(0, 0))
    assert empty.dot(np.ones(3)).shape == (0,)
    np.testing.assert_array_equal(empty.tdot(np.zeros(0), 3), np.zeros(3))


def test_elided_batch_of_the_wrong_width_fails_loudly():
    _, dense_rb = _batches(np.ones((4, 3)))
    bad = dense_rb.replace_schema_metadata({DENSE_IDX_META: b"4"})
    with pytest.raises(ValueError, match="idx-elided batch"):
        ks._flatten_rb(bad)


def test_segsum_matches_fsum_with_empty_rows():
    rng = np.random.default_rng(5)
    lens = rng.integers(0, 6, size=400)
    lens[[0, 1, 200, 201, 202, 398, 399]] = 0  # start, middle, end
    # wide magnitudes with cancellation: a batch-wide running sum loses
    # the small rows' digits, a per-row sum does not
    prod = rng.normal(size=int(lens.sum())) * 10.0 ** rng.integers(
        -6, 7, size=int(lens.sum())
    )
    got = ks._segsum(prod, lens)
    ends = np.cumsum(lens)
    for i, (e, m) in enumerate(zip(ends, lens)):
        terms = prod[e - m : e]
        want = math.fsum(terms)
        tol = 4 * np.finfo(float).eps * float(np.sum(np.abs(terms)))
        assert abs(got[i] - want) <= tol, i
    assert np.all(got[lens == 0] == 0.0)
    np.testing.assert_array_equal(
        ks._segsum(np.zeros(0), np.zeros(3, dtype=np.int64)), np.zeros(3)
    )
