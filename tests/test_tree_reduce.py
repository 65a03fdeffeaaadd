"""The executor-side treeReduce payload path (large-K Gram regime) must
be numerically equivalent to the plain driver-side collect path — same
sums (up to float re-association), same mins — across all three kernels'
pass types."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from entropy_balance_weighting_spark.kernels.spark import (
    SparkKernel,
    _stats_pass,
    blocks_tuple,
)


def _toy_kernel(spark, n=5_000, k=6):
    base = spark.range(0, n, 1, 8).select(
        F.col("id").alias("row_id"),
        (0.5 + F.pmod(F.hash("id"), F.lit(1000)) / 1000.0).alias("w0"),
        F.sequence(F.lit(0), F.lit(k - 1)).alias("idx"),
        F.transform(
            F.sequence(F.lit(0), F.lit(k - 1)),
            lambda j: F.when(j == 0, F.lit(1.0)).otherwise(
                F.pmod(F.hash("id", j), F.lit(1000)) / 1000.0
            ),
        ).alias("val"),
    )
    return SparkKernel.from_problem(None, None, k, prepacked=base)


def test_tree_path_matches_plain_collect(spark):
    kern = _toy_kernel(spark)
    lam = np.linspace(-0.1, 0.1, kern.k)
    fn = lambda: _stats_pass(  # noqa: E731
        kern.k, lam, blocks_tuple(kern.block_structure), kern._wprog, kern.sum_w0
    )
    sums_plain, mins_plain = kern._reduce(fn(), big=False)
    sums_tree, mins_tree = kern._reduce(fn(), big=True)
    assert np.allclose(sums_tree, sums_plain, rtol=1e-12, atol=1e-12)
    assert np.array_equal(mins_tree, mins_plain)
    kern.cleanup()


def test_gram_big_flag_thresholds():
    """The tree path engages exactly for K²·8B payloads past 8 MB (dense)
    and for the flat block payload with block structure."""
    from entropy_balance_weighting_spark.kernels.spark import (
        _TREE_REDUCE_BYTES,
        gram_bytes,
    )
    from entropy_balance_weighting_spark.solvers.linalg import BlockStructure

    assert gram_bytes(1000, None) == 8_000_000 <= _TREE_REDUCE_BYTES
    assert gram_bytes(2000, None) > _TREE_REDUCE_BYTES
    bs = BlockStructure.from_groups([f"g{i // 2}" for i in range(2000)])
    # 1000 blocks of 2² floats — tiny even though K=2000
    assert gram_bytes(2000, bs) == 1000 * 4 * 8 < _TREE_REDUCE_BYTES


def test_dense_collinear_solve_small(spark):
    """Miniature of the reference's dense collinear workload
    (examples/simple_examples.py:13-31) through the distributed kernel +
    FORCED tree reduce: duplicated columns make the Gram singular; the
    escalating-Tikhonov path must still converge and match moments."""
    from entropy_balance_weighting_spark.solvers.newton import solve_unbounded

    n, k, n_dup = 4_000, 12, 3
    base = spark.range(0, n, 1, 8).select(
        F.col("id").alias("row_id"),
        (0.5 + F.pmod(F.hash("id"), F.lit(1000)) / 1000.0).alias("w0"),
        F.sequence(F.lit(0), F.lit(k - 1)).alias("idx"),
        F.transform(
            F.sequence(F.lit(0), F.lit(k - 1)),
            lambda j: F.when(j == 0, F.lit(1.0)).otherwise(
                F.pmod(
                    F.hash(
                        "id",
                        F.when(
                            j >= k - n_dup, (j - 1) % (k - 1 - n_dup) + 1
                        ).otherwise(j),
                    ),
                    F.lit(1000),
                )
                / 1000.0
            ),
        ).alias("val"),
    )
    kern = SparkKernel.from_problem(None, None, k, prepacked=base)
    try:
        orig = kern._reduce
        kern._reduce = lambda fn, big=False: orig(fn, big=True)
        stats0 = kern.stats(np.zeros(k))
        m = stats0.xt_w * 1.01
        res = solve_unbounded(
            kern, m, {"max_steps": 30}, original_weights=kern.new_weights()
        )
        assert res.converged
        lam_final = res.equality_multipliers_estimate
        final = kern.stats(
            lam_final if lam_final is not None else np.zeros(k)
        )
        assert np.allclose(final.xt_w, m, rtol=1e-6, atol=1e-8)
        # the duplicated columns really are duplicated (singular Gram)
        g = stats0.gram.flat.reshape(k, k)  # a dense Gram is one K×K tile
        for d in range(n_dup):
            assert np.allclose(g[:, k - n_dup + d], g[:, 1 + d])
    finally:
        kern._reduce = orig
        kern.cleanup()


def test_reduce_big_gates_on_partition_count_too():
    """r8 regression guard: at N=100M × K=100k grouped (400 partitions ×
    ~3.2 MB payloads) a plain collect blew spark.driver.maxResultSize
    mid-solve — the gate must consider n_partitions × payload, not just
    the single-payload gram size."""
    from entropy_balance_weighting_spark.kernels.spark import reduce_big
    from entropy_balance_weighting_spark.solvers.linalg import BlockStructure

    # small K, few partitions: plain collect fine
    assert not reduce_big(8, None, 400)
    # dense K=2000: single payload is already big
    assert reduce_big(2000, None, 4)
    # grouped K=100k (50k blocks of 2): per-payload ~3.2 MB is under the
    # single-payload threshold, but 400 partitions overrun the driver's
    # collect budget -> must tree-reduce
    bs = BlockStructure.from_groups([f"g{i % 50_000}" for i in range(100_000)])
    assert not reduce_big(100_000, bs, 16)
    assert reduce_big(100_000, bs, 400)


def test_rb_col_missing_column_raises_named_error():
    """Blob schemas are variable (wstar is conditional since r8);
    get_field_index returns -1 for a missing name, which rb.column()
    would silently resolve to the LAST column — must raise instead."""
    import pyarrow as pa
    import pytest

    from entropy_balance_weighting_spark.kernels.spark import _rb_col

    rb = pa.RecordBatch.from_arrays(
        [pa.array([1.0, 2.0]), pa.array([3.0, 4.0])], ["w0", "other"]
    )
    np.testing.assert_array_equal(_rb_col(rb, "w0"), [1.0, 2.0])
    with pytest.raises(KeyError, match="wstar"):
        _rb_col(rb, "wstar")
