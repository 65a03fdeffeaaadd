"""Block-diagonal Gram path tests (SURVEY §7.2 large-K; VERDICT r1 #7):
group-specific moments must solve without K²-sized allocations, and the
batched block algebra must agree bit for bit with solving each block
alone (a dense Gram being the one-block case)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from entropy_balance_weighting_spark import entropy_balance
from entropy_balance_weighting_spark.plans import MomentSpec, build_problem_tables
from entropy_balance_weighting_spark.plans.moment_spec import targets_from_problem
from entropy_balance_weighting_spark.solvers.linalg import (
    BlockGram,
    BlockStructure,
    solve_regularized,
)


def test_block_structure_from_groups():
    groups = ["grp=A", "grp=B", "grp=A", "grp=C", "grp=B"]
    bs = BlockStructure.from_groups(groups)
    assert bs is not None
    assert len(bs.members) == 3
    np.testing.assert_array_equal(bs.members[0], [0, 2])  # grp=A
    assert bs.total_flat == 4 + 4 + 1
    # any ungrouped moment forces the dense path
    assert BlockStructure.from_groups(["grp=A", "", "grp=B"]) is None
    assert BlockStructure.from_groups(["grp=A", "grp=A"]) is None


def _reference_solve(blk, rhs, penalty, shift=0.0):
    """One block's gated, escalating solve of (blk + Diag(shift) + δI)x =
    rhs, written out per block: the batched solve must reproduce it bit
    for bit.  δ is scaled down by the mean diagonal of ``blk`` itself (not
    of the shifted matrix) when that is below 1.  Returns (x, number of
    ×10 escalations taken)."""
    k = len(blk)
    scale = np.trace(blk) / k
    if 0 < scale < 1:
        penalty = penalty * scale
    for escalations in range(30):
        a = blk + np.diag(np.broadcast_to(shift, k)) + penalty * np.eye(k)
        try:
            np.linalg.cholesky(a)
            x = np.linalg.solve(a, rhs)
            if np.all(np.isfinite(x)):
                return x, escalations
        except np.linalg.LinAlgError:
            pass
        penalty *= 10.0
    raise np.linalg.LinAlgError("unsolvable")


def _mixed_gram(rng, sizes, magnitudes=(1.0,)):
    """A BlockGram over interleaved groups of the given sizes, with random
    SPD tiles, each scaled by one of ``magnitudes``; returns (gram, tiles
    indexed by block id)."""
    groups = [f"grp={b}" for b, s in enumerate(sizes) for _ in range(s)]
    bs = BlockStructure.from_groups(list(rng.permutation(groups)))
    flat = np.zeros(bs.total_flat)
    tiles = []
    for mem, off in zip(bs.members, bs.flat_offsets):
        a = rng.uniform(size=(len(mem), len(mem)))
        tile = (a @ a.T + len(mem) * np.eye(len(mem))) * rng.choice(magnitudes)
        flat[off : off + tile.size] = tile.ravel()
        tiles.append(tile)
    return BlockGram(structure=bs, flat=flat), tiles


def _set_tile(gram, b, tile):
    off = int(gram.structure.flat_offsets[b])
    gram.flat[off : off + tile.size] = tile.ravel()


def test_block_solve_matches_dense_solve():
    """Every batched op over mixed block sizes and magnitudes (Tikhonov
    scaled down below unit scale, absolute above) equals the same op on
    each block alone, bit for bit, and agrees with the assembled dense
    K×K matrix; a dense Gram solves as one block."""
    rng = np.random.default_rng(2)
    gram, tiles = _mixed_gram(
        rng, [3, 1, 4, 2, 3, 1, 4, 2, 2, 5, 2, 3], magnitudes=(1e-6, 1e-2, 1e3)
    )
    bs = gram.structure
    k = len(bs.block_of)
    assert list(bs.sizes) == sorted(bs.sizes, reverse=True)
    for i in range(k):
        assert bs.members[bs.block_of[i]][bs.local[i]] == i
    dense = np.zeros((k, k))
    for mem, tile in zip(bs.members, tiles):
        assert np.all(np.diff(mem) > 0)  # id-ordered within a block
        dense[np.ix_(mem, mem)] = tile
    v, d, p = rng.uniform(size=(3, k))
    mv = gram.matvec(v)
    ip = gram.solve_i_plus_g_diag(p, v)
    reg = solve_regularized(gram, v, 1e-8, shift=d)
    for mem, tile in zip(bs.members, tiles):
        np.testing.assert_array_equal(mv[mem], tile @ v[mem])
        eye = np.eye(len(mem))
        np.testing.assert_array_equal(
            ip[mem], np.linalg.solve(eye + tile * p[mem][None, :], v[mem])
        )
        np.testing.assert_array_equal(
            reg[mem], _reference_solve(tile, v[mem], 1e-8, d[mem])[0]
        )
    np.testing.assert_allclose(mv, dense @ v, rtol=1e-12)
    np.testing.assert_allclose(
        (dense + np.diag(d)) @ reg, v, rtol=1e-6, atol=1e-12
    )
    np.testing.assert_allclose(
        ip, np.linalg.solve(np.eye(k) + dense * p[None, :], v), rtol=1e-10
    )
    one = BlockGram(BlockStructure.single(k), dense.ravel())
    assert len(one.structure.members) == 1
    np.testing.assert_array_equal(
        solve_regularized(one, v, 1e-8), _reference_solve(dense, v, 1e-8)[0]
    )


def test_escalation_is_per_block():
    """One indefinite block among many: only its δ grows, every other
    block's solution is bit-identical to solving it alone, and a block no
    escalation can fix raises LinAlgError."""
    rng = np.random.default_rng(7)
    gram, tiles = _mixed_gram(rng, [2] * 40 + [3] * 20 + [1] * 10)
    bs = gram.structure
    bad = int(np.flatnonzero(bs.sizes == 2)[5])
    tiles[bad] = np.array([[1.0, 0.0], [0.0, -1.0]])  # trace 0, indefinite
    _set_tile(gram, bad, tiles[bad])
    rhs = rng.uniform(size=len(bs.block_of))
    x = solve_regularized(gram, rhs, 1e-8)
    for b, (mem, tile) in enumerate(zip(bs.members, tiles)):
        x_ref, escalations = _reference_solve(tile, rhs[mem], 1e-8)
        np.testing.assert_array_equal(x[mem], x_ref)
        assert (escalations > 0) == (b == bad), b
    for unsolvable in (np.diag([-1e300, 1.0]), np.full((2, 2), np.nan)):
        _set_tile(gram, bad, unsolvable)
        with pytest.raises(np.linalg.LinAlgError):
            solve_regularized(gram, rhs, 1e-8)


def test_group_problem_solves_distributed_via_block_path(spark):
    """End-to-end: grouped spec → block-structured kernel → converged solve
    whose weighted group means hit the targets.  Verifies the kernel chose
    the block path and produced a BlockGram."""
    import pandas as pd

    rng = np.random.default_rng(11)
    n = 3000
    pdf = pd.DataFrame(
        {
            "rid": np.arange(n),
            "g": rng.integers(0, 25, size=n).astype(str),
            "w": rng.uniform(0.5, 2.0, size=n),
            "x0": rng.uniform(size=n),
            "x1": rng.uniform(size=n),
        }
    )
    df = spark.createDataFrame(pdf)
    spec = MomentSpec(
        weight_col="w", numeric=("x0", "x1"), group=("g",), row_key=("rid",)
    )
    pt = build_problem_tables(df, spec)
    assert pt.k == 50  # 25 groups × 2 numeric moments
    assert all(g.startswith("grp=") for g in pt.moment_groups)

    from entropy_balance_weighting_spark.kernels.spark import SparkKernel

    kern = SparkKernel.from_problem(
        pt.x_long, pt.w0, pt.k, moment_groups=pt.moment_groups
    )
    assert kern.block_structure is not None
    st = kern.stats(np.zeros(pt.k))
    assert isinstance(st.gram, BlockGram)
    kern.cleanup()

    targets = targets_from_problem(pt, perturb=0.01)
    res = entropy_balance(
        mean_population_moments=targets,
        x_sample=pt,
        options={"force_distributed": True},
    )
    assert res.converged
    # moment-match invariant on the group moments
    sum_w0 = pt.w0.agg(F.sum("w0")).first()[0]
    ach = (
        pt.x_long.join(res.new_weights, "row_id")
        .groupBy("moment_id")
        .agg((F.sum(F.col("value") * F.col("new_weight")) / sum_w0).alias("a"))
        .collect()
    )
    tgt = {
        r["moment_id"]: r["target"]
        for r in targets.join(pt.moments, "moment_name").collect()
    }
    for r in ach:
        assert abs(r["a"] - tgt[r["moment_id"]]) < 1e-6


def test_block_and_dense_kernels_agree(spark):
    """Same grouped problem through the dense path (metadata stripped) and
    the block path must give identical weights."""
    import pandas as pd

    rng = np.random.default_rng(13)
    n = 500
    pdf = pd.DataFrame(
        {
            "rid": np.arange(n),
            "g": rng.integers(0, 4, size=n).astype(str),
            "w": rng.uniform(0.5, 2.0, size=n),
            "x0": rng.uniform(size=n),
        }
    )
    df = spark.createDataFrame(pdf)
    spec = MomentSpec(
        weight_col="w", numeric=("x0",), group=("g",), row_key=("rid",)
    )
    pt = build_problem_tables(df, spec)
    targets = targets_from_problem(pt, perturb=0.01)
    res_block = entropy_balance(
        mean_population_moments=targets,
        x_sample=pt,
        options={"force_distributed": True},
    )
    pt_dense = type(pt)(
        x_long=pt.x_long,
        w0=pt.w0,
        moments=pt.moments,
        moment_names=pt.moment_names,
        n=pt.n,
        nnz_per_row=pt.nnz_per_row,
        moment_groups=None,  # strip structure → dense Gram path
    )
    res_dense = entropy_balance(
        mean_population_moments=targets,
        x_sample=pt_dense,
        options={"force_distributed": True},
    )
    assert res_block.converged and res_dense.converged
    wb = {r["row_id"]: r["new_weight"] for r in res_block.new_weights.collect()}
    wd = {r["row_id"]: r["new_weight"] for r in res_dense.new_weights.collect()}
    assert wb.keys() == wd.keys()
    for rid in wb:
        # both paths converge to the same optimum; iteration sequences
        # differ (per-block vs global relative damping), so compare at
        # solver-tolerance level
        assert wb[rid] == pytest.approx(wd[rid], rel=1e-6)


def test_elastic_block_gram_tiles_never_k2(spark):
    """The production regime is bounded (elastic) × grouped moments: the
    elastic stats pass must accumulate BLOCK Gram tiles (Σ k_b² floats),
    never a dense K×K — pinned here so the bounded_grouped bench entry can
    never silently regress to the quadratic allocation."""
    import pandas as pd

    from entropy_balance_weighting_spark.kernels.elastic_spark import (
        ElasticSparkKernel,
    )

    rng = np.random.default_rng(17)
    n = 2000
    n_groups = 40
    pdf = pd.DataFrame(
        {
            "rid": np.arange(n),
            "g": rng.integers(0, n_groups, size=n).astype(str),
            "w": rng.uniform(0.5, 2.0, size=n),
            "x0": rng.uniform(size=n),
            "x1": rng.uniform(size=n),
        }
    )
    df = spark.createDataFrame(pdf)
    spec = MomentSpec(
        weight_col="w", numeric=("x0", "x1"), group=("g",), row_key=("rid",)
    )
    pt = build_problem_tables(df, spec)
    assert pt.k == 2 * n_groups

    kern = ElasticSparkKernel.from_problem(
        pt.x_long,
        pt.w0,
        pt.k,
        bounds=(0.2, 5.0),
        moment_groups=pt.moment_groups,
    )
    try:
        assert kern.block_structure is not None
        st = kern.elastic_stats(np.zeros(pt.k), eta=10.0, mu_s=0.05)
        assert isinstance(st.gram, BlockGram)
        # flat tile storage is Σ k_b² = n_groups·2² — quadratic in the
        # BLOCK size only, not in K
        assert st.gram.flat.size == kern.block_structure.total_flat
        assert st.gram.flat.size == n_groups * 4
        assert st.gram.flat.size < pt.k**2
    finally:
        kern.cleanup()


@pytest.mark.parametrize("solver", ["penalty", "elastic"])
def test_block_path_parity_penalty_and_elastic(spark, solver):
    """The penalty and elastic solvers also take the block-diagonal Gram
    path on grouped problems; block vs dense must agree."""
    import pandas as pd

    from entropy_balance_weighting_spark import (
        entropy_balance,
        entropy_balance_penalty,
    )

    rng = np.random.default_rng(29)
    n = 400
    pdf = pd.DataFrame(
        {
            "rid": np.arange(n),
            "g": rng.integers(0, 3, size=n).astype(str),
            "w": rng.uniform(0.5, 2.0, size=n),
            "x0": rng.uniform(size=n),
        }
    )
    df = spark.createDataFrame(pdf)
    spec = MomentSpec(
        weight_col="w", numeric=("x0",), group=("g",), row_key=("rid",)
    )
    pt = build_problem_tables(df, spec)
    pt_dense = type(pt)(
        x_long=pt.x_long,
        w0=pt.w0,
        moments=pt.moments,
        moment_names=pt.moment_names,
        n=pt.n,
        nnz_per_row=pt.nnz_per_row,
        moment_groups=None,
    )
    targets = targets_from_problem(pt, perturb=0.01)
    opts = {"force_distributed": True}

    def run(tables):
        if solver == "penalty":
            return entropy_balance_penalty(
                targets, tables, penalty_parameter=3.0, options=opts
            )
        return entropy_balance(
            mean_population_moments=targets,
            x_sample=tables,
            options={**opts, "bounds": (0.5, 2.0)},
        )

    res_b = run(pt)
    res_d = run(pt_dense)
    assert res_b.converged and res_d.converged
    wb = {r["row_id"]: r["new_weight"] for r in res_b.new_weights.collect()}
    wd = {r["row_id"]: r["new_weight"] for r in res_d.new_weights.collect()}
    for rid in wb:
        assert wb[rid] == pytest.approx(wd[rid], rel=1e-6)
