"""The distributed kernels' pass payload layout (``kernels.base``): every
stats dataclass is its own payload.  Per-batch contributions accumulate on
the executor (``kernels.spark.PayloadAcc``), partition payloads reduce
through the plain collect and the ``big`` tree path
(``blob_plane.reduce_payload``), and ``unpack`` rebuilds each field as the
sum, min or max it declares.  The expected reduction of every field is
written out here, apart from the declarations, so changing a field's kind
fails this test."""

from __future__ import annotations

from dataclasses import fields

import numpy as np
import pyarrow as pa
import pytest

from entropy_balance_weighting_spark.kernels import base
from entropy_balance_weighting_spark.kernels.blob_plane import reduce_payload
from entropy_balance_weighting_spark.kernels.spark import (
    CsrRows,
    PayloadAcc,
    blocks_tuple,
)
from entropy_balance_weighting_spark.solvers.linalg import BlockStructure

EXPECTED = {
    base.IterStats: dict(
        f_val="sum", xt_w="vec", cd_sq="sum", xt_wcd="vec", gram="gram",
        min_w="min", has_nan="nan",
    ),
    base.StepStats: dict(
        alpha_raw="min", xt_dw="vec", dw_sq="sum", xt_wdual="vec",
        min_wdual="min", has_nan="nan",
    ),
    base.PenaltyStats: dict(
        f_val="sum", g1="vec", g2v="vec", h="vec", s_ll="sum", gram="gram",
        has_nan="nan",
    ),
    base.PBStats: dict(
        f_val="sum", g1="vec", sd0_sq="sum", hd="vec", gb="gram", u1a="vec",
        u1b="vec", s_sum="sum", s_sq="sum", s_min="min", s_cnt="sum",
        has_nan="nan",
    ),
    base.PBStepStats: dict(
        p_sq="sum", ftb_slack="min", ftb_dual="min", has_nan="nan"
    ),
    base.EStats: dict(
        f_val="sum", cd_sq="sum", ci_sq="sum", cs_sq="sum", alt_sq="sum",
        g1="vec", rhs_leg="vec", rhs_mu_leg="vec", gram="gram", sl_sum="sum",
        sl_sq="sum", sl_min="min", sl_cnt="sum", lm_max="max", has_nan="nan",
    ),
    base.EStepStats: dict(
        rstep_sq="sum", xt_rstep="vec", ftb_slack="min", ftb_dual="min",
        has_nan="nan",
    ),
    base.Totals: dict(g1="vec"),
    base.InitGram: dict(g2="gram"),
    base.PStepStats: dict(p_sq="sum", has_nan="nan"),
}

# K=5: one dense block, or blocks {0, 1} and {2, 3, 4}
STRUCTURES = {
    "one_block": BlockStructure.single(5),
    "blocks": BlockStructure.from_groups(["a", "a", "b", "b", "b"]),
}


def _rows(rng, structure, n=6):
    """Batch rows whose entries each lie within one Gram block, and the
    dense matrix they encode."""
    members = structure.members
    dense = np.zeros((n, 5))
    idx, lens = [], []
    for i in range(n):
        ids = members[rng.integers(len(members))]
        dense[i, ids] = rng.normal(size=len(ids))
        idx.extend(ids)
        lens.append(len(ids))
    idx = np.asarray(idx, dtype=np.int64)
    rows = CsrRows(idx, dense[np.repeat(np.arange(n), lens), idx], np.asarray(lens))
    return rows, dense


def _contribution(rng, kind, n):
    if kind == "sum":
        return float(rng.normal())
    if kind == "vec":
        return rng.normal(size=5)
    if kind == "gram":
        return rng.uniform(0.5, 2.0, size=n)
    if kind in ("min", "max"):
        return float(rng.normal())
    return float(rng.integers(0, 2) * rng.integers(0, 2))  # a NaN count


def _expected(kind, values):
    if kind in ("sum", "vec", "gram"):
        return np.sum(values, axis=0)
    if kind == "min":
        return min(values)
    if kind == "max":
        return max(values)
    return sum(values) > 0


def _check(spark, structure, classes, seed):
    rng = np.random.default_rng(seed)
    blocks = blocks_tuple(structure)
    seen = [{name: [] for name in EXPECTED[cls]} for cls in classes]
    payloads = []
    for _ in range(3):  # partitions
        acc = PayloadAcc(classes, 5, blocks)
        for _ in range(2):  # batches
            x, dense = _rows(rng, structure)
            contribs = []
            for cls, values in zip(classes, seen):
                c = {}
                for name, kind in EXPECTED[cls].items():
                    c[name] = _contribution(rng, kind, len(dense))
                    values[name].append(
                        dense.T @ (c[name][:, None] * dense)
                        if kind == "gram"
                        else c[name]
                    )
                contribs.append(c)
            rb = pa.RecordBatch.from_arrays([pa.array(np.zeros(len(dense)))], ["w0"])
            acc.feed(
                lambda rb, x, c=contribs: c[0] if len(c) == 1 else tuple(c),
                rb,
                x,
            )
        payloads.append(acc.payload())
    v = rng.normal(size=5)
    for big in (False, True):
        pairs = spark.sparkContext.parallelize(payloads, 3)
        got = base.unpack(reduce_payload(pairs, big), structure, *classes)
        assert [type(g) for g in got] == list(classes)
        for inst, cls, values in zip(got, classes, seen):
            for name, kind in EXPECTED[cls].items():
                want = _expected(kind, values[name])
                have = getattr(inst, name)
                if kind == "gram":
                    np.testing.assert_allclose(
                        have.matvec(v), want @ v, rtol=1e-12, atol=1e-12
                    )
                elif kind in ("sum", "vec"):
                    np.testing.assert_allclose(have, want, rtol=1e-12, atol=1e-12)
                else:
                    assert have == want, (cls.__name__, name, kind)


@pytest.mark.parametrize("layout", sorted(STRUCTURES))
@pytest.mark.parametrize("cls", list(EXPECTED), ids=lambda c: c.__name__)
def test_payload_reduces_each_field_as_declared(spark, cls, layout):
    assert [f.name for f in fields(cls)] == list(EXPECTED[cls])
    _check(spark, STRUCTURES[layout], (cls,), seed=len(cls.__name__))


def test_two_payloads_in_one_pass_split_by_the_first_layout(spark):
    """The Newton step pass carries the speculative IterStats after its
    StepStats; ``unpack`` splits them by the first layout's size."""
    _check(spark, STRUCTURES["blocks"], (base.StepStats, base.IterStats), seed=3)


def test_field_without_reduce_kind_fails_at_definition():
    with pytest.raises(TypeError, match="declares no reduce kind"):

        @base.payload
        class Undeclared:
            f_val: float = base.reduced(base.SUM)
            g1: np.ndarray

    with pytest.raises(TypeError, match="declares no reduce kind"):

        @base.payload
        class Unknown:
            f_val: float = base.reduced("mean")
