"""Scale behavior of the IVF quantizer: the cell count must derive from
corpus size (rows per cell), clamped to a driver-safe range, and the
minibatch fit must stay mass-equivalent to the full fit."""

from __future__ import annotations

import numpy as np
import pandas as pd

from entropy_balance_weighting_spark.functions.similarity import adaptive_n_cells


def _clustered_emb(spark, n_clusters: int, per_cluster: int, dim: int = 16, seed: int = 3):
    """Corpus of ``n_clusters`` tight angular clusters, ``per_cluster`` rows
    each — growing the corpus = adding clusters, the 100 TB shape."""
    rng = np.random.default_rng(seed)
    centers = rng.normal(size=(n_clusters, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    idx = np.repeat(np.arange(n_clusters), per_cluster)
    pts = centers[idx] + 0.05 * rng.normal(size=(len(idx), dim))
    pdf = pd.DataFrame(
        {
            "vec_id": np.arange(len(idx)),
            "embedding": [row.astype(float).tolist() for row in pts],
        }
    )
    return spark.createDataFrame(pdf)


def test_adaptive_n_cells_targets_rows_per_cell():
    assert adaptive_n_cells(100) == 4  # min clamp
    assert adaptive_n_cells(0) == 4
    assert adaptive_n_cells(1024 * 100) == 100
    assert adaptive_n_cells(1024 * 100 + 1) == 101
    assert adaptive_n_cells(10**12) == 65_536  # max clamp (driver ceiling)
    assert adaptive_n_cells(4096, rows_per_cell=256) == 16


def test_minibatch_quantizer_mass_equivalent_removals(spark):
    """minibatch centers are NOT bit-identical to full-fit centers (the
    docstring says so explicitly); what must hold — and what this pins
    so the drift can't silently grow (r9 verdict: 0.14% at the 200k
    spike) — is MASS equivalence: the SemDeDup removal count under
    minibatch centers stays within a ±5% band of the full fit on a
    clustered corpus."""
    from entropy_balance_weighting_spark.functions.similarity import (
        fit_ivf_quantizer,
        semantic_dedup_assignments,
    )

    emb = _clustered_emb(spark, n_clusters=8, per_cluster=250, dim=16)
    counts = {}
    for method in ("full", "minibatch"):
        centers = fit_ivf_quantizer(emb, n_cells=8, method=method)
        out = semantic_dedup_assignments(
            emb,
            threshold=0.97,
            centers=centers,
            method="blas",
        )
        counts[method] = out.where("removed = 1").count()
    assert counts["full"] > 100  # the corpus is genuinely near-dup-heavy
    drift = abs(counts["minibatch"] - counts["full"]) / counts["full"]
    assert drift <= 0.05, counts

