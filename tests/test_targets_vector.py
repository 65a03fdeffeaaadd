"""Population targets given as a DataFrame become the id-ordered K-vector
the solvers take (``solvers.api._moments_vector``)."""

from __future__ import annotations

from types import SimpleNamespace

import numpy as np
import pytest

from entropy_balance_weighting_spark.solvers.api import _moments_vector

PT = SimpleNamespace(k=3, moment_names=["a", "b", "c"])


def test_targets_by_name_drop_unknown_names_and_keep_the_last_repeat(spark):
    df = spark.createDataFrame(
        [("b", 2.0), ("zzz", 9.0), ("a", 1.0), ("c", 3.0), ("b", 5.0)],
        "moment_name string, target double",
    ).coalesce(1)
    np.testing.assert_array_equal(_moments_vector(PT, df), [1.0, 5.0, 3.0])


def test_targets_by_id_keep_the_last_repeat(spark):
    df = spark.createDataFrame(
        [(2, 3.0), (0, 1.0), (1, 2.0), (0, 7.0)], "moment_id int, target double"
    ).coalesce(1)
    np.testing.assert_array_equal(_moments_vector(PT, df), [7.0, 2.0, 3.0])


def test_missing_targets_raise_with_their_names(spark):
    df = spark.createDataFrame(
        [("a", 1.0), ("zzz", 2.0)], "moment_name string, target double"
    )
    with pytest.raises(ValueError, match=r"targets missing for moments: \['b', 'c'\]"):
        _moments_vector(PT, df)
    ids = spark.createDataFrame([(1, 2.0)], "moment_id int, target double")
    with pytest.raises(ValueError, match=r"\['a', 'c'\]"):
        _moments_vector(PT, ids)
