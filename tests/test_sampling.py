"""Deterministic sampling: the properties the oracle query can't check —
stability under repartitioning, salt independence, split disjointness."""

from __future__ import annotations

from pyspark.sql import functions as F

from entropy_balance_weighting_spark.functions.sampling import (
    deterministic_sample,
    sample_bucket,
    stratified_sample,
)


def _ids(df):
    return sorted(r.id for r in df.select("id").collect())


def test_membership_stable_under_repartition(spark):
    df = spark.range(2000).select(F.col("id"))
    a = _ids(deterministic_sample(df, "id", 0.2, salt="x"))
    b = _ids(deterministic_sample(df.repartition(13), "id", 0.2, salt="x"))
    assert a == b
    assert 0.1 < len(a) / 2000 < 0.3


def test_nested_rates_are_supersets(spark):
    # the same (key, salt) bucket serves every rate: a 10% sample is a
    # strict subset of the 20% sample — critical for reproducible scaling
    df = spark.range(2000)
    s10 = set(_ids(deterministic_sample(df, "id", 0.1, salt="x")))
    s20 = set(_ids(deterministic_sample(df, "id", 0.2, salt="x")))
    assert s10 <= s20


def test_disjoint_salts_give_independent_samples(spark):
    df = spark.range(2000)
    a = set(_ids(deterministic_sample(df, "id", 0.2, salt="train")))
    b = set(_ids(deterministic_sample(df, "id", 0.2, salt="val")))
    # independence, not disjointness: overlap ≈ rate² (4%), far below 20%
    assert len(a & b) < 0.1 * 2000


def test_train_val_split_from_one_bucket_column(spark):
    # disjoint threshold RANGES on one bucket column → exact disjoint splits
    df = spark.range(2000).withColumn("b", sample_bucket("id", "split"))
    train = set(r.id for r in df.filter(F.col("b") < 800_000).collect())
    val = set(r.id for r in df.filter(F.col("b") >= 800_000).collect())
    assert train.isdisjoint(val)
    assert len(train) + len(val) == 2000


def test_stratified_rates_apply_per_stratum(spark):
    df = spark.range(3000).withColumn(
        "grp", F.when(F.col("id") % 2 == 0, "a").otherwise("b")
    )
    out = stratified_sample(
        df, key="id", strata_col="grp", rates={"a": 0.5}, default_rate=0.05
    )
    counts = {r.grp: r.c for r in out.groupBy("grp").agg(F.count("*").alias("c")).collect()}
    assert 0.4 < counts["a"] / 1500 < 0.6
    assert counts.get("b", 0) / 1500 < 0.15


def test_resample_to_mix_hits_target_proportions(spark):
    """Unequal target shares: achieved output proportions are binomially
    close to the targets, the binding stratum keeps ~everything its
    share allows, and membership is deterministic across re-runs."""
    from entropy_balance_weighting_spark.functions.sampling import (
        resample_to_mix,
    )

    rows = (
        [(i, "a") for i in range(6000)]
        + [(i + 10_000, "b") for i in range(3000)]
        + [(i + 20_000, "c") for i in range(1000)]
    )
    df = spark.createDataFrame(rows, "id long, src string")
    shares = {"a": 0.5, "b": 0.3, "c": 0.2}
    # binding stratum: c (1000/0.2 = 5000 = n_out); expected kept:
    # a: 2500, b: 1500, c: 1000
    out = resample_to_mix(df, "id", "src", shares, salt="mx")
    got = {r.src: r.n for r in out.groupBy("src").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert got["c"] == 1000  # rate 1.0 exactly — the rational-arithmetic pin
    assert abs(got["a"] - 2500) < 200 and abs(got["b"] - 1500) < 160
    again = {r.src: r.n for r in resample_to_mix(df, "id", "src", shares, salt="mx")
             .groupBy("src").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert got == again


def test_resample_to_mix_rejects_unknown_strata(spark):
    import pytest as _pytest

    from entropy_balance_weighting_spark.functions.sampling import (
        resample_to_mix,
    )

    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, src string")
    with _pytest.raises(ValueError, match="missing strata"):
        resample_to_mix(df, "id", "src", {"a": 1.0}, salt="mx")


def test_resample_to_mix_rejects_absent_share_stratum(spark):
    """target_shares naming a stratum absent from the data is a clear
    ValueError, not a KeyError from the n_out comprehension."""
    import pytest

    from entropy_balance_weighting_spark.functions.sampling import (
        resample_to_mix,
    )

    df = spark.createDataFrame([(i, "a") for i in range(10)], "id long, src string")
    with pytest.raises(ValueError, match="absent from data"):
        resample_to_mix(df, "id", "src", {"a": 0.5, "ghost": 0.5}, salt="mx")
    # zero-share absent stratum is harmless
    out = resample_to_mix(df, "id", "src", {"a": 1.0, "ghost": 0.0}, salt="mx")
    assert out.count() == 10


def test_fixed_per_stratum_exact_k_and_stable(spark):
    """Exactly min(k, n_s) rows per stratum; membership depends only on
    (key, salt) — stable under repartitioning."""
    from entropy_balance_weighting_spark.functions.sampling import (
        sample_fixed_per_stratum,
    )

    rows = [(i, "big" if i < 90 else "small") for i in range(95)]
    df = spark.createDataFrame(rows, "id long, src string")
    out = sample_fixed_per_stratum(df, "id", "src", 10, salt="t")
    by = {r.src: 0 for r in out.collect()}
    for r in out.collect():
        by[r.src] += 1
    assert by == {"big": 10, "small": 5}  # small stratum has only 5 rows

    again = sample_fixed_per_stratum(df.repartition(7), "id", "src", 10, salt="t")
    assert sorted((r.src, r.id) for r in again.collect()) == sorted(
        (r.src, r.id) for r in out.collect()
    )
    # different salt -> (almost surely) different membership in the big stratum
    other = sample_fixed_per_stratum(df, "id", "src", 10, salt="u")
    big_a = {r.id for r in out.collect() if r.src == "big"}
    big_b = {r.id for r in other.collect() if r.src == "big"}
    assert big_a != big_b


def test_fixed_per_stratum_properties(spark):
    """Property sweep: for random frames, each stratum yields exactly
    min(k, n_s) rows, all rows come from the input, and membership is
    invariant to input partitioning."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from entropy_balance_weighting_spark.functions.sampling import (
        sample_fixed_per_stratum,
    )

    @settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
    @given(
        seed=st.integers(0, 10_000),
        n=st.integers(1, 80),
        n_strata=st.integers(1, 5),
        k=st.integers(1, 10),
    )
    def run(seed, n, n_strata, k):
        import numpy as np

        rng = np.random.default_rng(seed)
        rows = [(int(i), f"s{rng.integers(n_strata)}") for i in range(n)]
        df = spark.createDataFrame(rows, "id long, src string")
        out = sample_fixed_per_stratum(df, "id", "src", k, salt="p")
        got = [(r.src, r.id) for r in out.collect()]
        by_stratum: dict[str, int] = {}
        for s, _ in got:
            by_stratum[s] = by_stratum.get(s, 0) + 1
        pop: dict[str, int] = {}
        for _, s in rows:
            pop[s] = pop.get(s, 0) + 1
        assert by_stratum == {s: min(k, c) for s, c in pop.items()}
        assert set(got) <= {(s, i) for i, s in rows}
        again = sample_fixed_per_stratum(df.repartition(5), "id", "src", k, salt="p")
        assert sorted((r.src, r.id) for r in again.collect()) == sorted(got)

    run()


def test_resample_to_mix_precomputed_counts_matches(spark):
    """stratum_counts short-circuits the internal aggregate job and must
    produce identical membership to the self-counting path."""
    from entropy_balance_weighting_spark.functions.sampling import (
        resample_to_mix,
    )

    rows = [(i, "a" if i % 3 else "b") for i in range(600)]
    df = spark.createDataFrame(rows, "id long, src string")
    shares = {"a": 0.5, "b": 0.5}
    auto = {r.id for r in resample_to_mix(df, "id", "src", shares, salt="mx").collect()}
    counts = {r.src: r.n for r in df.groupBy("src").count().withColumnRenamed("count", "n").collect()}
    pre = {
        r.id
        for r in resample_to_mix(
            df, "id", "src", shares, salt="mx", stratum_counts=counts
        ).collect()
    }
    assert pre == auto


def test_resample_to_mix_validate_counts_catches_stale_map(spark):
    """A passed stratum_counts that omits a stratum present in df would
    silently drop that stratum's rows (default_rate=0.0);
    validate_counts=True turns that into a named error."""
    import pytest

    from entropy_balance_weighting_spark.functions.sampling import (
        resample_to_mix,
    )

    rows = [(i, "a" if i % 3 else "b") for i in range(60)]
    df = spark.createDataFrame(rows, "id long, src string")
    with pytest.raises(ValueError, match="omits strata"):
        resample_to_mix(
            df,
            "id",
            "src",
            {"a": 1.0},
            salt="mx",
            stratum_counts={"a": 40},
            validate_counts=True,
        )


def test_samp_domain_mix_single_job_before_sampler(spark):
    """The r5 verdict's item #6: building the domain-mix query must run
    exactly ONE Spark job (the combined source-list + counts aggregate)
    before any action on the returned DataFrame."""
    import pyspark.sql.functions as F
    from conftest import SF_SMOKE

    from entropy_balance_weighting_spark.queries.pipeline_sampling import samp_domain_mix
    from entropy_balance_weighting_spark.session import load_table

    tracker = spark.sparkContext.statusTracker()

    # Count jobs via MAX job id deltas, not list length: job ids are
    # monotonically increasing, but the tracker's list is capped at
    # spark.ui.retainedJobs (default 1000) and EVICTS old entries once a
    # long session passes that many jobs — len() then DECREASES between
    # samples and the pin silently breaks (r8 full-suite flake).
    def latest_job() -> int:
        ids = tracker.getJobIdsForGroup(None)
        return max(ids) if ids else -1

    # baseline: job cost of ONE aggregate-collect action on the same table
    # (AQE may split a single action into several jobs, so pin the ACTION
    # count by comparison, not a literal job count)
    j0 = latest_job()
    docs = load_table(spark, SF_SMOKE, "documents")
    docs.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()
    one_action = latest_job() - j0
    j1 = latest_job()
    out = samp_domain_mix(spark, SF_SMOKE)
    assert latest_job() - j1 == one_action
    assert out.count() > 0


def test_portable_hash_matches_duckdb(spark):
    """The md5-prefix hash primitive is identical across engines — the
    foundation every sample-membership oracle rests on."""
    import duckdb

    from entropy_balance_weighting_spark.functions.sampling import portable_hash32

    words = ["spark", "duck", "entropy", "balance", ""]
    df = spark.createDataFrame([(w,) for w in words], ["w"])
    got = {
        r["w"]: r["h"]
        for r in df.select("w", portable_hash32(F.col("w")).alias("h")).collect()
    }
    con = duckdb.connect()
    for w in words:
        (expect,) = con.execute(
            "SELECT ('0x' || substr(md5(?),1,8))::BIGINT", [w]
        ).fetchone()
        assert got[w] == expect
