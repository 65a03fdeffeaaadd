"""Deterministic sampling operators for training-data pipelines.

``df.sample()`` is non-reproducible across runs/partitionings (seeded
per-partition RNG — repartition the input and membership changes), which
is unacceptable for a 100 TB corpus where the sampled subset must be
re-derivable months later.  These operators instead hash a stable row key
(the engine-portable md5-prefix hash, :func:`portable_hash32`)
into [0, 1) and keep rows below the target rate:

- membership depends ONLY on (key, salt) — stable under repartitioning,
  re-runs, engine version, and even engine (the DuckDB oracles replicate
  it bit-for-bit);
- the filter is a pure map-side projection — zero shuffle, fully
  pushdown-friendly; at 100 TB the sample never materializes the
  population;
- disjoint salts give independent samples (train/val/test splits from
  one pass).
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import Column, DataFrame, functions as F

# hash bucket count: rates are expressed as integer per-10^6 thresholds so
# the oracle comparison is integer-exact (no float-boundary drift)
_BUCKETS = 1_000_000


def portable_hash32(s: Column | str) -> Column:
    """md5-prefix hash → BIGINT in [0, 2^32) — identical in Spark & DuckDB.

    The first 8 hex chars of md5 read as a big-endian integer: Spark's
    ``conv(substr(md5(s),1,8),16,10)`` and DuckDB's
    ``('0x'||substr(md5(s),1,8))::BIGINT`` compute the same value, so
    every sample membership is oracle-checkable bit-for-bit (``xxhash64``
    would be faster but is not portable)."""
    return F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("long")


def sample_bucket(key: Column | str, salt: str = "") -> Column:
    """Deterministic bucket in [0, 1e6) from a stable row key: the
    md5-prefix hash of ``salt || key`` — identical in Spark and DuckDB."""
    s = F.concat(F.lit(salt), F.col(key).cast("string") if isinstance(key, str) else key.cast("string"))
    return portable_hash32(s) % _BUCKETS


def deterministic_sample(
    df: DataFrame, key: str, rate: float, *, salt: str = ""
) -> DataFrame:
    """Keep each row iff ``hash(salt||key) mod 1e6 < rate·1e6`` — a
    reproducible Bernoulli(rate) sample, shuffle-free."""
    thr = int(round(rate * _BUCKETS))
    return df.filter(sample_bucket(key, salt) < F.lit(thr))


def stratified_sample(
    df: DataFrame,
    key: str,
    strata_col: str,
    rates: Mapping[str, float],
    *,
    default_rate: float = 0.0,
    salt: str = "",
) -> DataFrame:
    """Per-stratum deterministic sampling (the reproducible counterpart of
    ``df.sampleBy``): each stratum gets its own keep-rate.  The rate lookup
    is a literal CASE chain when ``rates`` is small (pure codegen, no join);
    a corpus-scale rate table would broadcast-join instead — same plan
    shape either way, still zero shuffle on the fact side."""
    thr: Column = F.lit(int(round(default_rate * _BUCKETS)))
    for value, rate in sorted(rates.items()):
        thr = (
            F.when(F.col(strata_col) == value, F.lit(int(round(rate * _BUCKETS))))
            .otherwise(thr)
        )
    return df.filter(sample_bucket(key, salt) < thr)


def resample_to_mix(
    df: DataFrame,
    key: str,
    strata_col: str,
    target_shares: Mapping[str, float],
    *,
    salt: str = "",
    stratum_counts: Mapping[str, int] | None = None,
    validate_counts: bool = False,
) -> DataFrame:
    """Domain-mixture resampling (the data-mixing stage of corpus prep):
    downsample each stratum so the OUTPUT approximates ``target_shares``
    while keeping as many rows as pure downsampling allows —
    ``n_out = min_s n_s/share_s``, keep-rate ``n_out·share_s/n_s``.

    One S-sized aggregate collects the stratum counts to the driver (S
    numbers, not data — at 100 TB this is the same shape as any dim
    lookup); the filter itself is the zero-shuffle deterministic
    stratified sampler, so membership is re-derivable months later from
    (key, salt) alone.  Rates are floored onto the integer per-1e6
    threshold grid so an SQL oracle reproduces membership exactly.
    Sampling is Bernoulli per row: achieved counts are binomially close
    to the targets, not exact."""
    from fractions import Fraction

    # callers that already hold the S-sized count table (e.g. they needed
    # the stratum list anyway) pass it in to avoid a second aggregate job.
    # CONTRACT: a passed map must cover every stratum present in df —
    # strata it omits get default_rate=0.0 and are silently dropped (the
    # self-counting path instead raises on strata missing from
    # target_shares).  validate_counts=True re-runs the aggregate and
    # checks coverage; use it in tests/debug, not on the 100 TB path.
    if stratum_counts is not None and validate_counts:
        observed = {
            r[strata_col]
            for r in df.select(strata_col).distinct().collect()
        }
        stale = observed - set(stratum_counts)
        if stale:
            raise ValueError(
                f"stratum_counts omits strata present in df (their rows "
                f"would be silently dropped): {sorted(stale)}"
            )
    counts = (
        dict(stratum_counts)
        if stratum_counts is not None
        else {
            r[strata_col]: r["n"]
            for r in df.groupBy(strata_col)
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
    )
    missing = set(counts) - set(target_shares)
    if missing:
        raise ValueError(f"target_shares missing strata: {sorted(missing)}")
    absent = {s for s, p in target_shares.items() if p > 0 and s not in counts}
    if absent:
        raise ValueError(f"target_shares name strata absent from data: {sorted(absent)}")
    # exact rational arithmetic: for stratum s at the binding minimum,
    # n_out·share_s cancels to exactly n_s, so the threshold floors to
    # exactly the oracle's floor(1e6·n_min/n_s) — float re-association
    # (n_min·S)·(1/S) would land one ulp under an integral threshold and
    # flip the rows in that hash bucket
    shares = {s: Fraction(p) for s, p in target_shares.items()}
    n_out = min(Fraction(counts[s]) / p for s, p in shares.items() if p > 0)
    rates = {
        s: (int(_BUCKETS * n_out * p / counts[s]) / _BUCKETS if p > 0 else 0.0)
        for s, p in shares.items()
        if s in counts
    }
    return stratified_sample(df, key, strata_col, rates, salt=salt)


def sample_fixed_per_stratum(
    df: DataFrame,
    key: str,
    strata_col: str,
    k: int,
    *,
    salt: str = "",
) -> DataFrame:
    """EXACTLY-``k``-per-stratum deterministic sample (eval-set / few-shot
    pool construction): rows rank by the portable key hash within each
    stratum and the first ``k`` survive.  Unlike rate-based sampling the
    output size is exact (min(k, n_s) per stratum), and unlike
    ``ORDER BY rand()`` membership is re-derivable months later from
    (key, salt) alone.

    Plan: one hash exchange on ``strata_col`` + a within-partition
    ``row_number`` — no global sort.  A corpus-scale hot stratum makes
    that partition the straggler; at 100 TB pre-filter with a rate-based
    :func:`stratified_sample` at ~10k/n_s first (hash-threshold prune,
    zero shuffle) so the ranked set per stratum is bounded before the
    exchange.  Ties are impossible: the (hash, key) order is total."""
    from pyspark.sql import Window

    h = portable_hash32(F.concat(F.col(key).cast("string"), F.lit(salt)))
    w = Window.partitionBy(strata_col).orderBy(h.asc(), F.col(key).asc())
    return (
        df.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= k)
        .drop("__rk")
    )


def score_weighted_sample(
    df: DataFrame,
    key: str,
    threshold_col: Column,
    *,
    salt: str = "",
) -> DataFrame:
    """Score-proportional deterministic sampling (quality-weighted corpus
    curation: keep high-quality documents at higher rates): row kept iff
    ``hash(salt||key) mod 1e6 < threshold_col``, where ``threshold_col``
    is the caller's per-row integer threshold in [0, 1e6] — e.g.
    ``least(n_chars * 2000, 1_000_000)`` keeps p = min(1, n_chars/500).
    Integer thresholds keep membership engine-exact (no float-boundary
    drift); the filter is a zero-shuffle projection, and membership is
    re-derivable from (key, salt, score) alone."""
    return df.filter(sample_bucket(key, salt) < threshold_col)
