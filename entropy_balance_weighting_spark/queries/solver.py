"""Solver-backed registry queries.

The solve itself is iterative (not SQL-expressible), but its defining
postcondition IS: a converged entropy-balance run must reproduce the target
moments exactly (ref: test_dense.py:32-44 moment-match invariant).  The
oracle computes the same targets directly in SQL; the Spark side reports the
solver's achieved weighted means.  Hash-equality of the two (rounded) is a
full end-to-end correctness check of the solver pipeline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from entropy_balance_weighting_spark import entropy_balance
from entropy_balance_weighting_spark.plans import MomentSpec, build_problem_tables
from entropy_balance_weighting_spark.plans.moment_spec import targets_from_problem
from entropy_balance_weighting_spark.queries.registry import register
from entropy_balance_weighting_spark.session import load_table

_SPEC = MomentSpec(
    weight_col="l_quantity",
    numeric=("l_discount", "l_tax"),
    onehot=("l_returnflag",),
    # no unique natural key in the synthetic lineitem — use the default
    # shuffle-free monotonic id (safe: rows are checkpointed before fan-out)
)


def solve_lineitem_problem(spark: SparkSession, sf_dir: str, **opts):
    """Shared fixture: lineitem-derived EBW problem with 2%-perturbed targets.

    Targets are population weighted means scaled by 1.02 (one-hot targets =
    category shares ×1.02), a well-conditioned feasible problem — the solver
    converges in ~6 Newton iterations.
    """
    li = load_table(spark, sf_dir, "lineitem")
    pt = build_problem_tables(li, _SPEC)
    targets = targets_from_problem(pt, perturb=0.02)
    res = entropy_balance(
        mean_population_moments=targets,
        x_sample=pt,
        weights0=None,
        options=opts or None,
    )
    return pt, targets, res


@register(
    "ebw_solver_moment_match",
    survey="C1,C2,A1,A3,A4,L1-L3 (solver end-to-end)",
    oracle="""
WITH base AS (
  SELECT * FROM lineitem WHERE l_quantity > 0
), tot AS (
  SELECT sum(l_quantity) AS s FROM base
), long AS (
  SELECT 'l_discount' AS moment_name, l_discount AS value, l_quantity AS w0 FROM base
  UNION ALL SELECT 'l_tax', l_tax, l_quantity FROM base
  UNION ALL SELECT 'l_returnflag=' || l_returnflag, 1.0, l_quantity FROM base
)
SELECT moment_name,
       round(sum(value * w0) / (SELECT s FROM tot) * 1.02, 6) AS achieved_wmean,
       1 AS converged
FROM long GROUP BY moment_name ORDER BY moment_name
""",
)
def ebw_solver_moment_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full solve (distributed kernel forced), then report achieved weighted
    moment means.

    The oracle computes the TARGETS in SQL — population weighted means over
    the global Σw0, scaled 1.02; a converged solver reproduces them to
    ~1e-11 relative, so the rounded values hash-match.  This checks the
    entire chain: data layer → packing → Newton iterations → weights, on
    the SAME kernel that ships for the at-scale path
    (``force_distributed=True`` so the local fast path can't mask it).
    """
    pt, targets, res = solve_lineitem_problem(spark, sf_dir, force_distributed=True)
    return _achieved_means(pt, res)


def _achieved_means(pt, res) -> DataFrame:
    from entropy_balance_weighting_spark.operators.weighted_moments import (
        weighted_moment_totals,
    )

    w = res.new_weights  # DataFrame (row_id, new_weight)
    achieved = weighted_moment_totals(
        pt.x_long, w, weight_col="new_weight"
    ).join(F.broadcast(pt.moments), "moment_id")
    # invariant is X^T w_new = m·Σw0 — normalize by the ORIGINAL weight total
    # (Σw_new differs when no intercept moment pins it)
    sum_w0 = pt.w0.agg(F.sum("w0")).first()[0]
    return (
        achieved.select(
            "moment_name",
            F.round(F.col("total") / F.lit(sum_w0), 6).alias("achieved_wmean"),
            F.lit(1 if res.converged else 0).alias("converged"),
        )
        .orderBy("moment_name")
    )


@register(
    "a3_gram_selfjoin",
    survey="A3,J3",
    oracle="""
WITH base AS (
  SELECT md5(concat_ws('|', l_orderkey, l_linenumber, l_partkey, l_suppkey,
             l_quantity, l_extendedprice, l_discount, l_tax)) AS rid,
         l_discount, l_tax, l_returnflag, l_quantity
  FROM lineitem WHERE l_quantity > 0
), long AS (
  SELECT rid, 'l_discount' AS moment_name, l_discount AS value,
         l_quantity AS w0 FROM base
  UNION ALL SELECT rid, 'l_tax', l_tax, l_quantity FROM base
  UNION ALL SELECT rid, 'l_returnflag=' || l_returnflag, 1.0, l_quantity
  FROM base
), tot AS (
  SELECT sum(l_quantity) AS s FROM base
)
SELECT a.moment_name AS moment_a, b.moment_name AS moment_b,
       round(sum(a.value * b.value * a.w0) / (SELECT s FROM tot), 6) AS gram
FROM long a JOIN long b
  ON a.rid = b.rid AND a.moment_name <= b.moment_name
GROUP BY a.moment_name, b.moment_name
ORDER BY moment_a, moment_b
""",
)
def a3_gram_selfjoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted Gram matrix ``X^T Diag(w0) X`` as the relational self-join
    on ``row_id`` with triangle pruning (J3) — the SQL-checkable rendering
    of the in-kernel Gram accumulation (the solver computes the same
    reduction fused inside its stats pass; this query pins the semantics
    against DuckDB).  Mirrors the reference's lower-triangle
    ``gram_matrix_mkl`` + symmetrize (ref: ebw_routines.py:226-233)."""
    li = load_table(spark, sf_dir, "lineitem")
    pt = build_problem_tables(li, _SPEC)
    # normalize by Σw0 so the rounded values are O(1): a raw sum of ~1e6
    # rounded to 4 decimals sits inside distributed-reorder float noise,
    # the normalized form is 5+ orders of margin away from any boundary
    sum_w0 = pt.w0.agg(F.sum("w0")).first()[0]
    x = pt.x_long.join(pt.w0, "row_id").join(F.broadcast(pt.moments), "moment_id")
    a = x.select(
        F.col("row_id"), F.col("moment_name").alias("moment_a"),
        F.col("value").alias("va"), "w0",
    )
    b = x.select(
        F.col("row_id"), F.col("moment_name").alias("moment_b"),
        F.col("value").alias("vb"),
    )
    return (
        a.join(b, "row_id")
        .filter(F.col("moment_a") <= F.col("moment_b"))
        .groupBy("moment_a", "moment_b")
        .agg(
            F.round(
                F.sum(F.col("va") * F.col("vb") * F.col("w0")) / F.lit(sum_w0), 6
            ).alias("gram")
        )
        .orderBy("moment_a", "moment_b")
    )


@register(
    "ebw_bounded_solver_match",
    survey="C4,L5,A6,A7 (elastic solver end-to-end)",
    oracle="""
WITH base AS (
  SELECT * FROM lineitem WHERE l_quantity > 0
), tot AS (
  SELECT sum(l_quantity) AS s FROM base
), long AS (
  SELECT 'l_discount' AS moment_name, l_discount AS value, l_quantity AS w0 FROM base
  UNION ALL SELECT 'l_tax', l_tax, l_quantity FROM base
  UNION ALL SELECT 'l_returnflag=' || l_returnflag, 1.0, l_quantity FROM base
)
SELECT moment_name,
       round(sum(value * w0) / (SELECT s FROM tot) * 1.02, 6) AS achieved_wmean,
       1 AS converged
FROM long GROUP BY moment_name ORDER BY moment_name
""",
)
def ebw_bounded_solver_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded (elastic interior-point) solve end-to-end: with bounds wide
    enough to admit the unbounded optimum, the converged elastic solution
    reproduces the same targets — the elastic slacks shrink to
    interior-point noise (≪ the 1e-6 rounding).  Exercises the full C4
    loop: 9-block state, Schur condensation, fraction-to-boundary,
    adaptive barriers."""
    pt, targets, res = solve_lineitem_problem(spark, sf_dir, bounds=(0.25, 4.0))
    return _achieved_means(pt, res)


@register(
    "ebw_penalty_gap_reduction",
    survey="C5,L4 (penalty solver end-to-end)",
    oracle="""
WITH base AS (
  SELECT * FROM lineitem WHERE l_quantity > 0
), long AS (
  SELECT 'l_discount' AS moment_name FROM base
  UNION ALL SELECT 'l_tax' FROM base
  UNION ALL SELECT 'l_returnflag=' || l_returnflag FROM base
)
SELECT DISTINCT moment_name, 1 AS gap_reduced, 1 AS converged
FROM long ORDER BY moment_name
""",
)
def ebw_penalty_gap_reduction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Penalty solve end-to-end; the checkable invariant is the solver's
    contract: EVERY moment's absolute aggregate gap |A^T r − b| shrinks
    versus the unweighted start (r=1), and the solve converges.  The
    oracle predicts gap_reduced=1 for every moment."""
    from entropy_balance_weighting_spark import entropy_balance_penalty
    from entropy_balance_weighting_spark.plans import build_problem_tables
    from entropy_balance_weighting_spark.plans.moment_spec import (
        targets_from_problem,
    )
    from entropy_balance_weighting_spark.session import load_table as _load

    li = _load(spark, sf_dir, "lineitem")
    pt = build_problem_tables(li, _SPEC)
    targets = targets_from_problem(pt, perturb=0.02)
    res = entropy_balance_penalty(
        targets, pt, penalty_parameter=5.0
    )
    # start gap: r = 1 → A^T r = X^T w0; both sides vs b = target·Σw0,
    # computed through the reusable weighted-totals + moment-gap operators
    from entropy_balance_weighting_spark.operators.weighted_moments import (
        moment_gap,
        weighted_moment_totals,
    )

    sum_w0 = pt.sum_w0
    tgt = targets.join(F.broadcast(pt.moments), "moment_name").select(
        "moment_id", "moment_name", "target"
    )
    base_gap = moment_gap(
        weighted_moment_totals(pt.x_long, pt.w0), tgt, sum_w0
    ).select("moment_id", F.abs("gap").alias("base_gap"))
    ach_gap = moment_gap(
        weighted_moment_totals(pt.x_long, res.new_weights, weight_col="new_weight"),
        tgt,
        sum_w0,
    ).select("moment_id", "moment_name", F.abs("gap").alias("ach_gap"))
    return (
        ach_gap.join(base_gap, "moment_id")
        .select(
            "moment_name",
            (F.col("ach_gap") < F.col("base_gap")).cast("int").alias("gap_reduced"),
            F.lit(1 if res.converged else 0).alias("converged"),
        )
        .orderBy("moment_name")
    )


@register(
    "ebw_estimator_match",
    survey="C1,C9 (MLlib Estimator/Model end-to-end)",
    oracle="""
WITH base AS (
  SELECT * FROM lineitem WHERE l_quantity > 0
), tot AS (
  SELECT sum(l_quantity) AS s FROM base
), long AS (
  SELECT 'l_discount' AS moment_name, l_discount AS value, l_quantity AS w0 FROM base
  UNION ALL SELECT 'l_tax', l_tax, l_quantity FROM base
  UNION ALL SELECT 'l_returnflag=' || l_returnflag, 1.0, l_quantity FROM base
)
SELECT moment_name,
       round(sum(value * w0) / (SELECT s FROM tot) * 1.02, 6) AS achieved_wmean,
       1 AS converged
FROM long GROUP BY moment_name ORDER BY moment_name
""",
)
def ebw_estimator_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The NORTH-STAR API surface end to end:
    ``EntropyBalanceEstimator.fit()`` → ``EntropyBalanceModel
    .transform()`` (``ml.py`` — MLlib Estimator/Model, ref README
    headline usage), with the achieved weighted means computed FROM THE
    TRANSFORMED ROWS, not from solver internals — so the row-key hash
    join-back that ``transform`` performs is itself under the hash
    check.  Same problem and oracle as ``ebw_solver_moment_match``
    (targets = population weighted means × 1.02 via
    ``targetScale=1.02`` self-calibration): the two queries hashing
    equal pins Estimator ≡ direct ``entropy_balance`` API.  Row key =
    the full 8-column tuple (unique at every shipped SF; hashed by
    ``xxhash64`` on both the fit and transform sides).  100 TB shape:
    fit is the same 2-map-jobs/iteration distributed kernel; transform
    is one hash join of the weight table onto the scored relation."""
    from entropy_balance_weighting_spark.ml import EntropyBalanceEstimator

    li = load_table(spark, sf_dir, "lineitem")
    est = (
        EntropyBalanceEstimator(
            weightCol="l_quantity",
            numericCols=["l_discount", "l_tax"],
            onehotCols=["l_returnflag"],
            rowKeyCols=[
                "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
                "l_quantity", "l_extendedprice", "l_discount", "l_tax",
            ],
            targetScale=1.02,
            outputCol="ebw_weight",
        )
    )
    model = est.fit(li)
    tr = model.transform(li).filter(F.col("l_quantity") > 0)
    sum_w0 = tr.agg(F.sum("l_quantity")).first()[0]
    long = (
        tr.select(
            F.lit("l_discount").alias("moment_name"),
            (F.col("l_discount") * F.col("ebw_weight")).alias("xw"),
        )
        .unionByName(
            tr.select(
                F.lit("l_tax").alias("moment_name"),
                (F.col("l_tax") * F.col("ebw_weight")).alias("xw"),
            )
        )
        .unionByName(
            tr.select(
                F.concat(F.lit("l_returnflag="), F.col("l_returnflag")).alias(
                    "moment_name"
                ),
                F.col("ebw_weight").alias("xw"),
            )
        )
    )
    converged = 1 if model.summary.converged else 0
    return (
        long.groupBy("moment_name")
        .agg(
            F.round(F.sum("xw") / F.lit(sum_w0), 6).alias("achieved_wmean")
        )
        .withColumn("converged", F.lit(converged))
        .orderBy("moment_name")
    )


@register(
    "txt_domain_reweight",
    survey="ext:mixing-entropy-balance (C4,A10,G1 composition)",
    oracle="""
WITH f AS (
  SELECT source,
         CAST(length(text) AS DOUBLE) AS n_chars,
         CAST(len(list_filter(string_split_regex(trim(text), '\\s+'),
                              x -> x <> '')) AS DOUBLE) AS n_words
  FROM documents
), tot AS (
  SELECT CAST(count(*) AS DOUBLE) AS s FROM f
), long AS (
  SELECT 'grp=' || source || '|n_chars' AS moment_name, n_chars AS value,
         source FROM f
  UNION ALL
  SELECT 'grp=' || source || '|n_words', n_words, source FROM f
)
SELECT moment_name,
       round(sum(value) / (SELECT s FROM tot)
             * CASE WHEN CAST(substr(source, 4) AS INT) % 2 = 0
                    THEN 1.02 ELSE 0.98 END, 6) AS achieved_wmean,
       1 AS converged
FROM long GROUP BY moment_name, source ORDER BY moment_name
""",
)
def txt_domain_reweight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data DOMAIN MIXING via the entropy-balance solver — the
    engine's two halves composed: per-source document moments (mean
    chars and words per doc, ``group=source`` → block-diagonal K=40)
    are driven to a target mix (+2% for even-numbered sources, −2% for
    odd — the DoReMi-style 'reweight domains toward a target
    distribution' move, done as exact moment matching with minimum-KL
    weight change and production bounds 0.2–5×).  The oracle computes
    the TARGETS arithmetically from the raw table; a converged bounded
    elastic solve reproduces them to ~1e-9 relative, so the rounded
    achieved means hash-match — the full chain (feature prep → grouped
    MomentSpec → packing → elastic IP → weights → achieved moments)
    under one oracle.  100 TB shape: this is exactly the reference's
    production regime (bounded + grouped) applied to corpus curation;
    everything scales as the solver does (2 map-only jobs/iteration,
    Σk_b² gram tiles)."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.lit(1.0).alias("w"),
        F.length("text").cast("double").alias("n_chars"),
        F.size(
            F.filter(
                F.split(F.trim(F.col("text")), r"\s+"), lambda x: x != ""
            )
        ).cast("double").alias("n_words"),
    )
    spec = MomentSpec(
        weight_col="w",
        numeric=("n_chars", "n_words"),
        group=("source",),
        row_key=("doc_id",),
    )
    pt = build_problem_tables(docs, spec)
    factor = F.when(
        F.regexp_extract(F.col("moment_name"), r"grp=src(\d+)\|", 1)
        .cast("int") % 2 == 0,
        F.lit(1.02),
    ).otherwise(F.lit(0.98))
    targets = targets_from_problem(pt).withColumn(
        "target", F.col("target") * factor
    )
    res = entropy_balance(
        mean_population_moments=targets,
        x_sample=pt,
        options={"bounds": (0.2, 5.0), "force_distributed": True},
    )
    from entropy_balance_weighting_spark.operators.weighted_moments import (
        weighted_moment_totals,
    )

    achieved = weighted_moment_totals(
        pt.x_long, res.new_weights, weight_col="new_weight"
    ).join(F.broadcast(pt.moments), "moment_id")
    sum_w0 = pt.w0.agg(F.sum("w0")).first()[0]
    return (
        achieved.select(
            "moment_name",
            F.round(F.col("total") / F.lit(sum_w0), 6).alias(
                "achieved_wmean"
            ),
            F.lit(1 if res.converged else 0).alias("converged"),
        )
        .orderBy("moment_name")
    )
