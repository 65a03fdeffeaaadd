"""Data-quality queries: referential audit, null profile, snapshot diff,
column entropy, key-skew profile — the audits run on a survey frame
before it is reweighted.

Float aggregates are rounded identically on both sides so the DuckDB
oracles match bit-for-bit.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from entropy_balance_weighting_spark.queries.registry import register
from entropy_balance_weighting_spark.session import load_table


def snapshot_diff(
    old_df: DataFrame,
    new_df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus snapshot diff (the data-ops change audit between two
    crawls/exports): classify every id as ``added`` (new only),
    ``removed`` (old only), ``changed`` (both, content hash differs) or
    ``unchanged``.  One FULL OUTER equi-join on the id comparing md5
    content keys — 32 bytes per row cross the shuffle, never the texts.
    Returns ``(id, status)``."""
    o = old_df.select(
        F.col(id_col).alias("id"), F.md5(F.col(text_col)).alias("__ho")
    )
    n = new_df.select(
        F.col(id_col).alias("id"), F.md5(F.col(text_col)).alias("__hn")
    )
    j = o.join(n, "id", "full_outer")
    status = (
        F.when(F.col("__ho").isNull(), F.lit("added"))
        .when(F.col("__hn").isNull(), F.lit("removed"))
        .when(F.col("__ho") != F.col("__hn"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return j.select("id", status.alias("status"))


@register(
    "dq_referential_audit",
    survey="ext:quality-referential",
    oracle="""
SELECT 'customer->nation' AS edge,
       count(*) AS n_children,
       CAST(sum(CASE WHEN n.n_nationkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_orphans
FROM customer c LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
UNION ALL
SELECT 'lineitem->orders' AS edge,
       count(*) AS n_children,
       CAST(sum(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_orphans
FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
UNION ALL
SELECT 'orders->customer' AS edge,
       count(*) AS n_children,
       CAST(sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_orphans
FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
ORDER BY edge
""",
)
def dq_referential_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality audit: orphan counts along the foreign-key edges of
    the star schema, one row per edge.  Each edge is a left join against
    the parent's KEY COLUMN ONLY (pruned scan, broadcast-sized dims
    broadcast) with a conditional count — never a row-collecting
    anti-join, so the audit output is E rows regardless of table size.
    At 100 TB the parent key side of a big-big edge shuffles like any
    equi-join; AQE handles the skewed-key case."""
    def edge(child, ckey, parent, pkey, name):
        c = load_table(spark, sf_dir, child).select(F.col(ckey).alias("ck"))
        p = load_table(spark, sf_dir, parent).select(F.col(pkey).alias("pk"))
        return (
            c.join(p, c.ck == p.pk, "left")
            .agg(
                F.count(F.lit(1)).alias("n_children"),
                F.sum(F.when(F.col("pk").isNull(), 1).otherwise(0))
                .cast("long")
                .alias("n_orphans"),
            )
            .select(F.lit(name).alias("edge"), "n_children", "n_orphans")
        )

    return (
        edge("customer", "c_nationkey", "nation", "n_nationkey", "customer->nation")
        .unionByName(
            edge("lineitem", "l_orderkey", "orders", "o_orderkey", "lineitem->orders")
        )
        .unionByName(
            edge("orders", "o_custkey", "customer", "c_custkey", "orders->customer")
        )
        .orderBy("edge")
    )


@register(
    "dq_null_profile",
    survey="ext:quality-profile",
    oracle="""
SELECT count(*) AS n_rows,
       CAST(count(*) - count(event_id) AS BIGINT) AS null_event_id,
       CAST(count(*) - count(user_id) AS BIGINT) AS null_user_id,
       CAST(count(*) - count(event_type) AS BIGINT) AS null_event_type,
       CAST(count(*) - count(value) AS BIGINT) AS null_value,
       count(DISTINCT user_id) AS d_user_id,
       count(DISTINCT event_type) AS d_event_type
FROM events
""",
)
def dq_null_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass column profile (the data-quality 'describe'): row
    count, per-column null counts, and exact distincts for the key
    columns, all in ONE aggregate — Spark plans the multi-distinct via
    one Expand (no per-column scans).  At 100 TB swap the exact
    distincts for ``approx_count_distinct`` (mergeable HLL)."""
    ev = load_table(spark, sf_dir, "events")
    nulls = [
        (F.count(F.lit(1)) - F.count(c)).cast("long").alias(f"null_{c}")
        for c in ("event_id", "user_id", "event_type", "value")
    ]
    return ev.agg(
        F.count(F.lit(1)).alias("n_rows"),
        *nulls,
        F.countDistinct("user_id").alias("d_user_id"),
        F.countDistinct("event_type").alias("d_event_type"),
    )


@register(
    "dq_snapshot_diff",
    survey="ext:dq-snapshot-diff",
    oracle="""
WITH old AS (
  SELECT doc_id, text FROM documents WHERE doc_id < 450
), new AS (
  SELECT doc_id,
         CASE WHEN doc_id % 10 = 0 THEN text || ' rev2' ELSE text END AS text
  FROM documents WHERE doc_id >= 50
), j AS (
  SELECT coalesce(o.doc_id, n.doc_id) AS id,
         CASE WHEN o.doc_id IS NULL THEN 'added'
              WHEN n.doc_id IS NULL THEN 'removed'
              WHEN md5(o.text) != md5(n.text) THEN 'changed'
              ELSE 'unchanged' END AS status
  FROM old o FULL OUTER JOIN new n ON n.doc_id = o.doc_id
)
SELECT status, count(*) AS n FROM j GROUP BY status ORDER BY status
""",
)
def dq_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus snapshot diff (:func:`snapshot_diff`):
    classify ids as added / removed / changed / unchanged between two
    snapshots — the change audit run between crawls.  One FULL OUTER
    equi-join comparing md5 content keys (32 bytes/row over the shuffle,
    never the text).  Snapshots are simulated from the corpus: old =
    doc_id < 450; new = doc_id >= 50 with every 10th doc revised."""
    docs = load_table(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") < 450).select("doc_id", "text")
    new = docs.filter(F.col("doc_id") >= 50).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 10 == 0, F.concat(F.col("text"), F.lit(" rev2"))
        ).otherwise(F.col("text")).alias("text"),
    )
    diff = snapshot_diff(old, new)
    return diff.groupBy("status").agg(F.count(F.lit(1)).alias("n")).orderBy("status")


@register(
    "dq_column_entropy",
    survey="ext:dq-entropy-profile",
    oracle="""
WITH cols AS (
  SELECT 'lang' AS col, lang AS val FROM documents
  UNION ALL SELECT 'source', source FROM documents
), f AS (
  SELECT col, val, count(*) AS n FROM cols GROUP BY col, val
), tot AS (
  SELECT col, sum(n) AS t FROM f GROUP BY col
)
SELECT f.col,
       count(*) AS n_distinct,
       round(-sum((f.n / CAST(tot.t AS DOUBLE))
                  * ln(f.n / CAST(tot.t AS DOUBLE))), 6) + 0.0 AS entropy_nats
FROM f JOIN tot ON tot.col = f.col
GROUP BY f.col ORDER BY f.col
""",
)
def dq_column_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy profile of categorical columns (the data-quality
    signal behind drift detection and stratification design: a
    near-zero-entropy column is degenerate, a max-entropy one is
    uniform).  Long-unpivot + per-(col, value) counts + one
    Σ p·ln p rollup — one scan, two grouped aggregates, all
    map-side-combinable."""
    docs = load_table(spark, sf_dir, "documents")
    # explode-unpivot instead of a self-union: ONE corpus scan emits both
    # (col, val) streams (the union form scanned documents once per
    # column); the per-(col, val) count table is persisted because it
    # feeds both the per-col total and the entropy rollup — unpersisted,
    # each consumer re-ran the whole unpivot+count (r13 optimization,
    # guide §2.4, spikes/scan_multiplicity.py: 4 scans → 1)
    cols = docs.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("lang").alias("col"), F.col("lang").alias("val")
                ),
                F.struct(
                    F.lit("source").alias("col"),
                    F.col("source").alias("val"),
                ),
            )
        ).alias("cv")
    ).select("cv.col", "cv.val")
    f = cols.groupBy("col", "val").agg(F.count(F.lit(1)).alias("n")).persist()
    tot = f.groupBy("col").agg(F.sum("n").alias("t"))
    p = F.col("n") / F.col("t").cast("double")
    return (
        f.join(tot, "col")
        .groupBy("col")
        .agg(
            F.count(F.lit(1)).alias("n_distinct"),
            # + 0.0 normalizes IEEE negative zero (a single-valued column
            # yields -0.0 from -sum(1·ln 1) in one engine and 0.0 in the
            # other — found by the fuzzed oracle-parity sweep)
            (F.round(-F.sum(p * F.log(p)), 6) + F.lit(0.0)).alias("entropy_nats"),
        )
        .orderBy("col")
    )


@register(
    "dq_skew_profile",
    survey="ext:dq-skew-profile",
    oracle="""
WITH per_key AS (
  SELECT user_id AS key, count(*) AS n FROM events GROUP BY user_id
), tot AS (
  SELECT count(*) AS n_keys, sum(n) AS n_rows, max(n) AS n_max
  FROM per_key
)
SELECT CAST(key AS BIGINT) AS key,
       n,
       CAST((n * 1000000) // n_rows AS BIGINT) AS share_ppm,
       round(n * 1.0 * n_keys / n_rows, 4) AS skew_x,
       CAST(n_keys AS BIGINT) AS n_keys,
       CAST(n_max AS BIGINT) AS key_max_n
FROM per_key, tot
ORDER BY n DESC, key LIMIT 10
""",
)
def dq_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KEY-SKEW diagnosis (the pre-flight every 100 TB shuffle wants):
    per-key cardinality profile of ``events.user_id`` — the top-10
    heaviest keys with exact count, integer-ppm share (``div``
    arithmetic on both engines, no float rounding in the hash), and
    ``skew_x`` = count ÷ mean-per-key (how many average keys this key
    is worth — the number that decides a salt factor: a key at skew_x
    ≈ partition count is the one that serializes a stage).  ``n_keys``
    / ``key_max_n`` ride along so one row answers "how bad, out of how
    many".  Plan: one partial-agg groupBy on the key, then a scalar
    broadcast cross join (allowlisted shape) for the totals — the
    profile costs ONE shuffle of per-key partials regardless of table
    width, which is why it's cheap enough to run before any expensive
    keyed job.  The ORACLE replays count, ppm, and ratio arithmetic."""
    ev = load_table(spark, sf_dir, "events")
    # per_key feeds the totals aggregate AND the profile join; persisted
    # (key-count sized) so the event scan + keyed partial-agg run once,
    # not twice (r13 optimization, guide §2.4)
    per_key = ev.groupBy(F.col("user_id").alias("key")).agg(
        F.count(F.lit(1)).alias("n")
    ).persist()
    tot = per_key.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("n").alias("n_rows"),
        F.max("n").alias("n_max"),
    )
    return (
        per_key.crossJoin(F.broadcast(tot))
        .select(
            F.col("key").cast("long").alias("key"),
            "n",
            F.expr("(n * 1000000) div n_rows").cast("long").alias("share_ppm"),
            F.round(
                F.col("n") * F.lit(1.0) * F.col("n_keys") / F.col("n_rows"), 4
            ).alias("skew_x"),
            F.col("n_keys").cast("long").alias("n_keys"),
            F.col("n_max").cast("long").alias("key_max_n"),
        )
        .orderBy(F.desc("n"), "key")
        .limit(10)
    )
