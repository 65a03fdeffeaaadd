"""Ingest-path queries (S4): CSV scan + vertical concat — the reference's
actual examples ingest multiple CSV files and stacks them (ref:
pums_example.py:85-87 ``pl.scan_csv`` + ``pl.concat(how='vertical')``).

The engine side materializes a two-file CSV copy of the ``nation`` table
under the repo-local scratch dir, reads it back with ``spark.read.csv``
(header + explicit schema — schema inference is a full extra pass at
100 TB, so production paths always declare schemas), stacks with
``unionByName``, and aggregates; the oracle computes the same aggregate
from the original parquet.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from entropy_balance_weighting_spark.queries.registry import register
from entropy_balance_weighting_spark.session import load_table

_SCRATCH = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(__file__))), ".scratch")


@register(
    "s4_csv_union_scan",
    survey="S4,U1,V5",
    oracle="""
SELECT n_regionkey, count(*) AS n_nations,
       CAST(sum(n_nationkey) AS BIGINT) AS key_sum
FROM nation GROUP BY n_regionkey ORDER BY n_regionkey
""",
)
def s4_csv_union_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV source + vertical concat: split nation into two CSV files, read
    both with an explicit schema, ``unionByName``, aggregate."""
    nation = load_table(spark, sf_dir, "nation")
    scratch = os.path.join(_SCRATCH, "s4_csv")
    shutil.rmtree(scratch, ignore_errors=True)
    half_a = nation.filter(F.col("n_nationkey") % 2 == 0)
    half_b = nation.filter(F.col("n_nationkey") % 2 == 1)
    pa, pb = os.path.join(scratch, "a"), os.path.join(scratch, "b")
    half_a.write.mode("overwrite").option("header", True).csv(pa)
    half_b.write.mode("overwrite").option("header", True).csv(pb)
    schema = nation.schema
    df_a = spark.read.csv(pa, header=True, schema=schema)
    df_b = spark.read.csv(pb, header=True, schema=schema)
    stacked = df_a.unionByName(df_b)
    return (
        stacked.groupBy("n_regionkey")
        .agg(
            F.count(F.lit(1)).alias("n_nations"),
            F.sum("n_nationkey").alias("key_sum"),
        )
        .orderBy("n_regionkey")
    )


@register(
    "e9_string_prep",
    survey="E9,V4",
    oracle="""
SELECT substr(p_name, 1, strpos(p_name, ' ') - 1) AS adjective,
       count(*) AS n,
       CAST(sum(CASE WHEN substr(p_name, strpos(p_name, ' ') + 1) LIKE 'g%'
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_g_noun
FROM part
WHERE strpos(p_name, ' ') > 0
GROUP BY adjective ORDER BY adjective
""",
)
def e9_string_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String-function data prep (E9): prefix tests + substring extraction —
    the reference's label-cleaning pattern (``str.starts_with``/``str.slice``,
    ref: pums_example.py:199-205) as Column expressions.  Splits the
    two-word ``p_name`` into adjective/noun via instr+substr and counts
    g-prefixed nouns per adjective."""
    part = load_table(spark, sf_dir, "part")
    head = F.expr("substr(p_name, 1, instr(p_name, ' ') - 1)")
    tail = F.expr("substr(p_name, instr(p_name, ' ') + 1)")
    return (
        part.filter(F.instr("p_name", " ") > 0)
        .select(
            head.alias("adjective"),
            tail.startswith("g").cast("int").alias("is_g"),
        )
        .groupBy("adjective")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("is_g").alias("n_g_noun"),
        )
        .orderBy("adjective")
    )


@register(
    "s8_orc_roundtrip_scan",
    survey="ext:source-orc",
    oracle="""
SELECT s_nationkey, count(*) AS n_suppliers,
       round(sum(s_acctbal), 2) AS bal_sum
FROM supplier GROUP BY s_nationkey ORDER BY s_nationkey
""",
)
def s8_orc_roundtrip_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink + source roundtrip: write ``supplier`` as zlib ORC, read
    it back, and aggregate — Spark's built-in columnar alternative to
    parquet (predicate pushdown and column pruning work identically; at
    100 TB the choice is interop-driven, not performance-driven).  The
    oracle computes the same aggregate from the original parquet, so a
    type drift or row loss in the roundtrip fails the hash."""
    supplier = load_table(spark, sf_dir, "supplier")
    scratch = os.path.join(_SCRATCH, "s8_orc")
    shutil.rmtree(scratch, ignore_errors=True)
    supplier.write.mode("overwrite").option("compression", "zlib").orc(scratch)
    back = spark.read.orc(scratch)
    return (
        back.groupBy("s_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            F.round(F.sum("s_acctbal"), 2).alias("bal_sum"),
        )
        .orderBy("s_nationkey")
    )


@register(
    "s9_gzip_csv_scan",
    survey="ext:source-gzip-csv",
    oracle="""
SELECT n_regionkey, count(*) AS n_nations,
       CAST(sum(length(n_name)) AS BIGINT) AS name_chars
FROM nation GROUP BY n_regionkey ORDER BY n_regionkey
""",
)
def s9_gzip_csv_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gzip-compressed CSV scan: write ``nation`` as ``.csv.gz`` and read
    it back with an explicit schema.  Scale note baked into the plan:
    gzip is NOT splittable — each ``.gz`` file is one task — so a 100 TB
    ingest must shard into many files upstream (this writer repartitions
    to 4 files to make that shape explicit); prefer zstd/bzip2 or
    uncompressed+parquet conversion where splittability matters."""
    nation = load_table(spark, sf_dir, "nation")
    scratch = os.path.join(_SCRATCH, "s9_gzcsv")
    shutil.rmtree(scratch, ignore_errors=True)
    (
        nation.repartition(4)
        .write.mode("overwrite")
        .option("header", True)
        .option("compression", "gzip")
        .csv(scratch)
    )
    back = spark.read.csv(scratch, header=True, schema=nation.schema)
    return (
        back.groupBy("n_regionkey")
        .agg(
            F.count(F.lit(1)).alias("n_nations"),
            F.sum(F.length("n_name")).cast("long").alias("name_chars"),
        )
        .orderBy("n_regionkey")
    )


@register(
    "s10_jsonl_scan",
    survey="ext:source-jsonl",
    oracle="""
SELECT source, count(*) AS n_docs,
       CAST(sum(length(text)) AS BIGINT) AS text_chars,
       CAST(min(doc_id) AS BIGINT) AS min_id,
       CAST(max(doc_id) AS BIGINT) AS max_id
FROM documents GROUP BY source ORDER BY source
""",
)
def s10_jsonl_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines sink + source roundtrip on the ``documents`` table —
    the dominant interchange format for LLM training corpora.  Written
    with Spark's json writer and read back with an EXPLICIT schema
    (``spark.read.json`` without one is a full inference pass over
    100 TB — never do that in production), then aggregated; the oracle
    computes the same aggregate from the original parquet."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    scratch = os.path.join(_SCRATCH, "s10_jsonl")
    shutil.rmtree(scratch, ignore_errors=True)
    docs.write.mode("overwrite").json(scratch)
    back = spark.read.json(scratch, schema=docs.schema)
    return (
        back.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.length("text")).cast("long").alias("text_chars"),
            F.min("doc_id").cast("long").alias("min_id"),
            F.max("doc_id").cast("long").alias("max_id"),
        )
        .orderBy("source")
    )


@register(
    "s14_schema_evolution_scan",
    survey="ext:source-schema-evolution",
    oracle="""
SELECT p_type, count(*) AS n_parts,
       CAST(sum(CASE WHEN p_partkey % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS with_brand,
       CAST(sum(CASE WHEN p_partkey % 2 = 1 THEN length(p_brand)
                     ELSE 0 END) AS BIGINT) AS brand_chars,
       round(sum(p_retailprice), 2) AS price_sum
FROM part GROUP BY p_type ORDER BY p_type
""",
)
def s14_schema_evolution_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet SCHEMA EVOLUTION scan — the ingest reality of any corpus
    that accretes for years: an early batch written WITHOUT a column
    (here ``p_brand``), a later batch WITH it, one ``mergeSchema`` read
    over both (old rows surface the new column as NULL — no rewrite of
    petabytes of history).  Scale notes baked into the plan:
    ``mergeSchema`` is a FOOTER-merge pass over files (cheap but not
    free — production pins the merged schema in a catalog once rather
    than re-deriving it per query; this query demonstrates the read
    path), and evolved columns stay prunable/pushable like any other.
    The oracle recomputes the same aggregate from the original table
    with the batch-split arithmetic inlined, so a lost batch, a
    mis-merged schema, or a non-NULL backfill fails the hash."""
    part = load_table(spark, sf_dir, "part")
    scratch = os.path.join(_SCRATCH, "s14_evo")
    shutil.rmtree(scratch, ignore_errors=True)
    old = part.filter(F.col("p_partkey") % 2 == 0).select(
        "p_partkey", "p_type", "p_retailprice"
    )
    new = part.filter(F.col("p_partkey") % 2 == 1).select(
        "p_partkey", "p_type", "p_retailprice", "p_brand"
    )
    old.write.mode("overwrite").parquet(os.path.join(scratch, "batch=0"))
    new.write.mode("overwrite").parquet(os.path.join(scratch, "batch=1"))
    back = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(scratch, "batch=0"), os.path.join(scratch, "batch=1")
    )
    return (
        back.groupBy("p_type")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.sum(F.col("p_brand").isNotNull().cast("long")).alias(
                "with_brand"
            ),
            F.sum(
                F.when(
                    F.col("p_brand").isNotNull(), F.length("p_brand")
                ).otherwise(0)
            ).cast("long").alias("brand_chars"),
            F.round(F.sum("p_retailprice"), 2).alias("price_sum"),
        )
        .orderBy("p_type")
    )


@register(
    "s15_zorder_skip",
    survey="ext:layout-zorder",
    oracle="""
WITH e AS (
  SELECT CAST(min(l_orderkey) AS BIGINT) AS mn_ok,
         CAST(max(l_orderkey) AS BIGINT) AS mx_ok,
         CAST(min(l_partkey) AS BIGINT) AS mn_pk,
         CAST(max(l_partkey) AS BIGINT) AS mx_pk
  FROM lineitem
), k AS (
  SELECT ((CAST(l_orderkey AS BIGINT) - mn_ok) * 256)
             // (mx_ok - mn_ok + 1) AS bok,
         ((CAST(l_partkey AS BIGINT) - mn_pk) * 256)
             // (mx_pk - mn_pk + 1) AS bpk,
         l_orderkey, l_partkey, mn_ok, mx_ok
  FROM lineitem, e
), z AS (
  SELECT CAST(((bpk >> 7) & 1) * 8 + ((bok >> 7) & 1) * 4
            + ((bpk >> 6) & 1) * 2 + ((bok >> 6) & 1) AS INT) AS zfile,
         l_orderkey, l_partkey, mn_ok, mx_ok
  FROM k
)
SELECT zfile,
       count(*) AS n_rows,
       CAST(min(l_orderkey) AS BIGINT) AS min_ok,
       CAST(max(l_orderkey) AS BIGINT) AS max_ok,
       CAST(min(l_partkey) AS BIGINT) AS min_pk,
       CAST(max(l_partkey) AS BIGINT) AS max_pk,
       (max(l_orderkey) < mn_ok + (mx_ok - mn_ok + 1) // 2
        OR min(l_orderkey) > mn_ok + 3 * (mx_ok - mn_ok + 1) // 4 - 1)
           AS skipped
FROM z GROUP BY zfile, mn_ok, mx_ok ORDER BY zfile
""",
)
def s15_zorder_skip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-ORDER layout + FILE-SKIPPING roundtrip (the OPTIMIZE ZORDER
    maintenance op, driver-checked end to end): ``lineitem`` is
    re-laid-out clustered on (l_orderkey, l_partkey) via the
    ENGINE-REPLAYABLE integer Morton key
    (:func:`sources.layout.zorder_key_int`, bin edges from parquet
    FOOTER stats — :func:`parquet_column_edges`, zero Spark jobs), one
    output file per top-4-bit curve segment
    (:func:`sources.layout.write_partitioned`), then read back as
    per-FILE footer statistics (:func:`parquet_file_stats` — the
    metadata table a skip decision consumes) with each file's
    skip-vs-touch verdict for a fixed orderkey range predicate
    ([mn + span/2, mn + 3·span/4), integer arithmetic).  The ORACLE
    recomputes every file's row count, min/max envelope, and skip flag
    from the RAW table by replaying the Morton-bin arithmetic — so a
    row landing in the wrong file, a footer-stat drift, or a wrong
    skip decision all fail the hash.  100 TB: the write is one
    hash-exchange on the segment id; the skip table is footer-metadata
    only; a real scan with that predicate touches only files with
    ``skipped = false`` (12 of 16 segments skip — min/max envelopes
    in BOTH dimensions at once are what a lexicographic sort cannot
    give the trailing column)."""
    import re as _re

    from entropy_balance_weighting_spark.sources import layout

    src_path = os.path.join(sf_dir, "lineitem.parquet")
    cols = ("l_orderkey", "l_partkey")
    edges = layout.parquet_column_edges(src_path, cols)
    li = load_table(spark, sf_dir, "lineitem").select(*cols)
    key = layout.zorder_key_int(li, cols, bits=8, edges=edges)
    zdf = li.withColumn("zfile", F.shiftright(key, 12).cast("int"))
    scratch = os.path.join(_SCRATCH, "s15_zorder")
    shutil.rmtree(scratch, ignore_errors=True)
    layout.write_partitioned(zdf, scratch, ("zfile",))

    mn_ok, mx_ok = int(edges["l_orderkey"][0]), int(edges["l_orderkey"][1])
    span = mx_ok - mn_ok + 1
    lo, hi = mn_ok + span // 2, mn_ok + (3 * span) // 4 - 1
    per_file: dict[int, list] = {}
    for fpath, n_rows, st in layout.parquet_file_stats(scratch, cols):
        m = _re.search(r"zfile=(\d+)", fpath)
        zf = int(m.group(1))
        okmn, okmx = st["l_orderkey"]
        pkmn, pkmx = st["l_partkey"]
        cur = per_file.setdefault(zf, [0, okmn, okmx, pkmn, pkmx])
        cur[0] += int(n_rows)
        cur[1], cur[2] = min(cur[1], okmn), max(cur[2], okmx)
        cur[3], cur[4] = min(cur[3], pkmn), max(cur[4], pkmx)
    rows = [
        (
            zf,
            c[0],
            int(c[1]),
            int(c[2]),
            int(c[3]),
            int(c[4]),
            bool(int(c[2]) < lo or int(c[1]) > hi),
        )
        for zf, c in sorted(per_file.items())
    ]
    return spark.createDataFrame(
        rows,
        "zfile int, n_rows long, min_ok long, max_ok long, "
        "min_pk long, max_pk long, skipped boolean",
    ).orderBy("zfile")


@register(
    "s16_bucketed_join",
    survey="ext:layout-bucketed",
    oracle="""
SELECT o.o_orderpriority,
       count(*) AS n_items,
       round(sum(l.l_quantity), 2) AS qty_sum,
       round(sum(l.l_extendedprice), 2) AS price_sum
FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
GROUP BY o.o_orderpriority ORDER BY o.o_orderpriority
""",
)
def s16_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BUCKETED-TABLE write + exchange-free co-located join (the
    amortized-shuffle layout contract, driver-checked end to end):
    ``orders`` and ``lineitem`` are written as parquet tables bucketed
    the SAME way on the join key (:func:`sources.layout.write_bucketed`
    — 8 buckets on orderkey, within-bucket sorted, external tables
    under the repo scratch dir), read back THROUGH THE CATALOG, joined
    on the bucket key, and aggregated per order priority.  The ORACLE
    replays the join + aggregate from the raw parquet, so a row lost or
    duplicated by the bucketed write/read path fails the hash.  100 TB:
    bucketing pre-pays the join shuffle ONCE at write time — every
    later join or groupBy on the bucket key runs with zero Exchange on
    that key (`tests/test_layout.py` pins the exchange-free plan with
    broadcast disabled; at driver SF Spark may elect a broadcast join,
    which is also shuffle-free) — the standard layout for a fact table
    joined on the same key by every downstream pipeline."""
    from entropy_balance_weighting_spark.sources import layout

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_extendedprice"
    )
    scratch = os.path.join(_SCRATCH, "s16_bucketed")
    shutil.rmtree(scratch, ignore_errors=True)
    layout.write_bucketed(
        orders, "ebw_s16_orders", buckets=8, bucket_by="o_orderkey",
        sort_by="o_orderkey", path=os.path.join(scratch, "orders"),
    )
    layout.write_bucketed(
        li, "ebw_s16_lineitem", buckets=8, bucket_by="l_orderkey",
        sort_by="l_orderkey", path=os.path.join(scratch, "lineitem"),
    )
    ot = spark.table("ebw_s16_orders")
    lt = spark.table("ebw_s16_lineitem")
    return (
        ot.join(lt, ot["o_orderkey"] == lt["l_orderkey"])
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.sum("l_quantity"), 2).alias("qty_sum"),
            F.round(F.sum("l_extendedprice"), 2).alias("price_sum"),
        )
        .orderBy("o_orderpriority")
    )
