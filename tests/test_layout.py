"""Storage-layout sinks: bucketed tables must make same-key joins
exchange-free, and partitioned writes must give scan-time partition
pruning — the two layout facts the 100 TB design leans on."""

from __future__ import annotations

import uuid

from pyspark.sql import functions as F

from entropy_balance_weighting_spark.sources.layout import (
    write_bucketed,
    write_partitioned,
)


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """Two tables bucketed the same way join with ZERO Exchange nodes —
    the amortized-shuffle contract bucketing exists for.  Auto-broadcast
    is disabled for the assertion: at test size Spark would otherwise
    prefer a broadcast join (and mark the scan 'Bucketed: false'); at
    the data sizes bucketing targets, broadcast isn't on the table."""
    a = spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("va")
    )
    b = spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("vb")
    )
    ta, tb = f"ta_{uuid.uuid4().hex[:8]}", f"tb_{uuid.uuid4().hex[:8]}"
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        write_bucketed(a, ta, buckets=4, bucket_by="k", sort_by="k")
        write_bucketed(b, tb, buckets=4, bucket_by="k", sort_by="k")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table(ta).join(spark.table(tb), "k")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, f"bucketed join must not shuffle:\n{plan[:1500]}"
        assert "SortMergeJoin" in plan and "Bucketed: true" in plan
        got = joined.agg(
            F.count(F.lit(1)).alias("n"), F.sum(F.col("va") + F.col("vb")).alias("s")
        ).first()
        assert got["n"] == 1000 and got["s"] == sum(5 * i for i in range(1000))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql(f"DROP TABLE IF EXISTS {ta}")
        spark.sql(f"DROP TABLE IF EXISTS {tb}")


def test_partitioned_write_prunes_at_scan(spark, tmp_path):
    """A filter on the partition column must reach the scan as a
    PartitionFilter (directory pruning at file-listing time, before any
    row I/O) and never appear as a post-scan Filter node."""
    df = spark.range(0, 400).select(
        F.col("id"),
        F.concat(F.lit("src"), (F.col("id") % 4).cast("string")).alias("source"),
    )
    path = str(tmp_path / "part")
    write_partitioned(df, path, ("source",))

    filtered = spark.read.parquet(path).filter(F.col("source") == "src1")
    plan = filtered._jdf.queryExecution().executedPlan().toString()
    # the equality lands in PartitionFilters (pruning), not DataFilters
    pf = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "src1" in pf, f"partition filter not pushed to pruning:\n{plan[:1200]}"
    assert "Filter (" not in plan  # no residual row-level filter node
    assert filtered.count() == 100
    # layout fact: each partition landed as its own directory
    assert sorted(p.name for p in (tmp_path / "part").glob("source=*")) == [
        f"source=src{i}" for i in range(4)
    ]


def test_compact_parquet_reduces_files_losslessly(spark, tmp_path):
    from pyspark.sql import functions as F

    from entropy_balance_weighting_spark.session import load_table
    from entropy_balance_weighting_spark.sources.layout import compact_parquet
    from tests.conftest import SF_SMOKE

    src = str(tmp_path / "frag")
    ev = load_table(spark, SF_SMOKE, "events").select("event_id", "user_id", "value")
    # fragment: many tiny files, the streaming-sink pathology
    ev.repartition(64).write.mode("overwrite").parquet(src)
    import glob

    assert len(glob.glob(f"{src}/*.parquet")) == 64

    dest = str(tmp_path / "compact")
    n = compact_parquet(spark, src, dest, target_file_bytes=1 << 20)
    files = glob.glob(f"{dest}/*.parquet")
    assert len(files) == n < 64

    back = spark.read.parquet(dest)
    assert back.count() == ev.count()
    assert (
        back.agg(F.sum("event_id")).first()[0]
        == ev.agg(F.sum("event_id")).first()[0]
    )

    # sorted variant restores footer locality on the sort column
    dest2 = str(tmp_path / "compact_sorted")
    compact_parquet(spark, src, dest2, target_file_bytes=1 << 20,
                    sort_by=("user_id",))
    import pyarrow.parquet as pq

    spans = []
    for f in glob.glob(f"{dest2}/*.parquet"):
        md = pq.ParquetFile(f).metadata
        for ci in range(md.num_columns):
            col = md.row_group(0).column(ci)
            if col.path_in_schema == "user_id" and col.statistics:
                spans.append((col.statistics.min, col.statistics.max))
    spans.sort()
    # non-overlapping (or barely touching) user_id ranges across files
    overlaps = sum(1 for a, b in zip(spans, spans[1:]) if b[0] < a[1])
    assert overlaps <= 1


def test_s16_bucketed_join_plan_no_exchange_on_join_key(spark):
    """The registered ``s16_bucketed_join`` rides catalog bucketing:
    with broadcast disabled (the regime bucketing targets — at real
    fact-table sizes broadcast isn't on the table) the join over the
    two bucketed tables must be a SortMergeJoin with ZERO Exchange on
    the join key; the only exchange in the whole plan is the
    aggregate's own hashpartitioning on o_orderpriority."""
    from entropy_balance_weighting_spark.queries.ingest import (
        s16_bucketed_join,
    )
    from tests.conftest import SF_SMOKE

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        df = s16_bucketed_join(spark, SF_SMOKE)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan and "Bucketed: true" in plan
        for line in plan.splitlines():
            if "Exchange" in line:
                assert "o_orderpriority" in line, (
                    f"unexpected exchange (join-key shuffle?):\n{line}"
                )
        # and the result itself is non-degenerate
        rows = df.collect()
        assert len(rows) == 5 and all(r["n_items"] > 0 for r in rows)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS ebw_s16_orders")
        spark.sql("DROP TABLE IF EXISTS ebw_s16_lineitem")
