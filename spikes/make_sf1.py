"""Materialize an sf1 bench point (10× sf0.1) for the COMPUTE-BOUND
entries — one measured order of magnitude of scaling instead of another
argument about 100× (r12 verdict item #8).

Tables are built by UNIONING 10 KEY-SHIFTED copies of the driver's
sf0.1 parquet (never hand-synthesized distributions — the copies keep
sf0.1's value marginals exactly):

- ``lineitem``: every key column offset by ``i * (max_key + 1)`` per
  copy, so key structure (uniqueness, joinability, Morton spans) scales
  the way TPC-H's generator scales it.
- ``documents``: ``doc_id`` offset per copy; text UNCHANGED.  That is
  distribution-faithful for SCAN/AGGREGATE shapes (counts just scale
  ×10), so the sf1 bench runs only the entries listed in ``SF1_ENTRIES``
  below.

Usage:  python spikes/make_sf1.py   (writes .scratch/sf1/*.parquet)
Then:   SPARK_GRAFT_SF_DIR=$PWD/.scratch/sf1 \
        SPARK_GRAFT_BENCH_ONLY=m1_problem_table_stats \
        python bench.py
(the solver e2e entries run unconditionally from bench.py's
_solver_bench and are the headline compute-bound measurement).
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

SF1_ENTRIES = ["m1_problem_table_stats"]
COPIES = 10


def main() -> None:
    from pyspark.sql import functions as F

    from entropy_balance_weighting_spark.session import get_spark

    src = os.environ.get("SPARK_GRAFT_SF_SRC", "/root/testdata/sf0.1")
    dest = Path(__file__).resolve().parents[1] / ".scratch" / "sf1"
    dest.mkdir(parents=True, exist_ok=True)
    spark = get_spark(app_name="make_sf1")

    li = spark.read.parquet(os.path.join(src, "lineitem.parquet"))
    key_cols = ["l_orderkey", "l_partkey", "l_suppkey"]
    maxes = li.agg(*[F.max(c).alias(c) for c in key_cols]).first()
    omax_pre = int(
        spark.read.parquet(os.path.join(src, "orders.parquet"))
        .agg(F.max("o_orderkey")).first()[0]
    )
    shifted = None
    for i in range(COPIES):
        cp = li
        for c in key_cols:
            step = (
                max(int(maxes[c]), omax_pre) + 1
                if c == "l_orderkey"
                else int(maxes[c]) + 1
            )
            cp = cp.withColumn(c, F.col(c) + F.lit(i * step))
        shifted = cp if shifted is None else shifted.unionByName(cp)
    shifted.repartition(32).write.mode("overwrite").parquet(
        str(dest / "lineitem.parquet")
    )

    orders = spark.read.parquet(os.path.join(src, "orders.parquet"))
    # SAME per-copy o_orderkey shift as lineitem's l_orderkey above, so
    # referential joins stay exact across copies
    shift = max(int(orders.agg(F.max("o_orderkey")).first()[0]),
                int(maxes["l_orderkey"])) + 1
    oshift = None
    for i in range(COPIES):
        cp = orders.withColumn("o_orderkey", F.col("o_orderkey") + F.lit(i * shift))
        oshift = cp if oshift is None else oshift.unionByName(cp)
    oshift.repartition(16).write.mode("overwrite").parquet(
        str(dest / "orders.parquet")
    )

    docs = spark.read.parquet(os.path.join(src, "documents.parquet"))
    max_id = docs.agg(F.max("doc_id")).first()[0]
    dshift = None
    for i in range(COPIES):
        cp = docs.withColumn(
            "doc_id", F.col("doc_id") + F.lit(i * (int(max_id) + 1))
        )
        dshift = cp if dshift is None else dshift.unionByName(cp)
    dshift.repartition(32).write.mode("overwrite").parquet(
        str(dest / "documents.parquet")
    )

    print(
        {
            "sf1_rows": {
                "lineitem": shifted.count(),
                "documents": dshift.count(),
            },
            "dest": str(dest),
            "entries": SF1_ENTRIES,
        }
    )
    spark.stop()


if __name__ == "__main__":
    main()
