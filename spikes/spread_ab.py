"""A/B: does a scale-adaptive spread of the single-row-group corpus scan
(guide §2.5 "input skew: one huge unsplittable file → repartition right
after the read") pay for its exchange on the benched corpus queries?

Patches ``session.load_table`` BEFORE the query modules import it, so both
arms run the identical registered query code; the B arm hash-repartitions
small scans of the named tables to defaultParallelism.

Usage: python spikes/spread_ab.py [--tables documents,embeddings] q1 q2 ...
"""

from __future__ import annotations

import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

KEYS = {"documents": "doc_id", "embeddings": "vec_id", "events": "user_id"}


def main() -> None:
    tables = {"documents", "embeddings"}
    names = []
    for a in sys.argv[1:]:
        if a.startswith("--tables="):
            tables = set(a.split("=", 1)[1].split(","))
        else:
            names.append(a)

    import entropy_balance_weighting_spark.session as session

    orig = session.load_table
    state = {"spread": False}

    def patched(spark, sf_dir, name):
        from pyspark.sql import functions as F

        df = orig(spark, sf_dir, name)
        if state["spread"] and name in tables:
            target = spark.sparkContext.defaultParallelism
            if df.rdd.getNumPartitions() < max(2, target // 2):
                df = df.repartition(target, F.col(KEYS[name]))
        return df

    session.load_table = patched

    from entropy_balance_weighting_spark.queries import QUERIES

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = session.get_spark(app_name="spread_ab")
    spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).count()

    if not names:
        names = [
            "samp_stratified", "samp_shuffle_order", "samp_domain_mix",
            "samp_fixed_per_stratum", "samp_quality_weighted",
            "dq_column_entropy", "dq_snapshot_diff",
        ]

    def run_once(name: str, spread: bool) -> float:
        q = QUERIES[name]
        state["spread"] = spread
        t0 = time.perf_counter()
        q.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    # Interleave the arms rep by rep and keep each arm's MIN: a host-load
    # burst (this box stalls in multi-second steal bursts) then inflates
    # individual reps, not a whole arm.
    reps = int(os.environ.get("SPREAD_AB_REPS", "5"))
    print(f"{'query':32s} {'A base':>8s} {'B spread':>9s} {'delta':>7s}")
    for name in names:
        run_once(name, False)  # warm both code paths
        run_once(name, True)
        a = b = float("inf")
        for _ in range(reps):
            a = min(a, run_once(name, False))
            b = min(b, run_once(name, True))
        state["spread"] = False
        print(f"{name:32s} {a:8.3f} {b:9.3f} {b - a:+7.3f}", flush=True)

    spark.stop()


if __name__ == "__main__":
    main()
