"""SparkSession construction tuned for this engine.

Local-mode defaults match the test/bench environment (single JVM,
``local[N]``); the same settings are sensible starting points on a real
cluster — AQE handles runtime re-planning, Arrow speeds the Pandas-UDF
solver kernels, and UTC pinning keeps timestamp semantics aligned with the
DuckDB correctness oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def driver_memory() -> str:
    """``spark.driver.memory`` for a new session: ``SPARK_DRIVER_MEM`` when
    set, else 32g capped at half of physical RAM, so a local-mode driver
    on a small host cannot grow past what the host holds."""
    pinned = os.environ.get("SPARK_DRIVER_MEM")
    if pinned:
        return pinned
    try:
        ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (ValueError, OSError):  # name unknown on this platform
        return "32g"
    return f"{min(32 * 1024, ram // 2 // 2**20)}m"


def get_spark(
    app_name: str = "entropy_balance_weighting_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``SPARK_GRAFT_CPUS`` (driver contract) controls local parallelism;
    shuffle partitions default to the core count — at cluster scale you want
    ~2-3× total cores instead, which callers override via
    ``shuffle_partitions``.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    # Shuffle map outputs and localCheckpoint blocks always touch
    # spark.local.dir; on this single-node setup the disk is far slower
    # than RAM and iowait dominates run-to-run variance, so prefer tmpfs
    # when present.  (On a real cluster you'd leave this to the cluster
    # manager's fast local volumes.)
    local_dir = None
    if os.path.isdir("/dev/shm") and os.access("/dev/shm", os.W_OK):
        local_dir = "/dev/shm/spark-local"

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.driver.memory", driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    if local_dir is not None:
        builder = builder.config("spark.local.dir", local_dir)
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def load_table(spark: SparkSession, sf_dir: str, name: str):
    """Read one of the driver's testdata tables as a DataFrame.

    The ``events`` table stores nanosecond parquet timestamps, which Spark
    only reads via the legacy long fallback; convert back to a (microsecond)
    timestamp with exact integer division — matching DuckDB's own ns→µs
    truncation when it reads the same file."""
    from pyspark.sql import functions as F

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df
