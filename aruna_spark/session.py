"""SparkSession factory tuned for this engine.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (default 32 threads in a
single JVM); the configuration below is chosen so the *same plan shapes*
survive a 1000-executor cluster at 100 TB:

- AQE on (runtime coalescing, skew-join splitting, dynamic join strategy);
- shuffle partitions sized to the local core count — on a real cluster this
  is overridden (AQE coalesces anyway);
- Arrow on, so any unavoidable pandas-UDF path is batch-vectorized;
- broadcast threshold left at default 10 MB; dimension tables (region,
  nation, supplier at our SFs) broadcast automatically, and operators that
  know a side is small call ``F.broadcast`` explicitly;
- PySpark's per-call call-site capture off
  (``spark.python.sql.dataFrameDebugging.enabled``): with it on, every
  ``F.*``/Column call costs ~5 extra py4j round trips (active-session
  lookup, a conf read, the JVM origin set and clear), about three
  quarters of the round trips of a point query's plan build, and its
  only effect is the Python call site in Spark error context. PySpark
  reads the flag once per process, at the first wrapped call after a
  session exists, so it must be set here, before any Column is built;
- zstd parquet: the maintained layouts are many small files (index
  leaves, sidecars), which zstd writes smaller than snappy. Readers are
  codec-agnostic, so layouts written with either codec read the same.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "aruna-spark", shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Honors ``SPARK_GRAFT_CPUS`` for local parallelism so the driver's
    harness and local pytest runs agree.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # the driver's events table stores TIMESTAMP(NANOS) parquet, which
        # Spark refuses by default; read as long and convert in the catalog
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "zstd")
    )
    # Only force local mode when no master is configured anywhere (submit
    # args, spark-defaults, env). On a real cluster the configured master
    # wins; hardcoding local[N] here would silently de-cluster the job.
    from pyspark import SparkConf

    if not SparkConf().contains("spark.master") and not os.environ.get("SPARK_MASTER"):
        builder = builder.master(f"local[{cpus}]")
    return builder.getOrCreate()
