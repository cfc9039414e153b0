"""SparkSession factory.

Single place where engine-level Spark configuration lives so every
entry point (tests, bench, driver contract) runs with the same
execution posture:

* AQE on (runtime coalescing, skew-join handling) — the 100 TB story
  relies on it, and it costs nothing at test scale.
* Arrow on for every pandas-UDF boundary.
* Session timezone pinned to UTC so timestamps collected from Spark
  compare bit-for-bit with DuckDB's naive UTC timestamps (oracle gate).
* Shuffle partitions sized by env (default 32 = local core count);
  a real cluster deployment overrides via spark-submit conf.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "zolo_spark", cpus: int | None = None) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``cpus`` controls local parallelism; defaults to ``$SPARK_GRAFT_CPUS``
    or 32. On a real cluster the master/memory settings are supplied by
    the launcher and these local-mode settings are ignored.
    """
    n = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # events.parquet carries TIMESTAMP(NANOS) which the vectorized
        # reader rejects; read as long and convert in the loader.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

