"""SparkSession factory with scale-oriented defaults.

Single place where we pin the configuration that correctness depends on
(UTC session timezone, Arrow) and the configuration that scale depends on
(AQE, shuffle partitions, broadcast threshold). Tests, tools and the
benchmark all go through :func:`get_spark` so local runs and cluster runs
only differ in ``master`` / partition counts.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))
DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def get_spark(app_name: str = "ml-feature-store-spark", master: str | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's required config.

    Correctness-critical settings:
      * ``spark.sql.session.timeZone=UTC`` — the reference uses naive
        timestamps throughout (reference: src/ml_feature_store/store.py:27
        declares UTC but never applies it); pinning UTC makes naive-vs-aware
        never change results.
      * Arrow enabled for any pandas interchange (fast, type-stable).

    Scale-critical settings:
      * AQE on (runtime coalescing, skew-join splitting).
      * Explicit shuffle partition count sized to the deployment; on a real
        cluster raise via SPARK_GRAFT_SHUFFLE_PARTITIONS (rule of thumb:
        2-3x total executor cores, or let AQE coalesce from a high initial).
    """
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{DEFAULT_CPUS}]")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(DEFAULT_SHUFFLE_PARTITIONS))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Python Data Source API: let the planner call pushFilters on
        # Python connectors (sources/pyds.py prunes partitions with it).
        .config("spark.sql.python.filterPushdown.enabled", "true")
        # Spark 4 cannot read parquet TIMESTAMP(NANOS) natively (errors with
        # PARQUET_TYPE_ILLEGAL); read as long and convert in the loader.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Naive (isAdjustedToUTC=false) parquet timestamps must read as
        # session-tz TIMESTAMP, not TIMESTAMP_NTZ: the whole engine pins
        # session tz to UTC, and TIMESTAMP keeps unix_micros()/date
        # comparisons and scan-level predicate pushdown working uniformly.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    return builder.getOrCreate()
