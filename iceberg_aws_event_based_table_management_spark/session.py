"""SparkSession factory (SURVEY.md SS7 M0).

Local-mode defaults tuned for the test harness, but every setting is
chosen for the 100 TB design point too: AQE on (runtime coalesce +
skew-join handling), Arrow on (vectorized Python boundary), UTC
session timezone (deterministic timestamp semantics vs the DuckDB
oracle), and shuffle partitions sized to the local core count rather
than the 200 default (on a real cluster this is set to ~2-3x total
cores; AQE coalesces down from there).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "ebtm-spark", shuffle_partitions: int | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # The fixtures store TIMESTAMP(MICROS); an events file written
        # with TIMESTAMP(NANOS) is rejected without this conf (Spark
        # 4.1.2 included).  With it the column reads as long ns, which
        # io.table truncates to micros as DuckDB does.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    return builder.getOrCreate()
