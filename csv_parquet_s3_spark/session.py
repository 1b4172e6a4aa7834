"""SparkSession factory with reference-parity and scale-oriented defaults.

Parity confs (SURVEY.md §4.3): UTC session timezone (the reference parses
timestamps as UTC local-datetimes, ``CsvToParquetConverter.java:133``), Snappy
Parquet compression and 128 MiB row groups (``Main.java:44``,
``CsvToParquetConverter.java:229-230``).

Scale confs: AQE (runtime coalesce + skew-join), parquet filter pushdown,
Arrow-accelerated Python interchange. Shuffle partitions default to the local
core count; on a real cluster this is overridden by the submitter
(``--conf spark.sql.shuffle.partitions=...`` sized to ~2-3× total cores).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# The reference writes Snappy Parquet with 128 MiB row groups (Main.java:44).
# Applied as a per-write option by every Parquet writer; a session conf of
# this name is not a Spark property and Spark drops it.
PARQUET_BLOCK_SIZE = 128 * 1024 * 1024


def default_parallelism() -> int:
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if cpus:
        return int(cpus)
    return os.cpu_count() or 8


def get_spark(
    app_name: str = "csv_parquet_s3_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` for local runs; on a
    cluster the session is typically created by spark-submit and this function
    just applies the engine confs via ``getOrCreate`` conf merging.
    """
    par = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        # --- parity with the reference (SURVEY.md §4.3) ---
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.parquet.compression.codec", "snappy")
        # --- scale/perf posture (design point: 1000-executor cluster) ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # Parquet TIMESTAMP(NANOS) (events.ts) is not a Spark type: read the
        # raw int64 nanos and convert to micros at load (tables.py).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.shuffle.partitions", str(par))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    if master:
        builder = builder.master(master)
    elif "SPARK_MASTER" not in os.environ:
        builder = builder.master(f"local[{par}]")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
