"""Date-partitioned dataset layout: directory-level partition pruning.

At 100 TB the cheapest scan is the one that never opens the file: laying an
event table out as ``path/event_date=YYYY-MM-DD/*.parquet`` turns every
time-range predicate into directory pruning — Spark's scan lists only the
matching partitions (``PartitionFilters`` in the plan), so a one-day query
over a three-year table touches 1/1000 of the files before a single byte of
data is read.

The reference writes flat directories only (`Main.java:52-55`); this is the
standard lakehouse layout its pipeline would grow into.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from csv_parquet_s3_spark.sources.tables import read_parquet

PARTITION_COL = "event_date"


def write_partitioned_by_day(
    df: DataFrame, path: str, ts_col: str = "ts", mode: str = "overwrite"
) -> None:
    """Write ``df`` partitioned by the calendar day of ``ts_col``.

    The partition column is derived (kept alongside the original timestamp);
    writers at scale should also size partitions via AQE or a pre-write
    ``repartition(PARTITION_COL)`` so each day lands as few large files.
    """
    (
        df.withColumn(PARTITION_COL, F.to_date(F.col(ts_col)))
        .repartition(F.col(PARTITION_COL))
        .write.mode(mode)
        .partitionBy(PARTITION_COL)
        .option("compression", "snappy")
        .parquet(path)
    )


def read_day_range(
    spark: SparkSession, path: str, start_day: str, end_day: str
) -> DataFrame:
    """Scan only the partitions in [start_day, end_day] — the filter is on
    the partition column, so it prunes directories, not rows."""
    return read_parquet(spark, path).filter(
        (F.col(PARTITION_COL) >= start_day) & (F.col(PARTITION_COL) <= end_day)
    )
