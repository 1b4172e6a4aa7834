"""Structured Streaming mirror of the batch CSV→Parquet ingest.

The reference is strictly batch (SURVEY.md §2.2 — its only "incremental"
behavior is re-running on a schedule); this module is the Spark-native
upgrade: a directory-watch stream that converts CSV files to Parquet as they
arrive, using the *same* parse expressions as the batch path, with
exactly-once file handling via checkpointing.

At scale this replaces cron-driven re-scans: the file-source tracks processed
files in the checkpoint, ``maxFilesPerTrigger`` bounds per-batch work, and
the Parquet sink commits atomically per micro-batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from csv_parquet_s3_spark.ingest import parse_column
from csv_parquet_s3_spark.schema import FieldSpec, raw_struct_type
from csv_parquet_s3_spark.streaming.microbatch import run_each_batch


def stream_parse_csv(
    spark: SparkSession, csv_dir: str, specs: list[FieldSpec], max_files_per_trigger: int | None = None
) -> DataFrame:
    """readStream over a CSV directory with the batch parse expressions.

    Strict-violation detection is a batch concept (it needs a second pass);
    the streaming path parses leniently — strict-typed garbage becomes null.
    """
    reader = (
        spark.readStream.schema(raw_struct_type(specs))
        .option("header", "true")
        .option("enforceSchema", "true")
        .option("escape", '"')
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    raw = reader.csv(csv_dir)
    return raw.select(*[parse_column(spec)[0] for spec in specs])


def stream_csv_to_parquet(
    spark: SparkSession,
    csv_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    specs: list[FieldSpec],
    available_now: bool = True,
) -> StreamingQuery:
    """Continuous conversion: CSV arrivals → typed Parquet, exactly-once.

    ``available_now=True`` drains everything currently in the directory and
    stops (the batch-parity mode used in tests); ``False`` runs until
    stopped, converting files as they land.
    """
    parsed = stream_parse_csv(spark, csv_dir, specs)
    writer = (
        parsed.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_upsert_parquet(
    spark,
    source_df,
    target_path: str,
    checkpoint: str,
    key: str,
):
    """Streaming MERGE sink: each micro-batch upserts into a parquet dataset
    by key via ``foreachBatch`` + :func:`maintenance.upsert`.

    This is the idempotent-sink composition Structured Streaming needs for
    mutable targets: replayed batches (after a failure) re-merge the same
    keys instead of duplicating rows — exactly-once *effect* on top of
    at-least-once delivery. The target must exist (bootstrap with an empty
    write) because plain parquet has no create-on-merge.
    """
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from csv_parquet_s3_spark.maintenance import upsert

    def merge_batch(batch_df) -> None:
        # within one batch, last-write-wins per key before merging
        deduped = (
            batch_df.withColumn(
                "_rn",
                F.row_number().over(
                    W.partitionBy(key).orderBy(F.monotonically_increasing_id().desc())
                ),
            )
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        upsert(batch_df.sparkSession, target_path, deduped, key=key)

    return run_each_batch(source_df, merge_batch, checkpoint)
