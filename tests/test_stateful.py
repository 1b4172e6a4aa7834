"""Custom stateful streaming operator: state accumulates across micro-batches."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from csv_parquet_s3_spark.streaming.microbatch import await_stream
from csv_parquet_s3_spark.streaming.stateful import user_lifetime_totals


def _write_batch(spark, path, rows):
    spark.createDataFrame(rows, "user_id bigint, value double").coalesce(1).write.mode(
        "append"
    ).parquet(path)


@pytest.mark.slow
def test_stateful_totals_accumulate_across_batches(spark, tmp_path):
    # state ops create one state-store partition per shuffle partition per
    # micro-batch; keep the test's state plumbing small
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    try:
        _run_stateful_scenario(spark, tmp_path)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def _run_stateful_scenario(spark, tmp_path):
    src = str(tmp_path / "stream_src")
    _write_batch(spark, src, [(1, 10.0), (1, 5.0), (2, 1.0)])

    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(src)
    q = (
        user_lifetime_totals(stream)
        .writeStream.format("memory")
        .queryName("lifetime")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    await_stream(q, "lifetime", 120)
    got = {r.user_id: (r.lifetime_events, r.lifetime_value)
           for r in spark.sql("SELECT * FROM lifetime").collect()}
    assert got == {1: (2, 15.0), 2: (1, 1.0)}

    # second batch arrives: state must carry over, not reset
    _write_batch(spark, src, [(1, 2.5), (3, 7.0)])
    q2 = (
        user_lifetime_totals(
            spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(src)
        )
        .writeStream.format("memory")
        .queryName("lifetime2")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    await_stream(q2, "lifetime2", 120)
    got2 = {r.user_id: (r.lifetime_events, r.lifetime_value)
            for r in spark.sql("SELECT * FROM lifetime2").collect()}
    # fresh checkpoint replays all files: totals include both batches
    assert got2[1] == (3, 17.5) and got2[3] == (1, 7.0)

    # batch fallback has identical semantics
    batch = user_lifetime_totals(spark.read.parquet(src))
    b = {r.user_id: (r.lifetime_events, r.lifetime_value) for r in batch.collect()}
    assert b == got2


@pytest.mark.slow
def test_idle_timeout_evicts_state(spark, tmp_path):
    """ProcessingTimeTimeout eviction (NOTES #3 retest: works on this build):
    a key idle past the timeout loses its state, so its next event restarts
    the lifetime counters instead of carrying them over."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    try:
        import time

        src = str(tmp_path / "evict_src")
        _write_batch(spark, src, [(1, 10.0)])
        schema = spark.read.parquet(src).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        q = (
            user_lifetime_totals(stream, idle_timeout_ms=500)
            .writeStream.format("memory")
            .queryName("evict")
            .outputMode("update")
            .trigger(processingTime="500 milliseconds")
            .start()
        )
        try:
            deadline = time.time() + 60
            while time.time() < deadline:
                if spark.sql("SELECT * FROM evict").count() >= 1:
                    break
                time.sleep(0.5)
            time.sleep(3)  # let user 1 idle well past the timeout
            _write_batch(spark, src, [(1, 2.0)])
            deadline = time.time() + 60
            while time.time() < deadline:
                rows = spark.sql("SELECT * FROM evict").collect()
                if len(rows) >= 2:
                    break
                time.sleep(0.5)
            counts = sorted(
                (r.lifetime_events, r.lifetime_value)
                for r in spark.sql("SELECT * FROM evict WHERE user_id = 1").collect()
            )
            # evicted between the two events: second emission restarts at 1
            assert counts == [(1, 2.0), (1, 10.0)], counts
        finally:
            q.stop()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)

