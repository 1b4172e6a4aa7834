"""Streaming tests: availableNow drains pinned against batch equivalents."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from csv_parquet_s3_spark.schema import parse_schema
from csv_parquet_s3_spark.sources.tables import load_table
from csv_parquet_s3_spark.streaming.events_stream import (
    hourly_event_rollup,
    session_window_counts,
)
from csv_parquet_s3_spark.streaming.ingest_stream import stream_csv_to_parquet
from csv_parquet_s3_spark.streaming.microbatch import await_stream

SF = "/root/testdata/sf0.001"

MINI = parse_schema(
    {
        "fields": [
            {"name": "id", "type": "INT32", "repetition": "REQUIRED"},
            {"name": "name", "type": "BINARY", "logicalType": "STRING"},
            {"name": "amount", "type": "BINARY", "logicalType": "DECIMAL", "precision": 10, "scale": 2},
        ]
    }
)


def test_stream_csv_to_parquet_drains_and_types(spark, tmp_path):
    csv_dir = tmp_path / "in"
    csv_dir.mkdir()
    (csv_dir / "a.csv").write_text("h1,h2,h3\n1,x,1.005\n2,y,\n")
    (csv_dir / "b.csv").write_text("h1,h2,h3\n3,z,7\n")
    q = stream_csv_to_parquet(
        spark, str(csv_dir), str(tmp_path / "out"), str(tmp_path / "ckpt"), MINI
    )
    await_stream(q, "csv_to_parquet", 120)
    df = spark.read.parquet(str(tmp_path / "out"))
    rows = {r.id: r for r in df.collect()}
    assert len(rows) == 3
    assert str(rows[1].amount) == "1.01" and rows[2].amount is None  # typed + null

    # exactly-once: a second availableNow run sees no new files, adds nothing
    q2 = stream_csv_to_parquet(
        spark, str(csv_dir), str(tmp_path / "out"), str(tmp_path / "ckpt"), MINI
    )
    await_stream(q2, "csv_to_parquet", 120)
    assert spark.read.parquet(str(tmp_path / "out")).count() == 3

    # a newly arriving file IS picked up incrementally
    (csv_dir / "c.csv").write_text("h1,h2,h3\n4,w,2.5\n")
    q3 = stream_csv_to_parquet(
        spark, str(csv_dir), str(tmp_path / "out"), str(tmp_path / "ckpt"), MINI
    )
    await_stream(q3, "csv_to_parquet", 120)
    assert spark.read.parquet(str(tmp_path / "out")).count() == 4


def _drain_to_memory(df, name: str):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    await_stream(q, name, 120)
    return q


def test_streaming_hourly_rollup_matches_batch(spark, tmp_path):
    batch_events = load_table(spark, SF, "events")
    # stage micros-converted events so the stream source sees a supported type
    staged = str(tmp_path / "events_us")
    batch_events.write.parquet(staged)

    stream = spark.readStream.schema(spark.read.parquet(staged).schema).parquet(staged)
    _drain_to_memory(hourly_event_rollup(stream), "hourly_out")
    got = {
        (str(r.hour_start), r.event_type): (r.n_events, r.total_value)
        for r in spark.sql("SELECT * FROM hourly_out").collect()
    }
    want = {
        (str(r.hour_start), r.event_type): (r.n_events, r.total_value)
        for r in hourly_event_rollup(spark.read.parquet(staged)).collect()
    }
    assert got == want and len(want) > 10


def test_streaming_session_windows_match_batch(spark, tmp_path):
    staged = str(tmp_path / "events_us")
    load_table(spark, SF, "events").write.parquet(staged)
    stream = spark.readStream.schema(spark.read.parquet(staged).schema).parquet(staged)
    _drain_to_memory(session_window_counts(stream), "sessions_out")
    got = spark.sql("SELECT * FROM sessions_out")
    want = session_window_counts(spark.read.parquet(staged))
    assert got.count() == want.count() > 0
    assert got.select(F.sum("n_events")).first()[0] == want.select(F.sum("n_events")).first()[0]
    # session count per user matches the lag/cumsum batch sessionizer
    from csv_parquet_s3_spark.operators.relational import q_events_sessionize

    batch_sessions = {
        r.user_id: r.n_sessions for r in q_events_sessionize(spark, SF).collect()
    }
    stream_sessions = {
        r.user_id: r.cnt
        for r in got.groupBy("user_id").agg(F.count("*").alias("cnt")).collect()
    }
    assert stream_sessions == batch_sessions


@pytest.mark.slow
def test_watermark_bounds_streaming_state(spark, tmp_path):
    """The watermark's scale guarantee is STATE EVICTION: windows whose end
    falls below the watermark leave the state store, so a windowed stream
    runs indefinitely at bounded state. (Dropping of late input is
    best-effort in Spark and NOT asserted — this build aggregates a late
    row, then immediately evicts its window.)"""
    import time
    from datetime import datetime

    src = str(tmp_path / "wm_src")
    ck = str(tmp_path / "wm_ck")

    def write_file(rows):
        spark.createDataFrame(
            rows, "event_id bigint, ts timestamp, user_id bigint, event_type string, value double"
        ).coalesce(1).write.mode("append").parquet(src)

    t = lambda h, m=0: datetime(2024, 3, 1, h, m)
    write_file([(1, t(12, 10), 1, "view", 1.0), (2, t(12, 50), 1, "view", 1.0)])
    time.sleep(1.2)  # file-source orders by modification time
    write_file([(3, t(10, 5), 1, "view", 1.0), (4, t(13, 40), 1, "view", 1.0)])

    schema = spark.read.parquet(src).schema
    q = (
        hourly_event_rollup(
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src),
            watermark="30 minutes",
        )
        .writeStream.format("memory")
        .queryName("wm_state")
        .outputMode("append")
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    await_stream(q, "wm_state", 120)

    progress = q.recentProgress
    final_state = progress[-1]["stateOperators"][0]
    evicted = sum(p["stateOperators"][0]["numRowsRemoved"] for p in progress)
    # four windows were touched (10,12,13); only the one still above the
    # final watermark (13:00-14:00, end 14:00 > wm 13:10) may hold state
    assert final_state["numRowsTotal"] == 1
    assert evicted >= 2
    # watermark advanced across batches as event time progressed
    wms = [p["eventTime"].get("watermark") for p in progress]
    assert wms[-1] == "2024-03-01T13:10:00.000Z"


@pytest.mark.slow
def test_stream_upsert_sink(spark, tmp_path):
    """foreachBatch upsert: later batches update matching keys in place and
    append new ones — a mutable keyed target fed by a stream."""
    from csv_parquet_s3_spark.streaming.ingest_stream import stream_upsert_parquet

    target = str(tmp_path / "state_table")
    spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 1.0)], "k bigint, tag string, v double"
    ).write.parquet(target)

    src = str(tmp_path / "updates_src")
    spark.createDataFrame(
        [(2, "b2", 9.0), (3, "c", 5.0)], "k bigint, tag string, v double"
    ).coalesce(1).write.parquet(src)

    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    q = stream_upsert_parquet(spark, stream, target, str(tmp_path / "ck"), key="k")
    await_stream(q, "upsert_sink", 120)

    got = {r.k: (r.tag, r.v) for r in spark.read.parquet(target).collect()}
    assert got == {1: ("a", 1.0), 2: ("b2", 9.0), 3: ("c", 5.0)}


def test_streaming_dedup_drops_replayed_events(spark, tmp_path):
    """dropDuplicatesWithinWatermark: a replayed (duplicate-key) event inside
    the watermark horizon is emitted once; output matches the batch
    dropDuplicates on the same drained input."""
    from csv_parquet_s3_spark.streaming.events_stream import dedup_event_stream

    batch_events = load_table(spark, SF, "events").limit(500)
    staged = str(tmp_path / "events_dup")
    # write the data twice -> every event is replayed once
    batch_events.write.parquet(staged)
    batch_events.write.mode("append").parquet(staged)
    assert spark.read.parquet(staged).count() == 1000

    stream = spark.readStream.schema(spark.read.parquet(staged).schema).parquet(staged)
    q = (
        dedup_event_stream(stream)
        .writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    await_stream(q, "dedup_out", 120)
    got = sorted(r.event_id for r in spark.sql("SELECT * FROM dedup_out").collect())
    want = sorted(
        r.event_id for r in dedup_event_stream(spark.read.parquet(staged)).collect()
    )
    assert got == want
    assert len(got) == 500  # each replayed event emitted exactly once


@pytest.mark.slow
def test_streaming_sliding_windows_match_batch(spark, tmp_path):
    from csv_parquet_s3_spark.streaming.events_stream import sliding_event_rollup

    staged = str(tmp_path / "events_sl")
    load_table(spark, SF, "events").write.parquet(staged)

    stream = spark.readStream.schema(spark.read.parquet(staged).schema).parquet(staged)
    _drain_to_memory(sliding_event_rollup(stream), "sliding_out")
    got = {
        (str(r.window_start), r.event_type): r.n_events
        for r in spark.sql("SELECT * FROM sliding_out").collect()
    }
    want = {
        (str(r.window_start), r.event_type): r.n_events
        for r in sliding_event_rollup(spark.read.parquet(staged)).collect()
    }
    assert got == want and len(want) > 40
    # every event contributes to length/slide = 4 overlapping windows
    n_events = spark.read.parquet(staged).count()
    assert sum(want.values()) == 4 * n_events
