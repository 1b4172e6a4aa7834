"""The micro-batch harness: the one await and the one staged stream source."""

from __future__ import annotations

import os

import pytest

from csv_parquet_s3_spark.operators import streaming_batch
from csv_parquet_s3_spark.streaming.microbatch import await_stream


def test_await_stops_a_timed_out_query_and_raises(spark):
    q = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", "1")
        .load()
        .writeStream.format("memory")
        .queryName("await_timeout_probe")
        .start()
    )
    try:
        with pytest.raises(RuntimeError, match="await_timeout_probe"):
            await_stream(q, "await_timeout_probe", timeout_s=1)
        assert not q.isActive
        assert q.id not in {a.id for a in spark.streams.active}
    finally:
        q.stop()


def test_staged_stream_reads_one_frame_per_micro_batch_in_order(
    spark, monkeypatch
):
    made = []
    scratch_dir = streaming_batch.scratch_dir

    def recording_scratch_dir(prefix: str) -> str:
        made.append(scratch_dir(prefix))
        return made[-1]

    monkeypatch.setattr(streaming_batch, "scratch_dir", recording_scratch_dir)

    frames = [spark.createDataFrame([(i,)], "i int") for i in range(3)]
    with streaming_batch.staged_stream(spark, frames) as source:
        drained = streaming_batch._drain(
            spark, source(), mode="append", expect_input_batches=3
        )
        rows = [r.i for r in drained.collect()]
    assert rows == [0, 1, 2]
    assert len(made) == 1 and not os.path.exists(made[0])


def test_drain_leaves_no_sink_view_and_its_frames_keep_their_rows(spark):
    from tests.conftest import SF_SMOKE

    hourly = streaming_batch.stream_events_hourly_rollup(spark, SF_SMOKE)
    sliding = streaming_batch.stream_events_sliding_rollup(spark, SF_SMOKE)
    views = [t.name for t in spark.catalog.listTables()]
    assert not [v for v in views if v.startswith("stream_drain_")], views
    assert hourly.collect() and sliding.collect()
