"""Streaming event analytics: watermarked tumbling windows and session
windows over an event stream.

Batch-equivalent semantics to the ``q_events_hourly`` / ``q_events_sessionize``
operators (operators/relational.py): on a bounded input drained with
``availableNow``, the streaming aggregation produces the same rows as the
batch groupBy — which is exactly how the tests pin it.

Scale notes: state is keyed by (window, event_type) / (user, session) and
bounded by the watermark — late events beyond 30 minutes are dropped rather
than growing state forever. That watermark bound is what makes this runnable
indefinitely on a 1000-executor cluster.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def hourly_event_rollup(events: DataFrame, watermark: str = "30 minutes") -> DataFrame:
    """Tumbling 1-hour windows per event_type: count + value sum.

    Works on both a streaming DataFrame (readStream + watermark bounds the
    state) and a batch DataFrame (window() is the same expression).
    """
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    return (
        src.groupBy(F.window("ts", "1 hour").alias("w"), F.col("event_type"))
        .agg(
            F.count("*").alias("n_events"),
            F.expr("CAST(ROUND(SUM(CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE)").alias(
                "total_value"
            ),
        )
        .select(
            F.col("w.start").alias("hour_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def session_window_counts(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Gap-based session windows per user (native session_window operator).

    The streaming-native equivalent of the lag/cumsum sessionization in
    ``q_events_sessionize``: sessions close after ``gap`` of silence.
    """
    src = events.withWatermark("ts", gap) if events.isStreaming else events
    return (
        src.groupBy(F.session_window("ts", gap).alias("sw"), F.col("user_id"))
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("user_id"),
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
        )
    )


def dedup_event_stream(
    events: DataFrame, keys: list[str] | None = None, watermark: str = "30 minutes"
) -> DataFrame:
    """Streaming exactly-once dedup: drop replayed events by key, with state
    bounded by the watermark (``dropDuplicatesWithinWatermark``) — the
    streaming sibling of the batch dedup family (operators/dedup.py). An
    at-least-once source (Kafka replays, retried file commits) becomes
    effectively-once for everything downstream, and state holds only the
    keys seen inside the watermark horizon, so it runs indefinitely.

    On a batch DataFrame this degrades to plain ``dropDuplicates`` over the
    same keys — the differential test pins the two equal on a drained
    bounded stream.
    """
    cols = keys if keys is not None else ["event_id"]
    if not events.isStreaming:
        return events.dropDuplicates(cols)
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(cols)


def sliding_event_rollup(
    events: DataFrame,
    length: str = "1 hour",
    slide: str = "15 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Sliding (overlapping) windows per event_type — the third member of
    the window taxonomy next to :func:`hourly_event_rollup` (tumbling) and
    :func:`session_window_counts` (session). Each event lands in
    length/slide windows; state per key is bounded by the watermark.

    Works identically on batch input (``window`` is the same expression),
    which is how the test pins streaming == batch.
    """
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    return (
        src.groupBy(F.window("ts", length, slide).alias("w"), F.col("event_type"))
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
        )
    )


def segment_hourly_rollup(
    events: DataFrame,
    customers: DataFrame,
    watermark: str = "30 minutes",
    sf_dir: str | None = None,
) -> DataFrame:
    """Stream-static enrichment join + tumbling rollup: the event stream
    joins the (batch) customer dimension on user_id and aggregates value by
    market segment per hour — the canonical "enrich a stream against a
    slowly-refreshed dim table" pipeline stage. The static side re-plans per
    micro-batch (Spark re-reads it each trigger, picking up dim refreshes).

    Broadcast policy: customer is an SF-SCALING table, so
    the hint goes through the ``broadcast_if_small`` size gate when the
    caller passes ``sf_dir`` — under the gate the join stays shuffle-free;
    above it (or with no ``sf_dir`` to measure against) the strategy is
    left to CBO/AQE, which re-sizes the static side per micro-batch and
    still picks broadcast whenever the dim genuinely fits an executor. A
    forced hint has no AQE fallback and would OOM at the 100 TB design
    point.
    """
    from csv_parquet_s3_spark.sources.tables import broadcast_if_small

    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    dim = customers.select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    if sf_dir is not None:
        dim = broadcast_if_small(dim, sf_dir, "customer")
    return (
        src.join(dim, "user_id")
        .groupBy(F.window("ts", "1 hour").alias("w"), F.col("c_mktsegment"))
        .agg(
            F.count("*").alias("n_events"),
            F.expr(
                "CAST(ROUND(SUM(CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE)"
            ).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("hour_start"),
            "c_mktsegment",
            "n_events",
            "total_value",
        )
    )
