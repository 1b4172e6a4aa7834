"""Custom stateful streaming operator via ``applyInPandasWithState``.

A running per-user spend monitor: for each user, maintain lifetime event
count and value total across micro-batches, emitting the updated totals for
every user seen in a batch. This is the harness for any custom streaming
state machine (fraud scoring, rate limiting, session enrichment) that the
built-in windowed aggregations can't express.

Scale: state is keyed by user_id (one shuffle), held in the state store per
partition, and bounded by an idle-timeout eviction — the standard pattern
for unbounded-key streams.
"""

from __future__ import annotations

from collections.abc import Iterable

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType(), False),
        T.StructField("lifetime_events", T.LongType(), False),
        T.StructField("lifetime_value", T.DoubleType(), False),
    ]
)

STATE_SCHEMA = T.StructType(
    [
        T.StructField("n", T.LongType(), False),
        T.StructField("total", T.DoubleType(), False),
    ]
)


def user_lifetime_totals(
    events: DataFrame, idle_timeout_ms: int | None = None
) -> DataFrame:
    """Stateful per-user running totals over a stream of events.

    Input needs columns (user_id, value). On a batch DataFrame, falls back
    to a plain aggregation with identical output semantics (useful for
    differential testing).

    ``idle_timeout_ms`` bounds state for unbounded-key streams: a key idle
    for that long is evicted from the state store (ProcessingTimeTimeout;
    re-verified working on this Spark build — an earlier build crashed the
    Python state worker on the timeout handshake). With
    ``None``, state is unbounded and eviction belongs to restart-time
    compaction.

    The update function is a nested closure so cloudpickle ships it by
    value — Spark's Python state workers don't need this package installed.
    """
    if not events.isStreaming:
        from pyspark.sql import functions as F

        return events.groupBy("user_id").agg(
            F.count("*").alias("lifetime_events"),
            F.round(F.sum("value"), 2).alias("lifetime_value"),
        )

    timeout_ms = idle_timeout_ms

    def update_user_totals(
        key: tuple, batches: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        import pandas as pd

        (user_id,) = key
        if timeout_ms is not None and state.hasTimedOut:
            # idle eviction: drop the key's state, emit nothing
            state.remove()
            return
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in batches:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, round(total, 2)))
        if timeout_ms is not None:
            state.setTimeoutDuration(timeout_ms)
        yield pd.DataFrame(
            {"user_id": [user_id], "lifetime_events": [n], "lifetime_value": [round(total, 2)]}
        )

    return (
        events.select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            update_user_totals,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=(
                GroupStateTimeout.ProcessingTimeTimeout
                if timeout_ms is not None
                else GroupStateTimeout.NoTimeout
            ),
        )
    )

