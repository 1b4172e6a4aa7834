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


def user_lifetime_totals_tws(
    events: DataFrame, ttl_ms: int | None = None
) -> DataFrame:
    """The same per-user spend monitor on Spark 4's modern stateful API
    (``transformWithStateInPandas`` + ``StatefulProcessor``): typed
    ``ValueState`` with an optional declarative TTL instead of hand-rolled
    timeout handling, and a state schema that can evolve independently of
    the output schema. Requires the RocksDB state store provider (set by
    the caller's session; tests set it per-query).

    GATED: the API's Python state server speaks protobuf, and this container
    ships no ``protobuf`` package (and installs are pinned), so the
    streaming path raises a clear error here; on a real cluster (protobuf is
    a standard pyspark extra) it runs as written. The batch fallback and the
    ``applyInPandasWithState`` twin (:func:`user_lifetime_totals`) cover the
    semantics in tests either way.

    Output is identical to :func:`user_lifetime_totals` — the test suite
    pins the two APIs equal on the same input stream when protobuf exists.
    """
    if not events.isStreaming:
        from pyspark.sql import functions as F

        return events.groupBy("user_id").agg(
            F.count("*").alias("lifetime_events"),
            F.round(F.sum("value"), 2).alias("lifetime_value"),
        )

    try:
        from google.protobuf import descriptor  # noqa: F401
    except ImportError as exc:  # pragma: no cover - container has no protobuf
        raise RuntimeError(
            "transformWithStateInPandas needs the protobuf package for its "
            "Python state server; install pyspark's protobuf dependency on "
            "the cluster (this container pins installs, so use "
            "user_lifetime_totals, the applyInPandasWithState twin)"
        ) from exc

    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    ttl = ttl_ms

    class SpendMonitor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            import pyspark.sql.types as T

            schema = T.StructType(
                [
                    T.StructField("n", T.LongType(), False),
                    T.StructField("total", T.DoubleType(), False),
                ]
            )
            self._totals = handle.getValueState("totals", schema, ttl)

        def handleInputRows(self, key, rows, timerValues):
            import pandas as pd

            (user_id,) = key
            n, total = self._totals.get() if self._totals.exists() else (0, 0.0)
            for pdf in rows:
                n += len(pdf)
                total += float(pdf["value"].sum())
            self._totals.update((n, round(total, 2)))
            yield pd.DataFrame(
                {
                    "user_id": [user_id],
                    "lifetime_events": [n],
                    "lifetime_value": [round(total, 2)],
                }
            )

        def close(self) -> None:
            pass

    return (
        events.select("user_id", "value")
        .groupBy("user_id")
        .transformWithStateInPandas(
            SpendMonitor(),
            outputStructType=OUTPUT_SCHEMA,
            outputMode="Update",
            # Spark only honours state TTL in ProcessingTime mode; with
            # timeMode="None" a non-None ttl raises at runtime.
            timeMode="ProcessingTime" if ttl_ms is not None else "None",
        )
    )
