"""Driver-checkable Structured Streaming: registered queries that REALLY run
a streaming query (file source → watermarked aggregation → availableNow →
memory sink) and return the drained result as a batch DataFrame.

This closes the "streaming is only test-pinned" gap: on a bounded input
drained with ``availableNow`` the watermarked aggregation must produce
exactly the batch answer, so the DuckDB oracle hash-checks an actual
streaming execution — sink, trigger, state store and all — not a batch
twin. ``complete`` output mode keeps every window in the memory sink
(append would withhold windows the final watermark hasn't closed).

At scale the same code runs unbounded: the watermark bounds state, the
trigger becomes processingTime/continuous, and the sink becomes
kafka/parquet — none of which changes the aggregation's semantics, which
is precisely what the oracle pins.
"""

from __future__ import annotations

import os
import shutil
import uuid
from collections.abc import Callable, Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from csv_parquet_s3_spark.maintenance import _staged_overwrite, scratch_dir
from csv_parquet_s3_spark.operators.registry import register
from csv_parquet_s3_spark.sources.tables import (
    events_with_ltz_ts,
    load_table,
    read_parquet,
    table_path,
)
from csv_parquet_s3_spark.streaming.events_stream import (
    hourly_event_rollup,
    session_window_counts,
    sliding_event_rollup,
)
from csv_parquet_s3_spark.streaming.microbatch import await_stream, run_each_batch


def _stage_file(df: DataFrame, directory: str, name: str, mtime: int) -> None:
    """Write ``df`` as the single parquet file ``directory/name`` with
    modification time ``mtime``: FileStreamSource reads oldest-first, so the
    mtimes fix the micro-batch order of a staged stream source."""
    tmp = os.path.join(directory, f"_{name}")
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    part = next(
        f for f in os.listdir(tmp) if f.endswith(".parquet") and not f.startswith("_")
    )
    dst = os.path.join(directory, name)
    shutil.move(os.path.join(tmp, part), dst)
    shutil.rmtree(tmp)
    os.utime(dst, (mtime, mtime))


@contextmanager
def staged_stream(
    spark: SparkSession, frames: list[DataFrame]
) -> Iterator[Callable[[], DataFrame]]:
    """Stage each of ``frames`` as one parquet file, in list order, and yield
    a factory of stream sources over them that read one file per
    micro-batch: frame ``i`` is micro-batch ``i + 1``. Call the factory
    twice for two sources over one directory (a stream-stream join). The
    staging directory is removed on exit, so the streams must drain inside
    the ``with`` block."""
    staging = scratch_dir("spark_graft_staged_")
    try:
        for i, df in enumerate(frames):
            _stage_file(df, staging, f"{i:02d}.parquet", 1_000_000_000 + 100 * i)
        schema = read_parquet(spark, os.path.join(staging, "00.parquet")).schema
        yield lambda: (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .option("pathGlobFilter", "*.parquet")
            .parquet(staging)
        )
    finally:
        shutil.rmtree(staging, ignore_errors=True)


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A streaming view of the events table with the batch loader's ts
    normalization. FileStreamSource wants a DIRECTORY, so a glob filter
    selects just the events file from the shared sf dir."""
    path = table_path(sf_dir, "events")
    return events_with_ltz_ts(
        spark,
        lambda: spark.readStream.schema(read_parquet(spark, path).schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir),
    )


def _drain(
    spark: SparkSession,
    df: DataFrame,
    timeout_s: int = 420,
    mode: str = "complete",
    expect_input_batches: int | None = None,
) -> DataFrame:
    """Run the streaming frame to completion (availableNow) into a memory
    sink and return the sink's content as a batch DataFrame. Aggregations
    drain in ``complete`` mode (keeps windows the final watermark hasn't
    closed); stream-stream INNER joins drain in ``append`` (their only
    supported mode — matches emit eagerly, so a bounded drain is lossless).

    ``expect_input_batches`` is checked by :func:`await_stream` (the
    late-data probe needs its rows in 3 separate batches so the SPARK-40925
    one-batch-lag watermark filter engages).

    The sink's temp view is dropped once the frame is resolved: the frame
    keeps the sink's rows, the session's catalog does not, so a session
    that drains many streams holds only the rows its live frames use."""
    name = "stream_drain_" + uuid.uuid4().hex
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    await_stream(q, name, timeout_s, expect_input_batches)
    # streaming plans live inside the engine, invisible to the returned
    # (memory-sink) frame — when the plan audit is recording, capture the
    # last executed micro-batch's physical plan so stream_* rows show
    # their real shape instead of 0/0/0/0
    from csv_parquet_s3_spark.plans.materialize import current_recorder

    rec = current_recorder()
    if rec is not None:
        try:
            from csv_parquet_s3_spark.plans.explain import analyze_simple

            rec.append(analyze_simple(q._jsq.explainInternal(False)))
        except Exception:  # audit-only telemetry; never fail the drain
            pass
    out = spark.table(name)
    spark.catalog.dropTempView(name)
    return out


@register(
    "stream_events_hourly_rollup",
    oracle="""
    SELECT date_trunc('hour', ts) AS hour_start, event_type,
           COUNT(*) AS n_events,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE)
               AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def stream_events_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling-window rollup executed AS A STREAM and drained;
    must equal the batch GROUP BY hour — the bounded-input equivalence that
    licenses running the same code unbounded."""
    return _drain(spark, hourly_event_rollup(_events_stream(spark, sf_dir)))


@register(
    "stream_events_sliding_rollup",
    oracle="""
    WITH bounds AS (
        SELECT CAST(0 AS BIGINT) + 900 * CAST(k.k AS BIGINT) AS off
        FROM UNNEST(range(0, 4)) AS k(k)
    )
    SELECT CAST(to_timestamp(
               (CAST(floor((epoch(ts) - b.off) / 3600) AS BIGINT) * 3600
                + b.off)) AS TIMESTAMP) AS window_start,
           CAST(to_timestamp(
               (CAST(floor((epoch(ts) - b.off) / 3600) AS BIGINT) * 3600
                + b.off + 3600)) AS TIMESTAMP) AS window_end,
           event_type,
           COUNT(*) AS n_events
    FROM events, bounds b
    GROUP BY 1, 2, 3
    """,
)
def stream_events_sliding_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 1-hour/15-minute windows executed as a stream and drained.
    The oracle replays the window assignment arithmetically: each event
    lands in length/slide = 4 overlapping windows, one per 15-minute
    phase offset."""
    return _drain(spark, sliding_event_rollup(_events_stream(spark, sf_dir)))


@register(
    "stream_events_session_windows",
    oracle="""
    WITH ordered AS (
        SELECT user_id, ts,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                            >= 1800000000
                    THEN 1 ELSE 0 END AS new_s
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    s AS (
        SELECT user_id, ts,
               SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS sid
        FROM ordered
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           COUNT(*) AS n_events
    FROM s GROUP BY user_id, sid
    """,
)
def stream_events_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native gap-based session windows (`session_window`, 30-minute gap)
    executed as a stream and drained. The oracle replays the gap rule with
    lag + running sum: a new session opens when the inter-event gap reaches
    the 30-minute horizon (Spark's session end = last event + gap,
    end-exclusive), session_end = last ts + gap."""
    return _drain(spark, session_window_counts(_events_stream(spark, sf_dir)))


@register(
    "stream_click_purchase_attribution",
    oracle="""
    SELECT c.user_id, c.ts AS click_ts, p.ts AS purchase_ts,
           p.value AS purchase_value
    FROM events c
    JOIN events p
      ON p.user_id = c.user_id
     AND p.ts > c.ts
     AND p.ts <= c.ts + INTERVAL 1 HOUR
    WHERE c.event_type = 'click' AND p.event_type = 'purchase'
    """,
)
def stream_click_purchase_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join (click → purchase attribution within one
    hour) executed as TWO streams joined with watermark-evictable state and
    drained via availableNow — the hardest built-in streaming operator,
    hash-checked against the plain batch self-join. Inner joins emit
    matches eagerly, so the bounded drain in append mode is lossless."""
    from csv_parquet_s3_spark.streaming.stream_join import click_purchase_attribution

    clicks = _events_stream(spark, sf_dir).filter(F.col("event_type") == "click")
    purchases = _events_stream(spark, sf_dir).filter(
        F.col("event_type") == "purchase"
    )
    return _drain(
        spark, click_purchase_attribution(clicks, purchases), mode="append"
    )


@register(
    "stream_bm25_index_maintenance",
    # The streamed-in index must serve exactly the full-corpus ranking, so
    # the oracle IS the end-to-end BM25 oracle (the same contract as the
    # batch-incremental entry `retrieval_bm25_incremental`). It is aliased
    # after the module body (see the _ORACLES assignment below) so this
    # module never needs retrieval imported at decoration time.
    oracle=None,
)
def stream_bm25_index_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 served from an index maintained BY A STREAM: build the stored
    doc-term index on the even-doc_id half, then stream the odd half
    (two staged files → two micro-batches via :func:`staged_stream`) through
    ``foreachBatch`` → ``update_bm25_index`` — each batch tokenized at
    batch cost and MERGE-d by doc_id, statistics refreshed index-sized —
    and answer the top-k query from the stored index only. Hash-equality
    with the full-corpus oracle pins streamed-maintenance ≡ full build
    end to end: the continuous-ingest lifecycle a standing corpus actually
    runs (the IVF index has the same twin, test-pinned in
    tests/test_similarity_index.py; this one is driver-checked).

    Idempotence: the per-batch merge is an upsert keyed by doc_id, so a
    checkpoint replay of a micro-batch cannot duplicate tf rows."""

    from csv_parquet_s3_spark.operators.retrieval import (
        _bm25_serve_from,
        build_bm25_index,
    )
    from csv_parquet_s3_spark.sources.tables import load_table as _lt
    from csv_parquet_s3_spark.streaming.index_stream import stream_update_bm25_index

    docs = _lt(spark, sf_dir, "documents")
    idx = scratch_dir("bm25_stream_idx_")
    build_bm25_index(spark, docs.filter(F.col("doc_id") % 2 == 0), idx)

    odd = docs.filter(F.col("doc_id") % 2 == 1)
    halves = [odd.filter(F.col("doc_id") % 4 == r) for r in (1, 3)]
    with staged_stream(spark, halves) as source:
        ckpt = scratch_dir("bm25_stream_ckpt_")
        q = stream_update_bm25_index(source(), idx, ckpt)
        await_stream(q, "stream_bm25_index_maintenance", expect_input_batches=2)
    return _bm25_serve_from(spark, idx)


# oracle registration for the entry above: force retrieval's registrations
# first (no cycle — retrieval never imports this module), then alias its
# end-to-end BM25 oracle. Done post-decoration so a direct import of this
# module alone still wires the oracle correctly.
from csv_parquet_s3_spark.operators import retrieval as _retrieval  # noqa: E402,F401
from csv_parquet_s3_spark.operators.registry import ORACLES as _ORACLES  # noqa: E402

_ORACLES["stream_bm25_index_maintenance"] = _ORACLES["retrieval_bm25_topk"]


@register(
    "stream_ivf_index_maintenance",
    # Streamed maintenance must serve exactly the full-corpus nprobe
    # ranking, so the oracle IS the plain-IVF from-index oracle — aliased
    # post-decoration below, same pattern as the BM25 twin above.
    oracle=None,
)
def stream_ivf_index_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN search served from an IVF index maintained BY A STREAM: build
    the stored inverted lists on the corpus minus the odd-vec_id tail,
    stream the tail (two staged files → two micro-batches via
    :func:`staged_stream`) through ``foreachBatch`` →
    ``update_ivf_index`` — each batch assigned against the STORED
    quantizer and MERGE-d by vec_id — then answer nprobe top-k from the
    stored index only. Hash-equality with the full-corpus oracle pins
    streamed-maintenance ≡ full build (the BM25 twin above is the lexical
    mirror; both are now driver-checked). Idempotence: the per-batch
    merge is an upsert keyed by vec_id, so a checkpoint replay cannot
    duplicate vectors."""

    from csv_parquet_s3_spark.operators.similarity_index import (
        _SEEDS,
        _TAIL_START,
        _serve_plain_ivf,
        build_ivf_index,
    )
    from csv_parquet_s3_spark.sources.tables import load_table as _lt
    from csv_parquet_s3_spark.streaming.index_stream import stream_update_ivf_index

    emb = _lt(spark, sf_dir, "embeddings")
    tail = (F.col("vec_id") % 2 == 1) & (F.col("vec_id") >= _TAIL_START)
    idx = scratch_dir("ivf_stream_idx_")
    build_ivf_index(spark, emb.filter(~tail), _SEEDS, idx)

    late = emb.filter(tail)
    halves = [late.filter(F.col("vec_id") % 4 == r) for r in (1, 3)]
    with staged_stream(spark, halves) as source:
        ckpt = scratch_dir("ivf_stream_ckpt_")
        q = stream_update_ivf_index(source(), idx, ckpt)
        await_stream(q, "stream_ivf_index_maintenance", expect_input_batches=2)
    return _serve_plain_ivf(spark, emb, idx)


from csv_parquet_s3_spark.operators import similarity_index as _simidx  # noqa: E402,F401
from csv_parquet_s3_spark.operators.similarity_index import (  # noqa: E402
    _ivf_from_index_oracle as _ivf_oracle,
)

_ORACLES["stream_ivf_index_maintenance"] = _ivf_oracle()


@register(
    "stream_click_purchase_left_outer",
    oracle="""
    WITH b AS (SELECT max(ts) AS hi FROM events),
    c AS (
        SELECT user_id, ts AS click_ts FROM events WHERE event_type = 'click'
    ),
    p AS (
        SELECT user_id, ts AS purchase_ts, value
        FROM events WHERE event_type = 'purchase'
    ),
    matched AS (
        SELECT c.user_id, c.click_ts, p.purchase_ts,
               p.value AS purchase_value
        FROM c JOIN p
          ON p.user_id = c.user_id
         AND p.purchase_ts > c.click_ts
         AND p.purchase_ts <= c.click_ts + INTERVAL 1 HOUR
    ),
    unmatched AS (
        SELECT c.user_id, c.click_ts,
               CAST(NULL AS TIMESTAMP) AS purchase_ts,
               CAST(NULL AS DOUBLE) AS purchase_value
        FROM c, b
        WHERE NOT EXISTS (
            SELECT 1 FROM p
            WHERE p.user_id = c.user_id
              AND p.purchase_ts > c.click_ts
              AND p.purchase_ts <= c.click_ts + INTERVAL 1 HOUR
        )
        AND c.click_ts + INTERVAL 1 HOUR < b.hi - INTERVAL 30 MINUTE
    )
    SELECT * FROM matched UNION ALL SELECT * FROM unmatched
    """,
)
def stream_click_purchase_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join, drained and hash-checked:
    every click either matches its in-window purchases (emitted eagerly)
    or emits ONCE with NULL purchase columns — but only after the joint
    watermark strictly passes click_ts + window, which is the eviction
    proof that no matching purchase can still arrive. The oracle replays
    exactly that cutoff: matched pairs ∪ unmatched clicks whose bound is
    strictly below max(ts) − 30 min (strictness verified empirically: a
    click whose bound EQUALS the final watermark stays in state
    unemitted).

    Sequencing: the corpus lands in micro-batch 1; batch 2 plants sentinel
    watermark-carrier rows at max(ts) on BOTH sides (the joint watermark
    is the MIN of the two sides' watermarks, so each side needs its own
    carrier; their own bounds sit above the final watermark, so they never
    emit); batch 3 plants a second sentinel pair so the eviction pass runs
    with the batch-2 watermark — outer-null emission, like late-row
    filtering, uses the PREVIOUS batch's watermark (the SPARK-40925 lag).
    The 3-batch consumption is asserted via recentProgress.

    Scale shape: join state keyed by user_id, evicted at watermark +
    window per side — constant per active user, indefinitely runnable;
    the sentinel machinery is a test-harness artifact."""
    from csv_parquet_s3_spark.streaming.stream_join import (
        click_purchase_left_outer,
    )

    return _staged_outer_join_drain(spark, sf_dir, click_purchase_left_outer)


def _staged_outer_join_drain(spark: SparkSession, sf_dir: str, join_fn) -> DataFrame:
    """Shared harness for the three outer stream-stream join entries: stage
    the events corpus as micro-batch 1, sentinel watermark carriers at
    max(ts) on BOTH sides as batch 2 (the joint watermark is the MIN over
    sides), and a kicker pair as batch 3 so eviction runs with the batch-2
    watermark (SPARK-40925 one-batch lag). The carrier/kicker rows use
    negative ids; their own eviction bounds sit above the final watermark
    so they never emit NULL rows, and the ``user_id >= 0`` filter keeps the
    contract explicit."""

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    hi = ev.agg(F.max("ts").alias("hi")).collect()[0]["hi"]  # bounded: 1 scalar
    if hi is None:
        raise ValueError(
            f"events table at {sf_dir} is empty — the outer-join drain needs "
            "a real corpus to anchor its watermark carriers"
        )
    carriers = [
        spark.createDataFrame(
            [(-i, hi, -i, "click", 0.0), (-i - 1, hi, -i - 1, "purchase", 0.0)],
            schema=ev.schema,
        )
        for i in (2, 4)
    ]
    with staged_stream(spark, [ev, *carriers]) as source:
        clicks = source().filter(F.col("event_type") == "click")
        purchases = source().filter(F.col("event_type") == "purchase")
        drained = _drain(
            spark,
            join_fn(clicks, purchases),
            mode="append",
            expect_input_batches=3,
        )
    # the sentinel carrier/kick clicks are harness artifacts; their bounds
    # sit above the final watermark so they never emit, but the filter keeps
    # the contract explicit
    return drained.filter(F.col("user_id") >= 0)


@register(
    "stream_click_purchase_right_outer",
    oracle="""
    WITH b AS (SELECT max(ts) AS hi FROM events),
    c AS (
        SELECT user_id, ts AS click_ts FROM events WHERE event_type = 'click'
    ),
    p AS (
        SELECT user_id, ts AS purchase_ts, value
        FROM events WHERE event_type = 'purchase'
    ),
    matched AS (
        SELECT c.user_id, c.click_ts, p.purchase_ts,
               p.value AS purchase_value
        FROM c JOIN p
          ON p.user_id = c.user_id
         AND p.purchase_ts > c.click_ts
         AND p.purchase_ts <= c.click_ts + INTERVAL 1 HOUR
    ),
    unmatched AS (
        SELECT p.user_id, CAST(NULL AS TIMESTAMP) AS click_ts,
               p.purchase_ts, p.value AS purchase_value
        FROM p, b
        WHERE NOT EXISTS (
            SELECT 1 FROM c
            WHERE c.user_id = p.user_id
              AND p.purchase_ts > c.click_ts
              AND p.purchase_ts <= c.click_ts + INTERVAL 1 HOUR
        )
        AND p.purchase_ts <= b.hi - INTERVAL 30 MINUTE
    )
    SELECT * FROM matched UNION ALL SELECT * FROM unmatched
    """,
)
def stream_click_purchase_right_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream RIGHT OUTER interval join, drained and hash-checked:
    every purchase either matches its in-window preceding clicks (emitted
    eagerly) or emits ONCE with NULL click columns — the organic-conversion
    feed. The eviction bound is a full window TIGHTER than the left-outer's:
    a purchase can only match clicks STRICTLY BEFORE it, so its NULL row
    emits once the joint watermark REACHES purchase_ts itself (no
    ``+ window`` term — the oracle cutoff is ``purchase_ts <= max(ts) − 30
    min``, INCLUSIVE, pinned empirically in
    tests/test_round8_wave.py::TestStreamOuterJoinCutoffs: a purchase
    exactly at the final watermark emits, unlike the left side's strict
    bound — the asymmetry comes from the strict ``purchase_ts > click_ts``
    half of the condition). Sequencing
    and sentinel machinery are shared with the left-outer entry
    (_staged_outer_join_drain); the SPARK-40925 one-batch eviction lag is
    why the kicker batch exists."""
    from csv_parquet_s3_spark.streaming.stream_join import (
        click_purchase_right_outer,
    )

    return _staged_outer_join_drain(spark, sf_dir, click_purchase_right_outer)


@register(
    "stream_click_purchase_full_outer",
    oracle="""
    WITH b AS (SELECT max(ts) AS hi FROM events),
    c AS (
        SELECT user_id, ts AS click_ts FROM events WHERE event_type = 'click'
    ),
    p AS (
        SELECT user_id, ts AS purchase_ts, value
        FROM events WHERE event_type = 'purchase'
    ),
    matched AS (
        SELECT c.user_id, c.click_ts, p.purchase_ts,
               p.value AS purchase_value
        FROM c JOIN p
          ON p.user_id = c.user_id
         AND p.purchase_ts > c.click_ts
         AND p.purchase_ts <= c.click_ts + INTERVAL 1 HOUR
    ),
    unmatched_c AS (
        SELECT c.user_id, c.click_ts,
               CAST(NULL AS TIMESTAMP) AS purchase_ts,
               CAST(NULL AS DOUBLE) AS purchase_value
        FROM c, b
        WHERE NOT EXISTS (
            SELECT 1 FROM p
            WHERE p.user_id = c.user_id
              AND p.purchase_ts > c.click_ts
              AND p.purchase_ts <= c.click_ts + INTERVAL 1 HOUR
        )
        AND c.click_ts + INTERVAL 1 HOUR < b.hi - INTERVAL 30 MINUTE
    ),
    unmatched_p AS (
        SELECT p.user_id, CAST(NULL AS TIMESTAMP) AS click_ts,
               p.purchase_ts, p.value AS purchase_value
        FROM p, b
        WHERE NOT EXISTS (
            SELECT 1 FROM c
            WHERE c.user_id = p.user_id
              AND p.purchase_ts > c.click_ts
              AND p.purchase_ts <= c.click_ts + INTERVAL 1 HOUR
        )
        AND p.purchase_ts <= b.hi - INTERVAL 30 MINUTE
    )
    SELECT * FROM matched
    UNION ALL SELECT * FROM unmatched_c
    UNION ALL SELECT * FROM unmatched_p
    """,
)
def stream_click_purchase_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream FULL OUTER interval join — the union of the three
    feeds: attributed pairs (eager), unconverted clicks (NULL purchase
    columns once the watermark STRICTLY passes click_ts + window), and
    unattributed purchases (NULL click columns once it REACHES purchase_ts
    — inclusive, see the right-outer entry). The two NULL populations
    surface at different watermark depths AND with different boundary
    semantics because the interval is one-sided — the oracle replays each
    side's own cutoff. Harness shared with the left/right entries."""
    from csv_parquet_s3_spark.streaming.stream_join import (
        click_purchase_full_outer,
    )

    return _staged_outer_join_drain(spark, sf_dir, click_purchase_full_outer)


@register(
    "stream_user_lifetime_totals",
    oracle="""
    SELECT user_id,
           COUNT(*) AS lifetime_events,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE)
               AS lifetime_value
    FROM events
    GROUP BY user_id
    """,
)
def stream_user_lifetime_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator (`applyInPandasWithState` running totals)
    executed as a stream and drained: on a bounded input each key emits its
    final state, which must equal the batch per-user aggregate. The event
    values are exact 2-decimal, so the state's float accumulation rounds to
    the same cents as the oracle's DECIMAL sum (fp error ~1e-12 vs the
    0.005 rounding margin). Update output mode APPENDS a row per key per
    batch into the memory sink, so the drain reduces to the final state per
    key (argmax on the strictly-increasing event count) — the result is
    independent of how the source splits into batches (multi-file layouts,
    maxFilesPerTrigger)."""
    from csv_parquet_s3_spark.streaming.stateful import user_lifetime_totals

    drained = _drain(
        spark,
        user_lifetime_totals(_events_stream(spark, sf_dir)),
        mode="update",
    )
    return drained.groupBy("user_id").agg(
        F.max("lifetime_events").alias("lifetime_events"),
        F.max_by("lifetime_value", "lifetime_events").alias("lifetime_value"),
    )


@register(
    "stream_events_dedup_first_seen",
    oracle="""
    SELECT DISTINCT user_id, event_type FROM events
    """,
)
def stream_events_dedup_first_seen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup (`dropDuplicatesWithinWatermark`) executed as a
    stream and drained: an at-least-once source becomes effectively-once,
    with state bounded to keys seen inside the watermark horizon. Only the
    key columns are emitted (which FULL row survives per key is first-seen
    order, a race on an unordered source; the surviving KEY SET is exact) —
    so the drained result is deterministic and equals DISTINCT keys."""
    from csv_parquet_s3_spark.streaming.events_stream import dedup_event_stream

    deduped = dedup_event_stream(
        _events_stream(spark, sf_dir), keys=["user_id", "event_type"]
    ).select("user_id", "event_type")
    return _drain(spark, deduped, mode="append")


@register(
    "stream_segment_hourly_rollup",
    oracle="""
    SELECT date_trunc('hour', e.ts) AS hour_start, c.c_mktsegment,
           COUNT(*) AS n_events,
           CAST(ROUND(SUM(CAST(e.value AS DECIMAL(12,2))), 2) AS DOUBLE)
               AS total_value
    FROM events e
    JOIN customer c ON c.c_custkey = e.user_id
    GROUP BY 1, 2
    """,
)
def stream_segment_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join + windowed rollup executed as a stream and
    drained: the event stream enriches against the batch customer dimension
    (re-read every micro-batch — dim refreshes flow through), then
    aggregates value by market segment per hour under the watermark. Must
    equal the batch join + GROUP BY — the bounded-input equivalence for the
    stream-static operator."""
    from csv_parquet_s3_spark.streaming.events_stream import segment_hourly_rollup

    customers = load_table(spark, sf_dir, "customer")
    return _drain(
        spark,
        segment_hourly_rollup(
            _events_stream(spark, sf_dir), customers, sf_dir=sf_dir
        ),
    )


@register(
    "stream_scd1_upsert_priority",
    oracle="""
    SELECT o_custkey,
           o_orderpriority AS current_priority,
           o_orderdate AS last_change,
           o_orderkey AS last_orderkey
    FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY o_custkey
                                     ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        FROM orders
    ) t WHERE rn = 1
    """,
)
def stream_scd1_upsert_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC upsert: the orders feed streams through
    ``foreachBatch`` into a parquet current-state table — per batch, reduce
    to the newest row per key, then CONDITIONALLY merge with the stored
    state (newest (o_orderdate, o_orderkey) wins, never batch arrival
    order). The drained state must equal the batch latest-per-key query —
    pinned by the oracle — REGARDLESS of how the source splits into
    micro-batches (no availableNow single-batch assumption): the merge is
    an order-insensitive max-reduce, so any batch partitioning folds to
    the same state.

    At scale this is the MERGE loop every warehouse dimension runs off a
    CDC stream; the staged-swap parquet write stands in for a table
    format's transactional commit.
    """

    from pyspark.sql import Window as W

    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderpriority", "o_orderdate", "o_orderkey"
    )
    target = os.path.join(scratch_dir("scd1_stream_"), "current")

    def _latest(df: DataFrame) -> DataFrame:
        wk = W.partitionBy("o_custkey").orderBy(
            F.desc("o_orderdate"), F.desc("o_orderkey")
        )
        return (
            df.withColumn("rn", F.row_number().over(wk))
            .filter(F.col("rn") == 1)
            .drop("rn")
        )

    def _merge(batch_df: DataFrame) -> None:
        s = batch_df.sparkSession
        latest = _latest(batch_df)
        if os.path.exists(target):
            latest = _latest(read_parquet(s, target).unionByName(latest))
        # staged swap: a reader (or a failed batch) never sees a
        # half-written or missing state
        _staged_overwrite(latest, target, "._upsert-")

    with staged_stream(spark, [orders]) as source:
        q = run_each_batch(source(), _merge, scratch_dir("scd1_stream_ck_"))
        await_stream(q, "stream_scd1_upsert_priority")
    return read_parquet(spark, target).select(
        "o_custkey",
        F.col("o_orderpriority").alias("current_priority"),
        F.col("o_orderdate").alias("last_change"),
        F.col("o_orderkey").alias("last_orderkey"),
    )


# Canonical exact-typed projection of events for the content digest (floats
# excluded — their string forms are not engine-portable; ts keys as integer
# epoch micros for the same reason).
_EV_DIGEST_SPARK = (
    "cast(event_id as string), cast(unix_micros(ts) as string),"
    " cast(user_id as string), event_type"
)
_EV_DIGEST_DUCK = (
    "CAST(event_id AS VARCHAR), CAST(epoch_us(ts) AS VARCHAR),"
    " CAST(user_id AS VARCHAR), event_type"
)


def _ev_digest_oracle() -> str:
    from csv_parquet_s3_spark.operators.advanced import _KMV_HEX_INT

    h = f"md5(concat_ws('|', {_EV_DIGEST_DUCK}))"
    return f"""
    SELECT COUNT(*) AS n_rows,
           CAST(SUM({_KMV_HEX_INT.format(h=h)}) AS BIGINT) AS digest
    FROM events
    """


@register("stream_events_content_digest", oracle=_ev_digest_oracle())
def stream_events_content_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The content digest computed AS A STREAM: Σ-of-row-hashes + count is a
    commutative monoid, so the same fingerprint that validates a batch copy
    maintains itself incrementally over an unbounded feed — each micro-batch
    folds its partial (count, sum) into the running aggregate with no
    reprocessing and no per-key state. Drained on bounded input it must
    equal the batch digest, which is exactly what the oracle pins (same
    canonical projection as `q_table_content_digest`)."""
    from csv_parquet_s3_spark.operators.advanced import _KMV_HEX_INT

    stream = _events_stream(spark, sf_dir)
    row_hash = _KMV_HEX_INT.format(
        h=f"md5(cast(concat_ws('|', {_EV_DIGEST_SPARK}) as binary))"
    )
    agg = stream.agg(
        F.count("*").alias("n_rows"),
        F.sum(F.expr(row_hash)).cast("bigint").alias("digest"),
    )
    return _drain(spark, agg)


@register(
    "stream_segment_bitmap_distinct",
    oracle="""
    SELECT event_type,
           COUNT(DISTINCT user_id) AS n_distinct_users,
           COUNT(DISTINCT user_id // 64) AS n_words
    FROM events
    GROUP BY event_type
    """,
)
def stream_segment_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bitmap distinct-count index MAINTAINED AS A STREAM: the streaming
    aggregation keeps one 64-bit `bit_or` mask per (segment, word) — a
    commutative monoid, so micro-batches fold in without reprocessing and
    the state size is the bitmap, not the event history. The popcount
    rollup runs as a batch query over the drained state (streaming allows
    one aggregation; the index IS that aggregation, the readout is serving).
    Must equal the batch COUNT DISTINCT — two structurally different
    algorithms and execution modes, one answer."""
    stream = _events_stream(spark, sf_dir)
    words = (
        stream.select(
            "event_type",
            F.expr("user_id div 64").alias("w"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(user_id % 64 AS INT))").alias(
                "m"
            ),
        )
        .groupBy("event_type", "w")
        .agg(F.expr("bit_or(m)").alias("mask"))
    )
    drained = _drain(spark, words)
    return drained.groupBy("event_type").agg(
        F.sum(F.expr("bit_count(mask)")).cast("bigint").alias("n_distinct_users"),
        F.count("*").alias("n_words"),
    )


from csv_parquet_s3_spark.operators import statistics as _stats  # noqa: E402
from csv_parquet_s3_spark.operators.registry import ORACLES  # noqa: E402


@register(
    "stream_events_hll_distinct",
    # The streaming fold MUST land on the identical sketch the batch
    # operator computes — reuse its oracle verbatim (same registers, same
    # estimator, same rounding).
    oracle=ORACLES["q_hll_distinct_users"],
)
def stream_events_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The HyperLogLog sketch MAINTAINED AS STREAMING STATE: the streaming
    aggregation keeps one max-rank per register (64 rows of state total —
    MAX is the HLL monoid, so micro-batches fold in associatively), and the
    estimator runs as a batch readout over the drained registers. Must equal
    ``q_hll_distinct_users`` exactly: same md5 register arithmetic, same
    estimate — one answer from two execution modes.

    At scale this is the canonical "distinct users today" dashboard query:
    state is 64 rows regardless of stream volume, and shards' sketches merge
    by register-wise MAX.
    """
    from csv_parquet_s3_spark.operators.statistics import (
        HLL_M,
        _HLL_RHO,
        _HLL_W_BITS,
        _hll_finalize,
    )
    from csv_parquet_s3_spark.operators.advanced import _KMV_HEX_INT

    stream = _events_stream(spark, sf_dir)
    iv_sql = _KMV_HEX_INT.format(
        h="md5(cast(cast(user_id as string) as binary))"
    )
    rho = F.expr(
        _HLL_RHO.format(
            w=f"({iv_sql} div {HLL_M})", maxrho=_HLL_W_BITS + 1, bits=_HLL_W_BITS
        )
    )
    obs = (
        stream.select(
            (F.expr(iv_sql) % HLL_M).cast("int").alias("reg"), rho.alias("rho")
        )
        .groupBy("reg")
        .agg(F.max("rho").alias("rho"))
    )
    drained = _drain(spark, obs)
    ex = load_table(spark, sf_dir, "events").agg(
        F.countDistinct("user_id").alias("exact_distinct")
    )
    return _hll_finalize(spark, drained, ex)


# ---------------------------------------------------------------------------
# Late-data correctness: the one streaming semantics a complete-mode drain
# can never pin. A planted too-late row must be DROPPED by the watermark,
# and append mode must emit exactly the windows the final watermark closed.
# ---------------------------------------------------------------------------
LATE_DELAY = "1 hour"


@register(
    "stream_events_late_data_drop",
    # The oracle sees ONLY the real events table — the planted late row does
    # not exist there. Spark's stream DOES carry the planted row (second
    # micro-batch, event time far below the watermark); hash equality
    # therefore proves the watermark dropped it. The WHERE clause replays
    # append-mode emission: only windows whose end the final watermark
    # (max event time − delay) has passed are in the sink.
    oracle="""
    WITH wm AS (SELECT max(ts) - INTERVAL 1 HOUR AS w FROM events)
    SELECT date_trunc('hour', e.ts) AS hour_start, e.event_type,
           COUNT(*) AS n_events
    FROM events e CROSS JOIN wm
    WHERE date_trunc('hour', e.ts) + INTERVAL 1 HOUR <= wm.w
    GROUP BY 1, 2
    """,
)
def stream_events_late_data_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark LATE-DATA semantics pinned differentially: tumbling 1-hour
    counts in APPEND mode over a 3-micro-batch stream — batch 1 is the real
    events corpus (the watermark advances to max ts − {LATE_DELAY} when it
    commits), batch 3 is one planted row whose event time is the corpus
    minimum, weeks below the watermark. Append emits exactly the closed
    windows; the planted row's window closed long ago, so the row must be
    discarded, and the drained sink must equal the batch aggregate of the
    REAL events alone with the emission cutoff applied — which is what the
    oracle computes. A green hash is an end-to-end proof of both append
    emission and late-row drop; ``complete``-mode drains (every other
    streaming entry here) cannot show either.

    Why THREE batches: since the SPARK-40925 watermark refactor, stateful
    operators filter late input against the PREVIOUS batch's watermark
    (``watermarkPredicateForDataForLateEvents``) while evicting state with
    the current one — so a late row in batch 2 would still be admitted
    (its filter watermark is batch 1's starting value, 0) and then
    immediately emitted by eviction. Verified empirically on this Spark
    build. Batch 2 therefore carries a watermark-neutral row planted AT
    max ts: it lets one watermark cycle commit, and its own window (the
    one containing max ts) can never be emitted because that window's end
    is strictly above the final watermark. Batch 3's probe row then meets
    a non-zero filter watermark and is dropped as documented.

    Mechanics: the batch sequencing is forced with maxFilesPerTrigger=1
    over a staging directory of exactly three files whose modification
    times order them (FileStreamSource processes oldest-first);
    availableNow honors the per-trigger file cap. The staging copy is a
    test-harness artifact — in production the stream reads the landing
    directory directly and the same watermark bounds both state and
    lateness.

    Scale shape: identical to ``stream_events_hourly_rollup`` — state is
    (window × event_type)-sized and watermark-bounded; the planted-row
    machinery adds nothing to the steady-state plan."""

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    b = ev.agg(F.min("ts").alias("lo"), F.max("ts").alias("hi")).collect()[0]
    min_ts, max_ts = b["lo"], b["hi"]  # bounded: 2 scalars
    if min_ts is None or max_ts is None:
        # an empty events table would otherwise surface as an opaque
        # createDataFrame/stream failure on a None timestamp
        raise ValueError(
            f"events table at {sf_dir} is empty — the late-data probe needs "
            "a real corpus to anchor its watermark carrier and probe rows"
        )
    # Watermark carrier: event time = corpus max, so it advances nothing and
    # its window (end > final watermark by construction) is never emitted
    # in append mode — sink content is unaffected.
    carrier = spark.createDataFrame(
        [(-2, max_ts, -2, "wm_carrier", 0.0)], schema=ev.schema
    )
    late = spark.createDataFrame(
        [(-1, min_ts, -1, "late_probe", 0.0)], schema=ev.schema
    )
    with staged_stream(spark, [ev, carrier, late]) as source:
        agg = (
            source()
            .withWatermark("ts", LATE_DELAY)
            .groupBy(F.window("ts", "1 hour").alias("w"), F.col("event_type"))
            .agg(F.count("*").alias("n_events"))
            .select(
                F.col("w.start").alias("hour_start"), "event_type", "n_events"
            )
        )
        return _drain(spark, agg, mode="append", expect_input_batches=3)
