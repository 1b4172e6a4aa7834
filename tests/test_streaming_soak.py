"""Soak the standing index-maintenance streams (r09 verdict #5).

A real deployment runs `stream_update_ivf_index` / `stream_update_bm25_index`
for weeks: every micro-batch's merge localCheckpoints batch-bounded
pre-reads (RDD-level persists nothing else ever frees), so without an
explicit per-batch release the block manager grows by one batch's pins per
trigger, forever — invisible in the 2-batch correctness entries, fatal
under soak. These tests drive TEN micro-batches through each maintenance
stream and assert BOTH:

1. bounded storage — the persisted-RDD set after the drain equals the set
   before it (the ``released_after`` bracket in streaming/microbatch.py
   releases each batch's pins as its merge completes);
2. maintenance ≡ full build — the index that absorbed ten batches serves
   exactly what a fresh full-corpus build serves.
"""

from __future__ import annotations

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE

# slow tier (r13): ten-micro-batch soaks, ~2 min of the suite.
pytestmark = pytest.mark.slow

N_BATCHES = 10


def _drain_in_batches(spark, parts: list[DataFrame], start_stream) -> int:
    """Stream ``parts`` one file per micro-batch (``staged_stream``) into
    ``start_stream`` and return how many micro-batches consumed rows."""
    from csv_parquet_s3_spark.operators.streaming_batch import staged_stream
    from csv_parquet_s3_spark.streaming.microbatch import await_stream

    with staged_stream(spark, parts) as source:
        q = start_stream(source())
        await_stream(q, "maintenance", timeout_s=600)
    return sum(1 for pr in q.recentProgress if pr["numInputRows"] > 0)


def _rows(df: DataFrame) -> list:
    return sorted(map(tuple, df.collect()))


def test_ivf_maintenance_ten_batches_bounded_storage(spark, tmp_path):
    from csv_parquet_s3_spark.operators.similarity_index import (
        _SEEDS,
        _TAIL_START,
        _serve_plain_ivf,
        build_ivf_index,
    )
    from csv_parquet_s3_spark.plans.materialize import (
        persistent_rdd_ids,
        release_persistents,
    )
    from csv_parquet_s3_spark.sources.tables import load_table
    from csv_parquet_s3_spark.streaming.index_stream import (
        stream_update_ivf_index,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings")
    tail = (F.col("vec_id") % 2 == 1) & (F.col("vec_id") >= _TAIL_START)

    idx = str(tmp_path / "ivf_idx")
    build_ivf_index(spark, emb.filter(~tail), _SEEDS, idx)

    full_idx = str(tmp_path / "ivf_full")
    build_ivf_index(spark, emb, _SEEDS, full_idx)

    ckpt = str(tmp_path / "ckpt")
    late = emb.filter(tail)
    parts = [
        late.filter((F.col("vec_id") % 20) == (2 * i + 1))
        for i in range(N_BATCHES)
    ]

    release_persistents(spark)  # drain other tests' leftovers
    before = persistent_rdd_ids(spark)
    n = _drain_in_batches(
        spark, parts, lambda s: stream_update_ivf_index(s, idx, ckpt)
    )
    assert n == N_BATCHES, f"expected {N_BATCHES} micro-batches, saw {n}"
    leaked = persistent_rdd_ids(spark) - before
    assert not leaked, (
        f"{len(leaked)} RDDs left persisted after {n} maintenance "
        f"batches — unbounded storage growth under soak: {leaked}"
    )
    assert _rows(_serve_plain_ivf(spark, emb, idx)) == _rows(
        _serve_plain_ivf(spark, emb, full_idx)
    ), "ten-batch streamed maintenance diverged from a full build"


def test_bm25_maintenance_ten_batches_bounded_storage(spark, tmp_path):
    from csv_parquet_s3_spark.operators.retrieval import (
        _bm25_serve_from,
        build_bm25_index,
    )
    from csv_parquet_s3_spark.plans.materialize import (
        persistent_rdd_ids,
        release_persistents,
    )
    from csv_parquet_s3_spark.sources.tables import load_table
    from csv_parquet_s3_spark.streaming.index_stream import (
        stream_update_bm25_index,
    )

    docs = load_table(spark, SF_SMOKE, "documents")

    idx = str(tmp_path / "bm25_idx")
    build_bm25_index(spark, docs.filter(F.col("doc_id") % 2 == 0), idx)

    full_idx = str(tmp_path / "bm25_full")
    build_bm25_index(spark, docs, full_idx)

    ckpt = str(tmp_path / "ckpt")
    odd = docs.filter(F.col("doc_id") % 2 == 1)
    parts = [
        odd.filter((F.col("doc_id") % 20) == (2 * i + 1))
        for i in range(N_BATCHES)
    ]

    release_persistents(spark)
    before = persistent_rdd_ids(spark)
    n = _drain_in_batches(
        spark, parts, lambda s: stream_update_bm25_index(s, idx, ckpt)
    )
    assert n == N_BATCHES, f"expected {N_BATCHES} micro-batches, saw {n}"
    leaked = persistent_rdd_ids(spark) - before
    assert not leaked, (
        f"{len(leaked)} RDDs left persisted after {n} maintenance "
        f"batches — unbounded storage growth under soak: {leaked}"
    )
    assert _rows(_bm25_serve_from(spark, idx)) == _rows(
        _bm25_serve_from(spark, full_idx)
    ), "ten-batch streamed maintenance diverged from a full build"


def test_concurrent_maintenance_streams_do_not_release_each_other(
    spark, tmp_path
):
    """The r10 advisory's exact scenario: BOTH index-maintenance streams
    run CONCURRENTLY in one session (a standing multi-week deployment).
    Their foreachBatch merges run on separate streaming threads, so the
    ``released_after`` brackets overlap in time — under the old global
    before/after diff, whichever batch finished first would unpersist the
    other stream's in-flight localCheckpoint blocks (truncated lineage:
    cannot recompute → the surviving merge FAILS or corrupts). With
    invocation-scoped pins each bracket releases only what its own thread
    materialized. Asserts both drains complete, zero leaked RDDs, and both
    streamed indexes serve exactly what full builds serve."""
    from csv_parquet_s3_spark.operators.retrieval import (
        _bm25_serve_from,
        build_bm25_index,
    )
    from csv_parquet_s3_spark.operators.similarity_index import (
        _SEEDS,
        _TAIL_START,
        _serve_plain_ivf,
        build_ivf_index,
    )
    from csv_parquet_s3_spark.operators.streaming_batch import staged_stream
    from csv_parquet_s3_spark.plans.materialize import (
        persistent_rdd_ids,
        release_persistents,
    )
    from csv_parquet_s3_spark.sources.tables import load_table
    from csv_parquet_s3_spark.streaming.index_stream import (
        stream_update_bm25_index,
        stream_update_ivf_index,
    )
    from csv_parquet_s3_spark.streaming.microbatch import await_stream

    n_batches = 6
    emb = load_table(spark, SF_SMOKE, "embeddings")
    docs = load_table(spark, SF_SMOKE, "documents")
    tail = (F.col("vec_id") % 2 == 1) & (F.col("vec_id") >= _TAIL_START)

    ivf_idx = str(tmp_path / "ivf_idx")
    build_ivf_index(spark, emb.filter(~tail), _SEEDS, ivf_idx)
    ivf_full = str(tmp_path / "ivf_full")
    build_ivf_index(spark, emb, _SEEDS, ivf_full)

    bm25_idx = str(tmp_path / "bm25_idx")
    build_bm25_index(spark, docs.filter(F.col("doc_id") % 2 == 0), bm25_idx)
    bm25_full = str(tmp_path / "bm25_full")
    build_bm25_index(spark, docs, bm25_full)

    late = emb.filter(tail)
    odd = docs.filter(F.col("doc_id") % 2 == 1)

    release_persistents(spark)
    before = persistent_rdd_ids(spark)

    # start BOTH, then await both — the drains interleave
    with staged_stream(
        spark,
        [late.filter((F.col("vec_id") % 12) == (2 * i + 1)) for i in range(n_batches)],
    ) as ivf_src, staged_stream(
        spark,
        [odd.filter((F.col("doc_id") % 12) == (2 * i + 1)) for i in range(n_batches)],
    ) as bm25_src:
        q_ivf = stream_update_ivf_index(
            ivf_src(), ivf_idx, str(tmp_path / "ivf_ckpt")
        )
        q_bm25 = stream_update_bm25_index(
            bm25_src(), bm25_idx, str(tmp_path / "bm25_ckpt")
        )
        await_stream(q_ivf, "ivf", timeout_s=900)
        await_stream(q_bm25, "bm25", timeout_s=900)
    for q, want in ((q_ivf, n_batches), (q_bm25, n_batches)):
        n = sum(1 for pr in q.recentProgress if pr["numInputRows"] > 0)
        assert n == want, f"expected {want} micro-batches, saw {n}"

    leaked = persistent_rdd_ids(spark) - before
    assert not leaked, (
        f"{len(leaked)} RDDs left persisted after the concurrent "
        f"drains: {leaked}"
    )
    assert _rows(_serve_plain_ivf(spark, emb, ivf_idx)) == _rows(
        _serve_plain_ivf(spark, emb, ivf_full)
    ), "concurrent ivf maintenance diverged from a full build"
    assert _rows(_bm25_serve_from(spark, bm25_idx)) == _rows(
        _bm25_serve_from(spark, bm25_full)
    ), "concurrent bm25 maintenance diverged from a full build"
