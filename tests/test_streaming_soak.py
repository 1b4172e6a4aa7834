"""Soak the standing index-maintenance streams (r09 verdict #5).

A real deployment runs `stream_update_ivf_index` / `stream_update_bm25_index`
for weeks: every micro-batch's merge localCheckpoints batch-bounded
pre-reads (RDD-level persists nothing else ever frees), so without an
explicit per-batch release the block manager grows by one batch's pins per
trigger, forever — invisible in the 2-batch correctness entries, fatal
under soak. These tests drive TEN micro-batches through each maintenance
stream and assert BOTH:

1. bounded storage — the persisted-RDD set after the drain equals the set
   before it (the ``released_after`` bracket in streaming/index_stream.py
   releases each batch's pins as its merge completes);
2. maintenance ≡ full build — the index that absorbed ten batches serves
   exactly what a fresh full-corpus build serves.
"""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE

# slow tier (r13): ten-micro-batch soaks, ~2 min of the suite.
pytestmark = pytest.mark.slow

N_BATCHES = 10


def _mkdirs(tmp_path, *names: str) -> list[str]:
    """Empty directories under pytest's per-test ``tmp_path``."""
    dirs = [tmp_path / n for n in names]
    for d in dirs:
        d.mkdir()
    return [str(d) for d in dirs]


def _stage_files(staging: str, parts: list[DataFrame]) -> None:
    """Write each frame as one parquet file with increasing mtimes so
    maxFilesPerTrigger=1 yields one deterministic micro-batch per file."""
    for i, df in enumerate(parts):
        tmp = os.path.join(staging, f"_{i:02d}")
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = next(
            f for f in os.listdir(tmp)
            if f.endswith(".parquet") and not f.startswith("_")
        )
        dst = os.path.join(staging, f"{i:02d}_batch.parquet")
        shutil.move(os.path.join(tmp, part), dst)
        shutil.rmtree(tmp)
        mtime = 1_000_000_000 + i * 100
        os.utime(dst, (mtime, mtime))


def _drain_in_batches(spark, staging: str, ckpt: str, start_stream) -> int:
    schema = spark.read.parquet(
        os.path.join(staging, "00_batch.parquet")
    ).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "*.parquet")
        .parquet(staging)
    )
    q = start_stream(stream)
    assert q.awaitTermination(600), "maintenance stream did not finish"
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

    staging, ckpt = _mkdirs(tmp_path, "src", "ckpt")
    late = emb.filter(tail)
    _stage_files(
        staging,
        [
            late.filter((F.col("vec_id") % 20) == (2 * i + 1))
            for i in range(N_BATCHES)
        ],
    )

    release_persistents(spark)  # drain other tests' leftovers
    before = persistent_rdd_ids(spark)
    n = _drain_in_batches(
        spark, staging, ckpt,
        lambda s: stream_update_ivf_index(s, idx, ckpt),
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

    staging, ckpt = _mkdirs(tmp_path, "src", "ckpt")
    odd = docs.filter(F.col("doc_id") % 2 == 1)
    _stage_files(
        staging,
        [
            odd.filter((F.col("doc_id") % 20) == (2 * i + 1))
            for i in range(N_BATCHES)
        ],
    )

    release_persistents(spark)
    before = persistent_rdd_ids(spark)
    n = _drain_in_batches(
        spark, staging, ckpt,
        lambda s: stream_update_bm25_index(s, idx, ckpt),
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
    from csv_parquet_s3_spark.plans.materialize import (
        persistent_rdd_ids,
        release_persistents,
    )
    from csv_parquet_s3_spark.sources.tables import load_table
    from csv_parquet_s3_spark.streaming.index_stream import (
        stream_update_bm25_index,
        stream_update_ivf_index,
    )

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

    ivf_src, ivf_ckpt, bm25_src, bm25_ckpt = _mkdirs(
        tmp_path, "ivf_src", "ivf_ckpt", "bm25_src", "bm25_ckpt"
    )
    late = emb.filter(tail)
    _stage_files(
        ivf_src,
        [
            late.filter((F.col("vec_id") % 12) == (2 * i + 1))
            for i in range(n_batches)
        ],
    )
    odd = docs.filter(F.col("doc_id") % 2 == 1)
    _stage_files(
        bm25_src,
        [
            odd.filter((F.col("doc_id") % 12) == (2 * i + 1))
            for i in range(n_batches)
        ],
    )

    release_persistents(spark)
    before = persistent_rdd_ids(spark)

    def file_stream(staging: str):
        schema = spark.read.parquet(
            os.path.join(staging, "00_batch.parquet")
        ).schema
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .option("pathGlobFilter", "*.parquet")
            .parquet(staging)
        )

    # start BOTH, then await both — the drains interleave
    q_ivf = stream_update_ivf_index(
        file_stream(ivf_src), ivf_idx, ivf_ckpt
    )
    q_bm25 = stream_update_bm25_index(
        file_stream(bm25_src), bm25_idx, bm25_ckpt
    )
    assert q_ivf.awaitTermination(900), "ivf stream did not finish"
    assert q_bm25.awaitTermination(900), "bm25 stream did not finish"
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
