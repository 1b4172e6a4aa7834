"""Streaming maintenance of the materialized ANN and BM25 indexes.

At 100 TB embeddings and documents arrive continuously; each index must
absorb them at batch cost without a rebuild. Both entries run the
incremental path (:mod:`..operators.similarity_index`,
:mod:`..operators.retrieval`) per micro-batch through
:func:`..streaming.microbatch.run_each_batch`: each batch is MERGE-d into the
stored index by key — the same upsert-by-key idempotence discipline as
:func:`..streaming.ingest_stream.stream_upsert_parquet`, so checkpoint
replays cannot duplicate rows.

Search sees every drained batch immediately; IVF quantizer retraining
remains an offline rebuild, as in any IVF system.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from csv_parquet_s3_spark.operators.similarity_index import update_ivf_index
from csv_parquet_s3_spark.streaming.microbatch import run_each_batch


def stream_update_ivf_index(vectors: DataFrame, index_path: str, checkpoint: str):
    """Start a streaming query that MERGEs each micro-batch of vectors
    (vec_id, embedding, ...) into the stored IVF index, assigned against the
    STORED quantizer. Returns the StreamingQuery (availableNow)."""
    return run_each_batch(
        vectors,
        lambda batch: update_ivf_index(batch.sparkSession, batch, index_path),
        checkpoint,
    )


def stream_update_bm25_index(docs: DataFrame, index_path: str, checkpoint: str):
    """Streaming maintenance of the BM25 doc-term index: each micro-batch
    of documents (doc_id, text, ...) is tokenized at batch cost and
    MERGE-d into the stored index (`operators.retrieval.update_bm25_index`
    — upsert keyed by doc_id, so checkpoint replays cannot duplicate a
    document's tf rows). Collection statistics (df, avgdl) refresh per batch
    from the merged index — index-sized work, deferrable to a compaction
    cadence at a real deployment. Returns the StreamingQuery."""
    from csv_parquet_s3_spark.operators.retrieval import update_bm25_index

    return run_each_batch(
        docs,
        lambda batch: update_bm25_index(batch.sparkSession, batch, index_path),
        checkpoint,
    )
