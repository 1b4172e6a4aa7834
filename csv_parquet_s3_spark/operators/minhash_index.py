"""Incremental MinHash signature index: the materialized form of near-dup
detection for a continuously-growing corpus.

At 100 TB you never re-shingle the whole corpus per batch. The signature
table (doc_id, shingle set, NUM_PERMS min-hashes — `dedup.signature_table`)
IS the index: build it once, persist it as parquet, and on each ingest batch
compute signatures for the NEW documents only and MERGE them in
(`maintenance.upsert`). Pair generation then runs from the stored index with
zero re-shingling. This is the standard dedup-index lifecycle (build /
update / query) expressed as three dataframe functions.
"""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from csv_parquet_s3_spark.maintenance import scratch_dir, upsert
from csv_parquet_s3_spark.operators.dedup import (
    signature_table,
    verified_pairs_from_signatures,
)
from csv_parquet_s3_spark.operators.registry import ORACLES, register
from csv_parquet_s3_spark.sources.tables import load_table, read_parquet
from csv_parquet_s3_spark.plans.materialize import materialize


def _shingles_of(docs: DataFrame) -> DataFrame:
    toks = docs.select("doc_id", F.split("text", " ").alias("toks")).filter(
        F.size("toks") >= 3
    )
    return toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "array_distinct(transform(sequence(0, size(toks)-3),"
                " i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])))"
            )
        ).alias("shingle"),
    )


def build_index(spark: SparkSession, docs: DataFrame, index_path: str) -> None:
    """Full build: signature rows for every document → parquet index."""
    signature_table(_shingles_of(docs)).write.mode("overwrite").parquet(index_path)


def update_index(spark: SparkSession, new_docs: DataFrame, index_path: str) -> tuple[int, int]:
    """Incremental build: signatures for the NEW batch only, merged by
    doc_id (re-ingested docs get fresh signatures). Cost is proportional to
    the batch, not the corpus. Returns (n_updated, n_inserted)."""
    sigs = signature_table(_shingles_of(new_docs))
    return upsert(spark, index_path, sigs, key="doc_id")


def pairs_from_index(spark: SparkSession, index_path: str) -> DataFrame:
    """Jaccard-verified near-dup pairs straight from the stored index."""
    return verified_pairs_from_signatures(read_parquet(spark, index_path))


def pairs_against_index(
    spark: SparkSession, new_docs: DataFrame, index_path: str
) -> DataFrame:
    """Near-dup pairs between a NEW batch and the EXISTING corpus index —
    the actual per-ingest dedup question ("is this document a dup of
    anything we already have?"). Band keys of the batch join band keys of
    the index, so cost is |batch| × bucket-collisions, never index²;
    verification uses the stored shingle sets. Output: (new_doc_id,
    index_doc_id, jaccard)."""
    from csv_parquet_s3_spark.operators.dedup import (
        JACCARD_THRESHOLD,
        bands_from_signatures,
    )

    # localCheckpoint, not persist(): materializes once for the band join +
    # verification reuse, and its blocks are auto-released by the
    # ContextCleaner on GC (a bare persist() here leaked cache — there is no
    # in-function point where the lazy result has materialized).
    new_sigs = signature_table(_shingles_of(new_docs)).transform(materialize)
    idx_sigs = read_parquet(spark, index_path)
    nb = bands_from_signatures(new_sigs).alias("n")
    ib = bands_from_signatures(idx_sigs).alias("i")
    candidates = (
        nb.join(
            ib,
            (F.col("n.band") == F.col("i.band"))
            & (F.col("n.bucket") == F.col("i.bucket"))
            & (F.col("n.doc_id") != F.col("i.doc_id")),
        )
        .select(
            F.col("n.doc_id").alias("new_doc_id"),
            F.col("i.doc_id").alias("index_doc_id"),
        )
        .distinct()
    )
    zn = new_sigs.select(
        F.col("doc_id").alias("new_doc_id"),
        F.col("sset").alias("sset_n"),
        F.col("n").alias("n_n"),
    )
    zi = idx_sigs.select(
        F.col("doc_id").alias("index_doc_id"),
        F.col("sset").alias("sset_i"),
        F.col("n").alias("n_i"),
    )
    n_common = F.size(F.array_intersect("sset_n", "sset_i"))
    jacc = n_common.cast("double") / (F.col("n_n") + F.col("n_i") - n_common)
    return (
        candidates.join(zn, "new_doc_id")
        .join(zi, "index_doc_id")
        .filter(jacc >= JACCARD_THRESHOLD)
        .select(
            "new_doc_id",
            "index_doc_id",
            F.round(jacc, 6).cast("double").alias("jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# Registered query: incremental index build ≡ full-corpus near-dup pairs.
# ---------------------------------------------------------------------------
@register(
    "dedup_minhash_incremental",
    # The incremental lifecycle must produce exactly the full-corpus pairs,
    # so the oracle IS the full-corpus LSH oracle.
    oracle=ORACLES["dedup_minhash_lsh_pairs"],
)
def dedup_minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs from an INCREMENTALLY built MinHash index: build on the
    even-doc_id half, MERGE the odd half in (`maintenance.upsert`), then
    generate pairs from the stored index only. Hash-equality with the
    full-corpus oracle pins incremental ≡ full build through the driver.
    """
    docs = load_table(spark, sf_dir, "documents")
    idx = scratch_dir("minhash_idx_")
    build_index(spark, docs.filter(F.col("doc_id") % 2 == 0), idx)
    update_index(spark, docs.filter(F.col("doc_id") % 2 == 1), idx)
    return pairs_from_index(spark, idx)


# ---------------------------------------------------------------------------
# Stored-index serving: build the signature index ONCE per source dataset
# (fingerprint-guarded, atomic rename — same lifecycle as the IVF-PQ index
# in similarity_index.py), then answer the pair query from the stored
# parquet with zero re-shingling. This is the shape a standing corpus runs:
# signatures are an ingest-time artifact, pair generation is the recurring
# query.
# ---------------------------------------------------------------------------
def _minhash_index_root(sf_dir: str) -> str:
    import os

    repo = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    tag = os.path.basename(os.path.normpath(sf_dir)) or "default"
    return os.path.join(repo, "spark-warehouse", "minhash_index", tag)


def _documents_fingerprint(sf_dir: str) -> dict:
    import os

    from csv_parquet_s3_spark.sources.tables import table_path

    p = table_path(sf_dir, "documents")
    st = os.stat(p)
    return {"path": p, "size": st.st_size, "mtime_ns": st.st_mtime_ns, "format": 1}


def ensure_minhash_index(spark: SparkSession, sf_dir: str) -> str:
    """Idempotent signature-index materialization for the sf_dir's documents
    table, returning the ACTIVE VERSION directory of a versioned root
    (``maintenance.ensure_published``): skip if the published version's
    fingerprint matches, else build a fresh ``v-<uuid>`` version and
    publish it with one atomic pointer rename — a concurrent reader always
    resolves a complete index; the root is never missing or partial."""
    from csv_parquet_s3_spark.maintenance import ensure_published

    return ensure_published(
        _minhash_index_root(sf_dir),
        _documents_fingerprint(sf_dir),
        lambda staged: build_index(
            spark, load_table(spark, sf_dir, "documents"), f"{staged}/signatures"
        ),
    )


def _batch_vs_index_oracle() -> str:
    """Pairs between the odd-doc_id BATCH and the even-doc_id INDEX: the
    full-corpus LSH oracle restricted to mixed-parity pairs, re-labelled
    (new = odd side, index = even side). Band collision and Jaccard
    verification conditions are identical to the full oracle — signatures
    are a per-document function — so the restriction is exactly a parity
    filter over the verified pair set."""
    from csv_parquet_s3_spark.operators.dedup import (
        _ORACLE_BANDS,
        _ORACLE_PAIR_CTES,
        _ORACLE_SHINGLES,
    )

    return f"""
    WITH {_ORACLE_SHINGLES},
    {_ORACLE_BANDS},
    {_ORACLE_PAIR_CTES}
    SELECT CASE WHEN doc_id_a % 2 = 1 THEN doc_id_a ELSE doc_id_b END
               AS new_doc_id,
           CASE WHEN doc_id_a % 2 = 1 THEN doc_id_b ELSE doc_id_a END
               AS index_doc_id,
           jaccard
    FROM lsh_pairs
    WHERE (doc_id_a % 2) <> (doc_id_b % 2)
    """


@register("dedup_minhash_batch_vs_index", oracle=_batch_vs_index_oracle())
def dedup_minhash_batch_vs_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-ingest dedup question, registered: build the signature index
    on the even-doc_id half, then ask for each ODD document "is it a
    near-dup of anything already indexed?" via `pairs_against_index` —
    batch band keys join index band keys (cost |batch| × bucket
    collisions, never |index|²), verification uses the STORED shingle
    sets. The oracle is the full-corpus LSH oracle restricted to
    mixed-parity pairs, so a green hash pins that probing the stored index
    finds exactly the cross-corpus pairs a monolithic run would.
    """
    docs = load_table(spark, sf_dir, "documents")
    idx = scratch_dir("minhash_probe_idx_")
    build_index(spark, docs.filter(F.col("doc_id") % 2 == 0), idx)
    return pairs_against_index(spark, docs.filter(F.col("doc_id") % 2 == 1), idx)


@register(
    "dedup_minhash_pairs_from_index",
    # Serving from the stored index must produce exactly the end-to-end
    # pairs, so the oracle IS the full-corpus LSH oracle.
    oracle=ORACLES["dedup_minhash_lsh_pairs"],
)
def dedup_minhash_pairs_from_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaccard-verified near-dup pairs served FROM THE STORED signature
    index: band keys and shingle sets come straight off parquet — the
    per-query cost is the band self-join + array intersections, never the
    12-permutation md5 signature pass (that cost was paid once at ingest).
    Cold first call builds the index (visible in bench "runs"); steady
    state is the serving shape a 100 TB corpus actually runs.
    """
    root = ensure_minhash_index(spark, sf_dir)
    return pairs_from_index(spark, f"{root}/signatures")
