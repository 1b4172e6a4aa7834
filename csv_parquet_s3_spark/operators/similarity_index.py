"""Incremental IVF index: the materialized ANN index for a growing corpus.

Mirror of :mod:`minhash_index` for vectors. The index is two parquet
datasets under one root:

- ``centroids/`` — the coarse quantizer (list_id, centroid vector, norm);
  fixed at build time (retraining = rebuild, as in any IVF system);
- ``assign/``    — the inverted lists (vec_id, list_id, vector, norm),
  updated per ingest batch by assigning ONLY the new vectors against the
  stored centroids and MERGE-ing (`maintenance.upsert`).

Search probes the top-``nprobe`` lists per query against ``assign/`` —
cost per query tracks nprobe/K of the corpus, and index maintenance cost
tracks the batch, never the corpus.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from csv_parquet_s3_spark.maintenance import scratch_dir, upsert
from csv_parquet_s3_spark.operators.registry import register
from csv_parquet_s3_spark.operators.similarity import (
    _ORACLE_DOT,
    _ORACLE_NORM,
    K_LISTS,
    N_PROBE,
    N_QUERIES,
    TOP_K,
    _dot,
    _with_norm,
)
from csv_parquet_s3_spark.sources.tables import (
    load_table,
    read_parquet,
    read_small_table,
)
from csv_parquet_s3_spark.plans.materialize import materialize


def _centroid_frame(cent: DataFrame) -> DataFrame:
    return cent.select(
        "list_id", F.col("vd").alias("cv"), F.col("norm").alias("cnorm")
    )


def _assign(vectors: DataFrame, centroids: DataFrame) -> DataFrame:
    """Nearest-centroid assignment (rounded cosine, list_id tie-break)."""
    return _best_sim(vectors, centroids).select("vec_id", "vd", "norm", "list_id")


def _write_list_clustered(df: DataFrame, k: int, path: str) -> None:
    """Write an inverted-list artifact hive-partitioned by list_id (layout
    format 4): one ``list_id=N/`` subdirectory per list — the inverted list
    made literal in the filesystem. The hash repartition on list_id puts
    each list in exactly one task, so each directory holds one file; a
    probe then prunes unprobed lists at FILE-LISTING time (directory-level
    partition pruning — the unprobed directories are never even listed,
    strictly stronger than the format-3 footer min/max skip, which still
    opened every footer). At 100 TB a hot list larger than one target file
    would repartition on (list_id, salt) to split within its directory;
    list membership is never spread across directories either way."""
    (
        df.repartition(int(k), "list_id")
        .write.mode("overwrite")
        .partitionBy("list_id")
        .parquet(path)
    )


def _read_lists(spark: SparkSession, path: str) -> DataFrame:
    """Read a list-clustered artifact with a stable schema: the hive
    partition column comes back as INT (directory-name inference), and a
    post-delete/post-upsert rewrite is a flat table whose list_id is
    BIGINT data — normalize both to BIGINT. Catalyst unwraps the cast
    before pruning (UnwrapCastInBinaryComparison), so partition filters
    still reach the directory listing (plan-pinned in
    tests/test_round8_wave.py)."""
    return read_parquet(spark, path).withColumn(
        "list_id", F.col("list_id").cast("bigint")
    )


def _mark_selective(df: DataFrame) -> DataFrame:
    """Re-attach an (always-true) selective predicate after materialize():
    Spark's DynamicPartitionPruning rule only inserts the pruning subquery
    when the build side has a filter beyond IsNotNull, and the
    localCheckpoint that makes the probes frame reusable truncates the
    real ``rn <= nprobe`` filter out of the lineage. ``list_id >= 0`` is
    vacuous over dense_rank-assigned ids but restores DPP eligibility."""
    return df.filter(F.col("list_id") >= 0)


def _restrict_to_probed(tbl: DataFrame, probes: DataFrame) -> DataFrame:
    """Restrict a list-clustered artifact scan to the probed lists: the
    broadcast join of the distinct probed-list set triggers dynamic
    partition pruning, so unprobed list directories are never read.
    ``probes`` must carry a ``list_id`` column; the returned frame has
    exactly ``tbl``'s columns (the set is distinct, so row multiplicity is
    unchanged)."""
    lists = _mark_selective(probes.select("list_id").distinct())
    return tbl.join(F.broadcast(lists), "list_id")


def build_ivf_index(
    spark: SparkSession,
    vectors: DataFrame,
    centroid_vec_ids: list[int],
    index_path: str,
    train_iters: int = 0,
) -> None:
    """Full build: quantizer from the given seed vectors + inverted lists
    for every vector. ``train_iters > 0`` refines the seeds with that many
    spherical-k-means Lloyd iterations (:func:`train_centroids`) before the
    lists are built — tighter lists, better nprobe recall, same dataflow."""
    emb = _with_norm(vectors)
    if train_iters > 0:
        cent = train_centroids(spark, vectors, centroid_vec_ids, iters=train_iters)
    else:
        cent = _centroid_frame(
            emb.filter(F.col("vec_id").isin(centroid_vec_ids)).select(
                F.dense_rank()
                .over(W.orderBy("vec_id"))
                .cast("bigint")
                .alias("list_id"),
                "vd",
                "norm",
            )
        )
    cent.write.mode("overwrite").parquet(f"{index_path}/centroids")
    stored_cent = read_parquet(spark, f"{index_path}/centroids")
    assign = _assign(emb.select("vec_id", "vd", "norm"), stored_cent)
    # Physically cluster the inverted lists: hive-partition by list_id so
    # each list IS a directory (see _write_list_clustered). The per-query
    # probe then never lists — let alone reads — the unprobed lists'
    # directories. This is what "inverted list" means on disk — an
    # unclustered assign table forces every probe to scan the whole corpus.
    _write_list_clustered(assign, stored_cent.count(), f"{index_path}/assign")


def update_ivf_index(spark: SparkSession, new_vectors: DataFrame, index_path: str) -> tuple[int, int]:
    """Incremental: assign the new batch against the STORED quantizer and
    merge by vec_id (re-ingested vectors get reassigned). Returns
    (n_updated, n_inserted)."""
    cent = read_parquet(spark, f"{index_path}/centroids")
    assign = _assign(_with_norm(new_vectors).select("vec_id", "vd", "norm"), cent)
    return upsert(spark, f"{index_path}/assign", assign, key="vec_id")


def topk_from_index(
    spark: SparkSession, queries: DataFrame, index_path: str, nprobe: int, k: int = TOP_K
) -> DataFrame:
    """nprobe-pruned cosine top-k for each query vector, from the stored
    index only. With the build's directory-per-list layout the unprobed
    lists' directories are never listed or read — at 100 TB the scan cost
    is Σ|probed lists|, not the corpus. The scoring join against the
    broadcast probes frame lets dynamic partition pruning skip directories
    inside the same job, with no driver round-trip."""
    cent = read_parquet(spark, f"{index_path}/centroids")
    assign = _read_lists(spark, f"{index_path}/assign")
    q = _with_norm(queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("vd").alias("qv"),
        F.col("norm").alias("qnorm"),
    )
    qsim = F.round(
        _dot(F.col("qv"), F.col("cv")) / (F.col("qnorm") * F.col("cnorm")), 6
    ).cast("double")
    wq = W.partitionBy("query_id").orderBy(F.desc("qsim"), F.asc("list_id"))
    probes = (
        q.crossJoin(F.broadcast(cent))
        .withColumn("qsim", qsim)
        .withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= nprobe)
        .select("query_id", "qv", "qnorm", "list_id")
        .transform(materialize)
    )
    # the scoring join IS the DPP trigger — no separate restriction pass
    pairs = assign.join(F.broadcast(_mark_selective(probes)), "list_id")
    scored = (
        pairs.filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            "list_id",
            F.round(_dot(F.col("qv"), F.col("vd")) / (F.col("qnorm") * F.col("norm")), 6)
            .cast("double")
            .alias("cos_sim"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    return scored.select("*", F.row_number().over(w).alias("rn")).filter(
        F.col("rn") <= k
    )


def _centroid_update(members: DataFrame) -> DataFrame:
    """One Lloyd update: per-list mean vector (posexplode → per-(list, dim)
    mean → re-assemble array), spherical (unit-norm) for cosine."""
    elems = members.select(
        "list_id", F.posexplode(F.col("vd")).alias("dim", "x")
    )
    # The per-dim mean is rounded to 9 digits: a shuffle-order double sum is
    # not reproducible across engines (or runs), and the rounded mean is the
    # quantity the DuckDB oracle replays. 1e-9 on a unit-sphere centroid is
    # far below the 6-digit cosine rounding used everywhere downstream.
    cent_elems = elems.groupBy("list_id", "dim").agg(
        F.round(F.avg("x"), 9).alias("c")
    )
    assembled = cent_elems.groupBy("list_id").agg(
        F.expr(
            "transform(array_sort(collect_list(struct(dim, c))), s -> s.c)"
        ).alias("cv_raw")
    )
    return assembled.select(
        "list_id",
        F.expr("transform(cv_raw, x -> x / sqrt(aggregate(transform(cv_raw, y -> y * y), CAST(0.0 AS DOUBLE), (a, y) -> a + y)))").alias("cv"),
    ).withColumn(
        "cnorm", F.lit(1.0)
    )


def train_centroids(
    spark: SparkSession, vectors: DataFrame, seed_vec_ids: list[int], iters: int = 3
) -> DataFrame:
    """Spherical k-means (Lloyd) from deterministic seeds, pure dataframe
    ops: assign (broadcast centroids, map-side) → per-list mean → repeat.
    Each iteration is one job; ``localCheckpoint`` truncates lineage. A list
    that loses every member keeps its previous centroid (coalesce)."""
    emb = _with_norm(vectors)
    cent = _centroid_frame(
        emb.filter(F.col("vec_id").isin(seed_vec_ids)).select(
            F.dense_rank().over(W.orderBy("vec_id")).cast("bigint").alias("list_id"),
            "vd",
            "norm",
        )
    ).transform(materialize)
    pts = emb.select("vec_id", "vd", "norm")
    for _ in range(iters):
        members = _assign(pts, cent)
        updated = _centroid_update(members)
        cent = (
            cent.alias("o")
            .join(updated.alias("u"), "list_id", "left")
            .select(
                "list_id",
                F.coalesce("u.cv", "o.cv").alias("cv"),
                F.coalesce("u.cnorm", "o.cnorm").alias("cnorm"),
            )
            .transform(materialize)
        )
    return cent


def quantization_error(vectors: DataFrame, centroids: DataFrame) -> float:
    """Mean (1 - cosine) of each vector to its assigned centroid — the
    k-means objective for spherical clustering (driver sees one float)."""
    emb = _with_norm(vectors).select("vec_id", "vd", "norm")
    sim = F.round(
        _dot(F.col("vd"), F.col("cv")) / (F.col("norm") * F.col("cnorm")), 9
    )
    w = W.partitionBy("vec_id").orderBy(F.desc("csim"), F.asc("list_id"))
    best = (
        emb.crossJoin(F.broadcast(centroids))
        .withColumn("csim", sim)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
    )
    row = best.agg(F.avg(F.lit(1.0) - F.col("csim")).alias("err")).collect()[0]
    return float(row.err)


# ---------------------------------------------------------------------------
# Registered query: trained-quantizer IVF search from a stored index.
# ---------------------------------------------------------------------------
TRAIN_ITERS = 2
_SEEDS = list(range(N_QUERIES, N_QUERIES + K_LISTS))

# DuckDB fragments over DOUBLE[] columns (sequential, order-stable sums —
# same accumulation order as Spark's aggregate/zip_with lambdas).
_DOT_D = "list_sum(list_transform(range(1, len({a}) + 1), i -> {a}[i] * {b}[i]))"


def _lloyd_oracle(iters: int) -> str:
    """Unrolled spherical-k-means replay + nprobe search, one CTE chain.

    Mirrors ``train_centroids`` + ``build_ivf_index`` + ``topk_from_index``
    exactly: 6-digit rounded cosines for every argmax (list_id tie-break),
    9-digit rounded per-dim means, sequential-sum normalization.
    """
    parts = [
        f"""
    emb AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vd,
               sqrt(list_sum(list_transform(embedding,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS norm
        FROM embeddings
    ),
    cent0 AS (
        SELECT ROW_NUMBER() OVER (ORDER BY vec_id) AS list_id,
               vd AS cv, norm AS cnorm
        FROM emb
        WHERE vec_id >= {N_QUERIES} AND vec_id < {N_QUERIES + K_LISTS}
    )"""
    ]
    for t in range(1, iters + 1):
        p = t - 1
        parts.append(f"""
    assign{t} AS (
        SELECT vec_id, vd, norm, list_id FROM (
            SELECT e.vec_id, e.vd, e.norm, c.list_id,
                   ROW_NUMBER() OVER (PARTITION BY e.vec_id
                       ORDER BY CAST(ROUND({_DOT_D.format(a='e.vd', b='c.cv')}
                                / (e.norm * c.cnorm), 6) AS DOUBLE) DESC,
                                c.list_id) AS rn
            FROM emb e, cent{p} c
        ) z WHERE rn = 1
    ),
    means{t} AS (
        SELECT list_id, CAST(u.i AS INT) - 1 AS dim,
               ROUND(SUM(vd[u.i]) / COUNT(*), 9) AS c
        FROM assign{t}, UNNEST(range(1, len(vd) + 1)) AS u(i)
        GROUP BY list_id, dim
    ),
    normed{t} AS (
        SELECT list_id,
               list_transform(cv_raw, x -> x / sqrt(list_sum(
                   list_transform(cv_raw, y -> y * y)))) AS cv
        FROM (SELECT list_id, list(c ORDER BY dim) AS cv_raw
              FROM means{t} GROUP BY list_id) r
    ),
    cent{t} AS (
        SELECT p.list_id,
               COALESCE(n.cv, p.cv) AS cv,
               CASE WHEN n.cv IS NULL THEN p.cnorm ELSE 1.0 END AS cnorm
        FROM cent{p} p LEFT JOIN normed{t} n ON p.list_id = n.list_id
    )""")
    final = iters
    parts.append(f"""
    assignF AS (
        SELECT vec_id, vd, norm, list_id FROM (
            SELECT e.vec_id, e.vd, e.norm, c.list_id,
                   ROW_NUMBER() OVER (PARTITION BY e.vec_id
                       ORDER BY CAST(ROUND({_DOT_D.format(a='e.vd', b='c.cv')}
                                / (e.norm * c.cnorm), 6) AS DOUBLE) DESC,
                                c.list_id) AS rn
            FROM emb e, cent{final} c
        ) z WHERE rn = 1
    ),
    probes AS (
        SELECT query_id, qv, qnorm, list_id FROM (
            SELECT e.vec_id AS query_id, e.vd AS qv, e.norm AS qnorm, c.list_id,
                   ROW_NUMBER() OVER (PARTITION BY e.vec_id
                       ORDER BY CAST(ROUND({_DOT_D.format(a='e.vd', b='c.cv')}
                                / (e.norm * c.cnorm), 6) AS DOUBLE) DESC,
                                c.list_id) AS rn
            FROM emb e, cent{final} c
            WHERE e.vec_id < {N_QUERIES}
        ) z WHERE rn <= {N_PROBE}
    ),
    scored AS (
        SELECT p.query_id, a.vec_id, a.list_id,
               CAST(ROUND({_DOT_D.format(a='p.qv', b='a.vd')}
                    / (p.qnorm * a.norm), 6) AS DOUBLE) AS cos_sim
        FROM probes p JOIN assignF a ON a.list_id = p.list_id
        WHERE a.vec_id <> p.query_id
    )
    SELECT query_id, vec_id, list_id, cos_sim, rn FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cos_sim DESC, vec_id) AS rn
        FROM scored
    ) t WHERE rn <= {TOP_K}""")
    return "WITH" + ",".join(parts)


@register("sim_cosine_topk_ivf_trained", oracle=_lloyd_oracle(TRAIN_ITERS))
def sim_cosine_topk_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-backed ANN with a TRAINED coarse quantizer, end to end: Lloyd
    spherical k-means from deterministic seeds → stored parquet index
    (centroids + inverted lists) → nprobe top-k from the index only.

    Exercises the full index lifecycle (train → build → persist → search);
    the oracle replays the identical Lloyd iterations in SQL, so this is
    hash-checked rather than rows-only.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    idx = scratch_dir("ivf_trained_")
    build_ivf_index(spark, emb, _SEEDS, idx, train_iters=TRAIN_ITERS)
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    return topk_from_index(spark, queries, idx, N_PROBE)


# ---------------------------------------------------------------------------
# Scalable k-means|| seeding (Bahmani et al., VLDB'12) — replaces "first K
# vec_ids" with cost-weighted seeds so centroid quality doesn't hinge on
# which rows happen to carry low ids.
# ---------------------------------------------------------------------------
def _best_sim(vectors: DataFrame, centroids: DataFrame) -> DataFrame:
    """(vec_id, vd, norm, list_id, csim) of each vector's nearest centroid."""
    sim = F.round(
        _dot(F.col("vd"), F.col("cv")) / (F.col("norm") * F.col("cnorm")), 6
    ).cast("double")
    w = W.partitionBy("vec_id").orderBy(F.desc("csim"), F.asc("list_id"))
    return (
        vectors.crossJoin(F.broadcast(centroids))
        .withColumn("csim", sim)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "vd", "norm", "list_id", "csim")
    )


def _unit_hash(col: F.Column, salt: int) -> F.Column:
    """Deterministic pseudo-uniform in [0, 1): salted xxhash64 bucketed mod a
    prime. Content-stable, so seeding is reproducible across runs/cluster
    sizes — same discipline as the sampling module's hash-Bernoulli."""
    prime = 2_147_483_647
    return F.pmod(F.xxhash64(col, F.lit(salt)), F.lit(prime)) / prime


def kmeans_parallel_seed_ids(
    spark: SparkSession,
    vectors: DataFrame,
    k: int,
    rounds: int = 5,
    oversample: int | None = None,
) -> list[int]:
    """k-means|| over the spherical distance d = 1 - cosine.

    Each round Bernoulli-samples points with probability min(1, l·d²/Σd²)
    against the CURRENT candidate set (one broadcast join + one one-row
    total, both distributed); candidates are then weighted by how many
    points they attract and the top-k by weight become the seeds. Driver
    traffic is exactly k ids — everything else stays on executors.
    """
    # 4k oversampling × 5 rounds measured strictly better than the fixed
    # low-vec_id seeds on the test corpus at equal Lloyd depth (see
    # tests/test_similarity_index.py); 2k×3 was not reliably better.
    l_factor = oversample if oversample is not None else 4 * k
    emb = _with_norm(vectors).select("vec_id", "vd", "norm")

    # Deterministic "random" first candidate: smallest salted hash.
    first = (
        emb.select("vec_id", _unit_hash(F.col("vec_id"), 0).alias("u"))
        .orderBy("u", "vec_id")
        .limit(1)
        .select("vec_id")
    )
    cand = emb.join(F.broadcast(first), "vec_id").transform(materialize)

    for r in range(1, rounds + 1):
        cframe = cand.select(
            F.col("vec_id").alias("list_id"),
            F.col("vd").alias("cv"),
            F.col("norm").alias("cnorm"),
        )
        d2 = _best_sim(emb, cframe).select(
            "vec_id",
            ((F.lit(1.0) - F.col("csim")) * (F.lit(1.0) - F.col("csim"))).alias("d2"),
        )
        total = d2.agg(F.sum("d2").alias("total"))
        picked = (
            d2.crossJoin(F.broadcast(total))
            .filter(
                _unit_hash(F.col("vec_id"), r)
                < F.least(F.lit(1.0), F.lit(float(l_factor)) * F.col("d2") / F.col("total"))
            )
            .select("vec_id")
        )
        cand = (
            cand.unionByName(emb.join(F.broadcast(picked), "vec_id"))
            .dropDuplicates(["vec_id"])
            .transform(materialize)
        )

    # Weight candidates by attraction, then recluster the candidate set down
    # to k with a deterministic greedy weighted k-means++ (as in MLlib's
    # k-means|| final step). The collect is bounded by the candidate count —
    # at most 1 + rounds·(expected l per round) rows, independent of corpus
    # size — which is the k-means|| contract, not a scalability leak.
    import numpy as np

    cframe = cand.select(
        F.col("vec_id").alias("list_id"),
        F.col("vd").alias("cv"),
        F.col("norm").alias("cnorm"),
    )
    weights = _best_sim(emb, cframe).groupBy("list_id").agg(F.count("*").alias("w"))
    rows = (
        cand.join(weights, cand.vec_id == weights.list_id)
        .select("vec_id", "vd", "w")
        .collect()
    )
    ids = np.array([r.vec_id for r in rows], dtype=np.int64)
    mat = np.array([r.vd for r in rows], dtype=np.float64)
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    wts = np.array([r.w for r in rows], dtype=np.float64)

    order = np.lexsort((ids, -wts))  # heaviest first, id tie-break
    chosen = [order[0]]
    while len(chosen) < min(k, len(ids)):
        sims = mat @ mat[chosen].T  # (n_cand, n_chosen)
        d2 = np.square(1.0 - sims.max(axis=1))
        gain = wts * d2
        gain[chosen] = -1.0
        # deterministic argmax with smallest-id tie-break
        best = np.lexsort((ids, -gain))[0]
        chosen.append(best)
    return sorted(int(v) for v in ids[chosen])


# ---------------------------------------------------------------------------
# Product quantization (IVF-PQ's compression leg): vectors → M subspace
# codes, search via asymmetric distance computation (ADC). At 100 TB the
# inverted lists hold M small codes per vector instead of the full float
# array — the memory lever that makes billion-vector ANN fit a cluster.
# ---------------------------------------------------------------------------
PQ_M = 4          # subspaces (dim 64 → 16 dims per subspace)
PQ_K = 16         # codes per subspace codebook
PQ_TRAIN_ITERS = 3


def _unit(vectors: DataFrame) -> DataFrame:
    """(vec_id, vd): unit-normalized double vectors. On the unit sphere
    squared-L2 ordering agrees with cosine ordering (||a-b||² = 2 - 2·cos),
    so L2-based PQ search approximates the same ranking the exact cosine
    operators use."""
    return _with_norm(vectors).select(
        "vec_id",
        F.expr("transform(vd, x -> x / norm)").alias("vd"),
    )


def _slice_subvectors(
    df: DataFrame, m: int = PQ_M, keys: tuple[str, ...] = ("vec_id",)
) -> DataFrame:
    """(*keys, sub, sv) from an already-prepared (*keys, vd) frame — the
    shared slicing step for plain (unit-vector) and residual PQ. ``keys``
    widens to (query_id, list_id) for the residual query side, where each
    probed list gets its own residual."""
    return df.select(
        *keys,
        F.explode(
            F.expr(
                f"transform(sequence(0, {m - 1}),"
                f" s -> struct(s AS sub, slice(vd, s * (size(vd) div {m}) + 1,"
                f" size(vd) div {m}) AS sv))"
            )
        ).alias("e"),
    ).select(*keys, F.col("e.sub").alias("sub"), F.col("e.sv").alias("sv"))


def _subvectors(vectors: DataFrame, m: int = PQ_M) -> DataFrame:
    """(vec_id, sub, sv): split each UNIT-NORMALIZED vector into m
    contiguous subvectors."""
    return _slice_subvectors(_unit(vectors), m)


def _l2sq(a, b) -> F.Column:
    """Squared L2 distance between two double arrays, rounded for
    cross-run determinism of argmin tie-breaks."""
    return F.round(
        F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda s, x: s + x,
        ),
        9,
    )


def train_pq_codebooks(
    spark: SparkSession, vectors: DataFrame, iters: int = PQ_TRAIN_ITERS
) -> DataFrame:
    """Per-subspace k-means codebooks (sub, code, cv): Lloyd over the
    subvector population of each subspace, deterministic seeds (lowest
    PQ_K vec_ids), per-dim means rounded like the IVF quantizer."""
    return _train_codebooks_sv(_subvectors(vectors), iters)


def _train_codebooks_sv(
    subvectors: DataFrame,
    iters: int = PQ_TRAIN_ITERS,
    seed_range: tuple[int, int] = (0, PQ_K),
) -> DataFrame:
    """Lloyd core over a prepared (vec_id, sub, sv) frame — shared by the
    unit-vector and residual PQ paths. ``seed_range`` picks the [lo, hi)
    vec_ids whose subvectors seed the codebooks: the residual path must NOT
    seed from the coarse-centroid vectors (their residuals are ~0, which
    collapses half the initial codebook onto the origin)."""
    lo, hi = seed_range
    sv = subvectors.persist()
    # Intermediate centroid frames are persist()ed and released as soon as
    # the next iteration supersedes them: an eager localCheckpoint here
    # costs ~1 s of partition-write overhead PER CALL in local mode (3× the
    # whole training time); only the FINAL frame checkpoints, to cut the
    # iteration lineage for downstream consumers.
    seeds = (
        sv.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi))
        .select(
            "sub", F.col("vec_id").cast("bigint").alias("code"), F.col("sv").alias("cv")
        )
        .persist()
    )
    cent = seeds
    for _ in range(iters):
        # argmin via min_by (hash agg, map-side partials) instead of a
        # row_number window — same (d ASC, code ASC) tie-break through the
        # lexicographic struct ordering, one less sort per Lloyd iteration.
        # sv is functionally determined by (vec_id, sub), so first() is safe.
        assign = (
            sv.join(F.broadcast(cent), "sub")
            .withColumn("d", _l2sq(F.col("sv"), F.col("cv")))
            .groupBy("vec_id", "sub")
            .agg(
                F.min_by("code", F.struct("d", "code")).alias("code"),
                F.first("sv").alias("sv"),
            )
        )
        # per-code mean in ONE aggregation: element-wise fold over the
        # members (sorted by vec_id → deterministic fp accumulation order),
        # instead of posexplode → per-dim groupBy → re-collect. Same
        # round(sum/count, 9) the SQL oracle replays.
        updated = (
            assign.groupBy("sub", "code")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.expr("array_sort(collect_list(struct(vec_id, sv)))").alias("vs"),
            )
            .select(
                "sub",
                "code",
                F.expr(
                    "transform(aggregate(vs, cast(null as array<double>),"
                    " (acc, s) -> CASE WHEN acc IS NULL THEN s.sv"
                    " ELSE zip_with(acc, s.sv, (a, b) -> a + b) END),"
                    " x -> round(x / n, 9))"
                ).alias("cv_new"),
            )
        )
        prev = cent
        cent = (
            cent.join(updated, ["sub", "code"], "left")
            .select(
                "sub", "code", F.coalesce("cv_new", "cv").alias("cv")
            )
            .persist()
        )
        cent.count()  # materialize before releasing the frame it reads
        prev.unpersist()
    final = cent.transform(materialize)
    cent.unpersist()
    sv.unpersist()
    return final


def pq_encode(vectors: DataFrame, codebooks: DataFrame) -> DataFrame:
    """(vec_id, sub, code): nearest codebook entry per subspace — the
    compressed representation (M small ints per vector)."""
    return _encode_sv(_subvectors(vectors), codebooks)


def _encode_sv(sv: DataFrame, codebooks: DataFrame) -> DataFrame:
    # same argmin-as-aggregation shape as the Lloyd loop (d ASC, code ASC)
    return (
        sv.join(F.broadcast(codebooks), "sub")
        .withColumn("d", _l2sq(F.col("sv"), F.col("cv")))
        .groupBy("vec_id", "sub")
        .agg(F.min_by("code", F.struct("d", "code")).alias("code"))
        .select("vec_id", "sub", "code")
    )


def pq_topk(
    queries: DataFrame,
    codes: DataFrame,
    codebooks: DataFrame,
    k: int = TOP_K,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """ADC search: per query, distance table to every (sub, code) cell
    (M·PQ_K rows — broadcastable), then approx distance = Σ table lookups
    over each vector's codes. The corpus side touches only the code table;
    full vectors never load at query time.

    ``candidates`` (query_id, cand_id) restricts scoring to a pruned
    candidate set — the IVF×PQ composition hook: the coarse quantizer
    prunes lists, ADC ranks inside them."""
    qsv = _subvectors(queries).select(
        F.col("vec_id").alias("query_id"), "sub", F.col("sv").alias("qsv")
    )
    dtable = (
        qsv.join(F.broadcast(codebooks), "sub")
        .select("query_id", "sub", "code", _l2sq(F.col("qsv"), F.col("cv")).alias("d"))
    )
    cand_codes = codes.withColumnRenamed("vec_id", "cand_id")
    if candidates is not None:
        # candidate volume tracks nprobe/K of the corpus — a plain join
        # (AQE picks the strategy), never a broadcast of the corpus side
        cand_codes = cand_codes.join(
            candidates.withColumnRenamed("vec_id", "cand_id"), "cand_id"
        )
        scored_src = cand_codes.join(dtable, ["query_id", "sub", "code"])
    else:
        scored_src = cand_codes.join(F.broadcast(dtable), ["sub", "code"])
    scored = (
        scored_src.filter(F.col("cand_id") != F.col("query_id"))
        .groupBy("query_id", "cand_id")
        .agg(F.round(F.sum("d"), 6).alias("approx_dist"))
    )
    w = W.partitionBy("query_id").orderBy(F.asc("approx_dist"), F.asc("cand_id"))
    return scored.select("*", F.row_number().over(w).alias("rn")).filter(
        F.col("rn") <= k
    )


# DuckDB fragment: rounded squared-L2 between two DOUBLE[] (sequential sum).
_L2_D = (
    "ROUND(list_sum(list_transform(range(1, len({a}) + 1),"
    " i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i]))), 9)"
)


def _lloyd_cte_parts(iters: int, seed_where: str | None = None) -> list[str]:
    """The unrolled per-subspace Lloyd CTEs (asg{{t}}/means{{t}}/upd{{t}}/
    cb{{t}}) plus the final ``codes`` encoding CTE. Generic over whatever
    the preceding ``sv`` CTE holds — unit subvectors for plain PQ, residual
    subvectors for the residual variant (which also overrides the codebook
    seed predicate to match its shifted seed range)."""
    seed_where = seed_where or f"vec_id < {PQ_K}"
    parts = [f"""
    cb0 AS (
        SELECT sub, vec_id AS code, sv AS cv FROM sv WHERE {seed_where}
    )"""]
    for t in range(1, iters + 1):
        p = t - 1
        parts.append(f"""
    asg{t} AS (
        SELECT sub, code, sv FROM (
            SELECT s.sub, c.code, s.sv,
                   ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.sub
                       ORDER BY {_L2_D.format(a='s.sv', b='c.cv')} ASC, c.code) AS rn
            FROM sv s JOIN cb{p} c ON s.sub = c.sub
        ) z WHERE rn = 1
    ),
    means{t} AS (
        SELECT sub, code, CAST(u.i AS INT) - 1 AS dim,
               ROUND(SUM(sv[u.i]) / COUNT(*), 9) AS c
        FROM asg{t}, UNNEST(range(1, len(sv) + 1)) AS u(i)
        GROUP BY sub, code, dim
    ),
    upd{t} AS (
        SELECT sub, code, list(c ORDER BY dim) AS cv_new
        FROM means{t} GROUP BY sub, code
    ),
    cb{t} AS (
        SELECT c.sub, c.code, COALESCE(u.cv_new, c.cv) AS cv
        FROM cb{p} c LEFT JOIN upd{t} u ON c.sub = u.sub AND c.code = u.code
    )""")
    parts.append(f"""
    codes AS (
        SELECT vec_id AS cand_id, sub, code FROM (
            SELECT s.vec_id, s.sub, c.code,
                   ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.sub
                       ORDER BY {_L2_D.format(a='s.sv', b='c.cv')} ASC, c.code) AS rn
            FROM sv s JOIN cb{iters} c ON s.sub = c.sub
        ) z WHERE rn = 1
    )""")
    return parts


# Final ranking, shared by every PQ-family oracle.
_TOPK_TAIL = f"""
    SELECT query_id, cand_id, approx_dist, rn FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY approx_dist ASC, cand_id) AS rn
        FROM scored
    ) t WHERE rn <= {TOP_K}"""


def _pq_oracle(iters: int = PQ_TRAIN_ITERS) -> str:
    """Unrolled per-subspace Lloyd replay + ADC search — same technique as
    the IVF trained-quantizer oracle: 9-digit rounded distances and means
    make every argmin and the final 6-digit distance engine-portable
    (verified exact at sf0.01 and sf0.1)."""
    parts = [f"""
    base AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE) /
                   sqrt(list_sum(list_transform(embedding,
                        y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))))) AS vd
        FROM embeddings
    ),
    sv AS (
        SELECT vec_id, CAST(t.s AS BIGINT) AS sub,
               list_transform(range(1, len(vd) // {PQ_M} + 1),
                   i -> vd[CAST(t.s AS INT) * (len(vd) // {PQ_M}) + i]) AS sv
        FROM base, UNNEST(range(0, {PQ_M})) AS t(s)
    )"""]
    parts.extend(_lloyd_cte_parts(iters))
    parts.append(f"""
    dtable AS (
        SELECT s.vec_id AS query_id, s.sub, c.code,
               {_L2_D.format(a='s.sv', b='c.cv')} AS d
        FROM sv s JOIN cb{iters} c ON s.sub = c.sub
        WHERE s.vec_id < {N_QUERIES}
    ),
    scored AS (
        SELECT dt.query_id, k.cand_id, ROUND(SUM(dt.d), 6) AS approx_dist
        FROM codes k JOIN dtable dt ON k.sub = dt.sub AND k.code = dt.code
        WHERE k.cand_id <> dt.query_id
        GROUP BY dt.query_id, k.cand_id
    )""" + _TOPK_TAIL)
    return "WITH" + ",".join(parts)


@register("sim_cosine_topk_pq", oracle=_pq_oracle())
def sim_cosine_topk_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ/ADC approximate top-k end to end: train per-subspace codebooks,
    encode the corpus to M-byte codes, search via broadcast distance
    tables. The registry's memory-compressed ANN path (IVF-PQ's other
    half next to `sim_cosine_topk_ivf_trained`); hash-checked against an
    unrolled per-subspace-Lloyd SQL oracle."""
    emb = load_table(spark, sf_dir, "embeddings")
    books = train_pq_codebooks(spark, emb)
    codes = pq_encode(emb, books)
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    return pq_topk(queries, codes, books)


def _ivf_pq_oracle(iters: int = PQ_TRAIN_ITERS) -> str:
    """The PQ oracle with the coarse-probe candidate restriction composed
    in: same seed-centroid assignment CTEs as the ivf_probe oracle, and
    scoring joins only (query, candidate) pairs from probed lists."""
    pq = _pq_oracle(iters)
    head, tail = pq.rsplit("    SELECT query_id, cand_id, approx_dist, rn FROM (", 1)
    # the PQ `scored` CTE is replaced by a candidate-restricted variant
    unreplaced = head
    head = head.replace(
        """    scored AS (
        SELECT dt.query_id, k.cand_id, ROUND(SUM(dt.d), 6) AS approx_dist
        FROM codes k JOIN dtable dt ON k.sub = dt.sub AND k.code = dt.code
        WHERE k.cand_id <> dt.query_id
        GROUP BY dt.query_id, k.cand_id
    )""",
        f"""    cent AS (
        SELECT ROW_NUMBER() OVER (ORDER BY vec_id) AS list_id,
               embedding AS cv, {_ORACLE_NORM.format(v='embedding')} AS cnorm
        FROM embeddings
        WHERE vec_id >= {N_QUERIES} AND vec_id < {N_QUERIES + K_LISTS}
    ),
    coarse AS (
        SELECT vec_id, list_id FROM (
            SELECT e.vec_id, c.list_id,
                   ROW_NUMBER() OVER (PARTITION BY e.vec_id
                       ORDER BY CAST(ROUND({_ORACLE_DOT.format(a='e.embedding', b='c.cv')}
                                / ({_ORACLE_NORM.format(v='e.embedding')} * c.cnorm), 6)
                                AS DOUBLE) DESC, c.list_id) AS rn
            FROM embeddings e, cent c
        ) z WHERE rn = 1
    ),
    probes AS (
        SELECT vec_id AS query_id, list_id FROM (
            SELECT e.vec_id, c.list_id,
                   ROW_NUMBER() OVER (PARTITION BY e.vec_id
                       ORDER BY CAST(ROUND({_ORACLE_DOT.format(a='e.embedding', b='c.cv')}
                                / ({_ORACLE_NORM.format(v='e.embedding')} * c.cnorm), 6)
                                AS DOUBLE) DESC, c.list_id) AS rn
            FROM embeddings e, cent c WHERE e.vec_id < {N_QUERIES}
        ) z WHERE rn <= {N_PROBE}
    ),
    cand AS (
        SELECT DISTINCT p.query_id, a.vec_id AS cand_id
        FROM probes p JOIN coarse a ON a.list_id = p.list_id
    ),
    scored AS (
        SELECT dt.query_id, k.cand_id, ROUND(SUM(dt.d), 6) AS approx_dist
        FROM codes k
        JOIN dtable dt ON k.sub = dt.sub AND k.code = dt.code
        JOIN cand ON cand.query_id = dt.query_id AND cand.cand_id = k.cand_id
        WHERE k.cand_id <> dt.query_id
        GROUP BY dt.query_id, k.cand_id
    )""",
    )
    # If _pq_oracle's `scored` CTE text drifts, replace() silently no-ops and
    # the composed oracle loses its candidate restriction — fail loudly instead.
    assert head != unreplaced, "_ivf_pq_oracle: PQ `scored` CTE not found; oracle text drifted"
    return head + "    SELECT query_id, cand_id, approx_dist, rn FROM (" + tail


@register("sim_cosine_topk_ivf_pq", oracle=_ivf_pq_oracle())
def sim_cosine_topk_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF×PQ — the canonical billion-scale ANN recipe in one query: the
    coarse quantizer prunes each search to its nprobe nearest inverted
    lists, and ADC ranks ONLY those lists' compressed codes. Cost per query
    = (nprobe/K)·corpus code lookups; memory = M bytes per vector. The
    same coarse assignment as `sim_cosine_topk_ivf_probe`, the same
    codebooks as `sim_cosine_topk_pq` — composed."""
    emb = load_table(spark, sf_dir, "embeddings")
    books = train_pq_codebooks(spark, emb)
    codes = pq_encode(emb, books)
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    return pq_topk(queries, codes, books, candidates=_coarse_candidates(emb))


def _coarse_candidates(emb: DataFrame) -> DataFrame:
    """(query_id, vec_id): the coarse prober's candidate pairs — every
    corpus vector whose inverted list is among a query's N_PROBE nearest
    (raw-vector cosine quantizer, seed centroids). Shared by every IVF×
    quantizer composition."""
    vec = _with_norm(emb).select("vec_id", "vd", "norm")
    cent = _centroid_frame(
        vec.filter(
            (F.col("vec_id") >= N_QUERIES) & (F.col("vec_id") < N_QUERIES + K_LISTS)
        ).select(
            F.dense_rank().over(W.orderBy("vec_id")).cast("bigint").alias("list_id"),
            "vd",
            "norm",
        )
    )
    assign = _assign(vec, cent).select("vec_id", "list_id")
    # probe the N_PROBE nearest lists per query (not just the argmax)
    wq = W.partitionBy("vec_id").orderBy(F.desc("csim"), F.asc("list_id"))
    probes = (
        vec.filter(F.col("vec_id") < N_QUERIES)
        .crossJoin(F.broadcast(cent))
        .withColumn(
            "csim",
            F.round(
                _dot(F.col("vd"), F.col("cv")) / (F.col("norm") * F.col("cnorm")), 6
            ).cast("double"),
        )
        .withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= N_PROBE)
        .select(F.col("vec_id").alias("query_id"), "list_id")
    )
    return probes.join(assign, "list_id").select("query_id", "vec_id")


# ---------------------------------------------------------------------------
# IVF×PQ with RESIDUAL encoding (Jégou et al., TPAMI'11 §IV): quantize
# r = v − c(v) instead of v. Residuals concentrate near the origin once the
# coarse quantizer has absorbed the between-cluster variance, so the same
# M×PQ_K codebook budget spends its resolution on within-cluster detail —
# the standard recall lift of production IVF-PQ systems. The query side
# builds one ADC table per PROBED LIST (q − c_l), not one per query.
# ---------------------------------------------------------------------------


def _residual_frames(
    spark: SparkSession,
    emb: DataFrame,
    k_lists: int = K_LISTS,
    n_probe: int = N_PROBE,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(assign, resid_sv, probes): coarse assignment over UNIT vectors with
    unit seed centroids, per-vector residual subvectors, and the per-query
    probe set carrying each probed centroid (for query-side residuals)."""
    u = _unit(emb)
    cent = u.filter(
        (F.col("vec_id") >= N_QUERIES) & (F.col("vec_id") < N_QUERIES + k_lists)
    ).select(
        F.dense_rank().over(W.orderBy("vec_id")).cast("bigint").alias("list_id"),
        F.col("vd").alias("cv"),
    )
    sim = F.round(_dot(F.col("vd"), F.col("cv")), 6).cast("double")
    wv = W.partitionBy("vec_id").orderBy(F.desc("sim"), F.asc("list_id"))
    assign = (
        u.crossJoin(F.broadcast(cent))
        .withColumn("sim", sim)
        .withColumn("rn", F.row_number().over(wv))
        .filter(F.col("rn") == 1)
        .select("vec_id", "list_id", "vd", "cv")
    )
    resid_sv = _slice_subvectors(
        assign.select(
            "vec_id",
            F.zip_with("vd", "cv", lambda x, y: F.round(x - y, 9)).alias("vd"),
        )
    )
    probes = (
        u.filter(F.col("vec_id") < N_QUERIES)
        .crossJoin(F.broadcast(cent))
        .withColumn("sim", sim)
        .withColumn("rn", F.row_number().over(wv))
        .filter(F.col("rn") <= n_probe)
        .select(F.col("vec_id").alias("query_id"), "list_id", "vd", "cv")
    )
    return assign, resid_sv, probes


def _ivf_pq_residual_oracle(iters: int = PQ_TRAIN_ITERS) -> str:
    """Residual IVF×PQ replay: unit vectors, unit seed centroids, 9-digit
    rounded residuals, the shared unrolled-Lloyd codebook CTEs over the
    residual subvectors, and per-(query, probed-list) ADC tables."""
    dot = f"CAST(ROUND({_DOT_D.format(a='b.vd', b='c.cv')}, 6) AS DOUBLE)"
    parts = [f"""
    base AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE) /
                   sqrt(list_sum(list_transform(embedding,
                        y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))))) AS vd
        FROM embeddings
    ),
    cent AS (
        SELECT ROW_NUMBER() OVER (ORDER BY vec_id) AS list_id, vd AS cv
        FROM base
        WHERE vec_id >= {N_QUERIES} AND vec_id < {N_QUERIES + K_LISTS}
    ),
    asg AS (
        SELECT vec_id, list_id, vd, cv FROM (
            SELECT b.vec_id, c.list_id, b.vd, c.cv,
                   ROW_NUMBER() OVER (PARTITION BY b.vec_id
                       ORDER BY {dot} DESC, c.list_id) AS rn
            FROM base b, cent c
        ) z WHERE rn = 1
    ),
    resid AS (
        SELECT vec_id,
               list_transform(range(1, len(vd) + 1),
                   i -> ROUND(vd[i] - cv[i], 9)) AS rv
        FROM asg
    ),
    sv AS (
        SELECT vec_id, CAST(t.s AS BIGINT) AS sub,
               list_transform(range(1, len(rv) // {PQ_M} + 1),
                   i -> rv[CAST(t.s AS INT) * (len(rv) // {PQ_M}) + i]) AS sv
        FROM resid, UNNEST(range(0, {PQ_M})) AS t(s)
    )"""]
    parts.extend(
        _lloyd_cte_parts(
            iters,
            seed_where=(
                f"vec_id >= {N_QUERIES + K_LISTS}"
                f" AND vec_id < {N_QUERIES + K_LISTS + PQ_K}"
            ),
        )
    )
    parts.append(f"""
    probes AS (
        SELECT vec_id AS query_id, list_id, vd, cv FROM (
            SELECT b.vec_id, c.list_id, b.vd, c.cv,
                   ROW_NUMBER() OVER (PARTITION BY b.vec_id
                       ORDER BY {dot} DESC, c.list_id) AS rn
            FROM base b, cent c WHERE b.vec_id < {N_QUERIES}
        ) z WHERE rn <= {N_PROBE}
    ),
    qsv AS (
        SELECT query_id, list_id, CAST(t.s AS BIGINT) AS sub,
               list_transform(range(1, len(rv) // {PQ_M} + 1),
                   i -> rv[CAST(t.s AS INT) * (len(rv) // {PQ_M}) + i]) AS sv
        FROM (
            SELECT query_id, list_id,
                   list_transform(range(1, len(vd) + 1),
                       i -> ROUND(vd[i] - cv[i], 9)) AS rv
            FROM probes
        ) qr, UNNEST(range(0, {PQ_M})) AS t(s)
    ),
    dtable AS (
        SELECT q.query_id, q.list_id, q.sub, c.code,
               {_L2_D.format(a='q.sv', b='c.cv')} AS d
        FROM qsv q JOIN cb{iters} c ON q.sub = c.sub
    ),
    cand AS (
        SELECT p.query_id, p.list_id, a.vec_id AS cand_id
        FROM probes p JOIN asg a ON a.list_id = p.list_id
        WHERE a.vec_id <> p.query_id
    ),
    scored AS (
        SELECT dt.query_id, cand.cand_id, ROUND(SUM(dt.d), 6) AS approx_dist
        FROM cand
        JOIN codes k ON k.cand_id = cand.cand_id
        JOIN dtable dt ON dt.query_id = cand.query_id
                      AND dt.list_id = cand.list_id
                      AND dt.sub = k.sub AND dt.code = k.code
        GROUP BY dt.query_id, cand.cand_id
    )""" + _TOPK_TAIL)
    return "WITH" + ",".join(parts)


@register("sim_cosine_topk_ivf_pq_residual", oracle=_ivf_pq_residual_oracle())
def sim_cosine_topk_ivf_pq_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF×PQ with residual encoding end to end: coarse-assign every vector
    (unit sphere, seed centroids), train per-subspace codebooks on the
    RESIDUALS r = u − c(u), encode, then ADC-rank each query's probed lists
    with a per-(query, list) distance table built from q − c_l. Same
    deterministic discipline as the other trained-index queries (9-digit
    rounded means/distances, id tie-breaks) → exact SQL-oracle replay.
    Recall advantage over non-residual PQ on clustered data is pinned in
    tests/test_similarity_index.py (planted-cluster fixture)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return ivf_pq_residual_topk(spark, emb)


def ivf_pq_residual_topk(
    spark: SparkSession,
    emb: DataFrame,
    k_lists: int = K_LISTS,
    n_probe: int = N_PROBE,
    k: int = TOP_K,
) -> DataFrame:
    """Residual IVF×PQ core over any (vec_id, embedding) frame."""
    assign, resid_sv, probes = _residual_frames(spark, emb, k_lists, n_probe)

    books = _train_codebooks_sv(
        resid_sv,
        seed_range=(N_QUERIES + k_lists, N_QUERIES + k_lists + PQ_K),
    )
    codes = _encode_sv(resid_sv, books)

    # per-(query, probed-list) residual subvectors → ADC distance table
    q_rsv = _slice_subvectors(
        probes.select(
            "query_id",
            "list_id",
            F.zip_with("vd", "cv", lambda x, y: F.round(x - y, 9)).alias("vd"),
        ),
        keys=("query_id", "list_id"),
    ).withColumnRenamed("sv", "qsv")
    dtable = q_rsv.join(F.broadcast(books), "sub").select(
        "query_id", "list_id", "sub", "code", _l2sq(F.col("qsv"), F.col("cv")).alias("d")
    )

    cand = probes.select("query_id", "list_id").join(
        assign.select(F.col("vec_id").alias("cand_id"), "list_id"), "list_id"
    )
    scored = (
        cand.filter(F.col("cand_id") != F.col("query_id"))
        .join(codes.withColumnRenamed("vec_id", "cand_id"), "cand_id")
        .join(dtable, ["query_id", "list_id", "sub", "code"])
        .groupBy("query_id", "cand_id")
        .agg(F.round(F.sum("d"), 6).alias("approx_dist"))
    )
    wk = W.partitionBy("query_id").orderBy(F.asc("approx_dist"), F.asc("cand_id"))
    return scored.select("*", F.row_number().over(wk).alias("rn")).filter(
        F.col("rn") <= k
    )


# ---------------------------------------------------------------------------
# Scalar quantization (SQ8): the third standard ANN memory lever next to PQ
# and residual-PQ. Each dimension is affinely mapped to an 8-bit code using
# per-dimension corpus min/max; search decodes candidates on the fly and
# ranks by asymmetric L2 against the full-precision query. 4 bytes/dim →
# 1 byte/dim, with far better fidelity than PQ at 4 bits/dim — the usual
# first step before PQ is worth its training cost.
# ---------------------------------------------------------------------------
SQ_LEVELS = 255


def sq8_stats(u_long: DataFrame) -> DataFrame:
    """(dim, mn, mx): per-dimension corpus range — one keyed aggregation,
    dimension-sized output (broadcast everywhere downstream)."""
    return u_long.groupBy("dim").agg(
        F.min("xv").alias("mn"), F.max("xv").alias("mx")
    )


def _unit_long(emb: DataFrame) -> DataFrame:
    """(vec_id, dim, xv): unit-normalized vectors in long form."""
    return _unit(emb).select(
        "vec_id", F.posexplode("vd").alias("dim", "xv")
    )


def _sq8_oracle(ivf: bool = False) -> str:
    """SQ8 replay; with ``ivf=True`` the scoring joins only (query, cand)
    pairs from the coarse prober's lists — the same candidate CTEs as the
    IVF×PQ oracle."""
    parts = [f"""
    base AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE) /
                   sqrt(list_sum(list_transform(embedding,
                        y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))))) AS vd
        FROM embeddings
    ),
    x AS (
        SELECT vec_id, CAST(u.i AS INT) - 1 AS dim, vd[u.i] AS xv
        FROM base, UNNEST(range(1, len(vd) + 1)) AS u(i)
    ),
    stats AS (SELECT dim, MIN(xv) AS mn, MAX(xv) AS mx FROM x GROUP BY dim),
    codes AS (
        SELECT x.vec_id, x.dim,
               CASE WHEN s.mx = s.mn THEN 0
                    ELSE CAST(ROUND((x.xv - s.mn) / (s.mx - s.mn)
                                    * {SQ_LEVELS}, 0) AS INT)
               END AS code
        FROM x JOIN stats s ON s.dim = x.dim
    ),
    decoded AS (
        SELECT c.vec_id AS cand_id, c.dim,
               s.mn + CAST(c.code AS DOUBLE) / {SQ_LEVELS} * (s.mx - s.mn)
                   AS xhat
        FROM codes c JOIN stats s ON s.dim = c.dim
    )"""]
    if ivf:
        parts.append(f"""
    cent AS (
        SELECT ROW_NUMBER() OVER (ORDER BY vec_id) AS list_id,
               embedding AS cv, {_ORACLE_NORM.format(v='embedding')} AS cnorm
        FROM embeddings
        WHERE vec_id >= {N_QUERIES} AND vec_id < {N_QUERIES + K_LISTS}
    ),
    coarse AS (
        SELECT vec_id, list_id FROM (
            SELECT e.vec_id, c.list_id,
                   ROW_NUMBER() OVER (PARTITION BY e.vec_id
                       ORDER BY CAST(ROUND({_ORACLE_DOT.format(a='e.embedding', b='c.cv')}
                                / ({_ORACLE_NORM.format(v='e.embedding')} * c.cnorm), 6)
                                AS DOUBLE) DESC, c.list_id) AS rn
            FROM embeddings e, cent c
        ) z WHERE rn = 1
    ),
    probes AS (
        SELECT vec_id AS query_id, list_id FROM (
            SELECT e.vec_id, c.list_id,
                   ROW_NUMBER() OVER (PARTITION BY e.vec_id
                       ORDER BY CAST(ROUND({_ORACLE_DOT.format(a='e.embedding', b='c.cv')}
                                / ({_ORACLE_NORM.format(v='e.embedding')} * c.cnorm), 6)
                                AS DOUBLE) DESC, c.list_id) AS rn
            FROM embeddings e, cent c WHERE e.vec_id < {N_QUERIES}
        ) z WHERE rn <= {N_PROBE}
    ),
    cand AS (
        SELECT DISTINCT p.query_id, a.vec_id AS cand_id
        FROM probes p JOIN coarse a ON a.list_id = p.list_id
    ),
    scored AS (
        SELECT q.vec_id AS query_id, d.cand_id,
               CAST(ROUND(CAST(SUM(CAST(ROUND((q.xv - d.xhat)
                        * (q.xv - d.xhat), 9) AS DECIMAL(20, 9)))
                    AS DOUBLE), 6) AS DOUBLE) AS approx_dist
        FROM x q
        JOIN decoded d ON d.dim = q.dim
        JOIN cand ON cand.query_id = q.vec_id AND cand.cand_id = d.cand_id
        WHERE q.vec_id < {N_QUERIES} AND d.cand_id <> q.vec_id
        GROUP BY q.vec_id, d.cand_id
    )""")
    else:
        parts.append(f"""
    scored AS (
        SELECT q.vec_id AS query_id, d.cand_id,
               CAST(ROUND(CAST(SUM(CAST(ROUND((q.xv - d.xhat)
                        * (q.xv - d.xhat), 9) AS DECIMAL(20, 9)))
                    AS DOUBLE), 6) AS DOUBLE) AS approx_dist
        FROM x q JOIN decoded d ON d.dim = q.dim
        WHERE q.vec_id < {N_QUERIES} AND d.cand_id <> q.vec_id
        GROUP BY q.vec_id, d.cand_id
    )""")
    parts.append(_TOPK_TAIL)
    return "WITH" + ",".join(parts[:-1]) + parts[-1]


@register("sim_cosine_topk_sq8", oracle=_sq8_oracle())
def sim_cosine_topk_sq8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQ8 asymmetric top-k on the unit sphere (L2 ordering ≡ cosine).

    Determinism: every arithmetic step after the norm is pure IEEE
    +,−,×,÷ on identical inputs (sqrt is correctly rounded), so Spark and
    DuckDB produce bit-identical distances; per-pair terms still sum as
    exact DECIMAL so reduce order cannot matter.

    Scale shape: stats is a dimension-sized aggregate (broadcast); encoding
    is map-only; search joins the query's long form (|Q|·d rows, broadcast)
    against decoded codes and aggregates by (query, cand) — one narrow
    shuffle whose volume is |Q|·corpus, the same bound as brute force but
    on 1-byte codes instead of floats, and restrictable by any IVF
    candidate set exactly like `pq_topk`."""
    emb = load_table(spark, sf_dir, "embeddings")
    return sq8_topk(spark, emb)


def _sq8_encode(x: DataFrame, stats: DataFrame) -> DataFrame:
    """(vec_id, dim, code): uniform 8-bit quantization of the unit-vector
    long form against the per-dimension corpus range."""
    return x.join(F.broadcast(stats), "dim").select(
        "vec_id",
        "dim",
        F.when(F.col("mx") == F.col("mn"), F.lit(0))
        .otherwise(
            F.round(
                (F.col("xv") - F.col("mn"))
                / (F.col("mx") - F.col("mn"))
                * SQ_LEVELS,
                0,
            ).cast("int")
        )
        .alias("code"),
    )


def _sq8_decode(codes: DataFrame, stats: DataFrame) -> DataFrame:
    """(cand_id, dim, xhat): reconstruct each code to its cell value."""
    return codes.join(F.broadcast(stats), "dim").select(
        F.col("vec_id").alias("cand_id"),
        "dim",
        (
            F.col("mn")
            + F.col("code").cast("double") / SQ_LEVELS * (F.col("mx") - F.col("mn"))
        ).alias("xhat"),
    )


def sq8_topk(
    spark: SparkSession, emb: DataFrame, candidates: DataFrame | None = None
) -> DataFrame:
    """SQ8 core; ``candidates`` (query_id, vec_id) restricts scoring to a
    pruned set — the IVF composition hook, mirroring ``pq_topk``."""
    x = _unit_long(emb)
    stats = sq8_stats(x)
    codes = _sq8_encode(x, stats)
    decoded = _sq8_decode(codes, stats)
    if candidates is not None:
        # restrict BEFORE the per-dimension product: decoded volume drops to
        # the probed share of the corpus (plain join, AQE picks the strategy)
        decoded = decoded.join(
            candidates.withColumnRenamed("vec_id", "cand_id"), "cand_id"
        )
    q = x.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "dim", F.col("xv").alias("qv")
    )
    return _sq8_rank(decoded, q, restricted=candidates is not None)


def _sq8_rank(decoded: DataFrame, q: DataFrame, restricted: bool) -> DataFrame:
    """Shared SQ8 ADC ranking tail over a decoded (cand_id, dim, xhat[,
    query_id]) frame and a query long form (query_id, dim, qv). With
    ``restricted`` the decoded side already carries query_id from the
    candidate join, so the per-dimension product joins per (query, dim)."""
    term = F.round(
        (F.col("qv") - F.col("xhat")) * (F.col("qv") - F.col("xhat")), 9
    ).cast("decimal(20,9)")
    join_keys = ["query_id", "dim"] if restricted else ["dim"]
    # Broadcast bound: q is |Q|·d rows (N_QUERIES query vectors exploded by
    # dimension) — KiBs here, and in production ANN serving the query batch
    # is sized to fit an executor by construction. If a bulk all-pairs run
    # ever ships an unbounded query side, drop the hint and let AQE choose.
    scored = (
        decoded.join(F.broadcast(q), join_keys)
        .filter(F.col("cand_id") != F.col("query_id"))
        .groupBy("query_id", "cand_id")
        .agg(F.round(F.sum(term).cast("double"), 6).alias("approx_dist"))
    )
    w = W.partitionBy("query_id").orderBy(F.asc("approx_dist"), F.asc("cand_id"))
    return scored.select("*", F.row_number().over(w).alias("rn")).filter(
        F.col("rn") <= TOP_K
    )


@register("sim_cosine_topk_ivf_sq8", oracle=_sq8_oracle(ivf=True))
def sim_cosine_topk_ivf_sq8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF×SQ8: the coarse prober prunes each query to its nprobe lists
    (same quantizer as `sim_cosine_topk_ivf_pq`) and SQ8 asymmetric L2
    ranks only those lists' byte codes — completing the quantization ×
    pruning matrix (PQ, residual-PQ, SQ8 each compose with IVF)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return sq8_topk(spark, emb, candidates=_coarse_candidates(emb))


# ---------------------------------------------------------------------------
# Stored-index IVF×PQ: train ONCE → persist (codebooks, codes, coarse index)
# → search many. The end-to-end `sim_cosine_topk_ivf_pq` query retrains its
# codebooks on every call, which is the right correctness artifact but the
# wrong serving shape: at 100 TB you amortize one training/encode job over
# trillions of queries. This variant separates the two — `build_ivf_pq_index`
# is the (idempotent, fingerprint-guarded) offline job, and
# `ivf_pq_topk_from_index` touches only the stored parquet: probe the coarse
# centroids, join the probed lists' M-byte codes against per-query ADC
# tables. Same deterministic training ⇒ same results ⇒ the identical
# `_ivf_pq_oracle` hash-checks the stored-index path.
# ---------------------------------------------------------------------------


def _pq_index_root(sf_dir: str) -> str:
    import os

    repo = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    tag = os.path.basename(os.path.normpath(sf_dir)) or "default"
    return os.path.join(repo, "spark-warehouse", "ivf_pq_index", tag)


def _embeddings_fingerprint(sf_dir: str) -> dict:
    """Identity of the source the index was built from — (path, size,
    mtime). A regenerated testdata drop invalidates the stored index
    instead of silently serving stale codes."""
    import os

    from csv_parquet_s3_spark.sources.tables import table_path

    p = table_path(sf_dir, "embeddings")
    st = os.stat(p)
    # "format" versions the artifact SET: bump it whenever the build writes
    # new datasets (e.g. the sq8_* additions), so an index from an older
    # build rebuilds instead of failing on a missing artifact.
    # format 4: hive-partitioned (directory-per-list) inverted-list layout
    # format 5: sq8_codes stored WIDE (one array<int> row per vector, dim
    #           order) instead of one row per (vector, dimension)
    return {"path": p, "size": st.st_size, "mtime_ns": st.st_mtime_ns, "format": 5}


def build_ivf_pq_index(spark: SparkSession, emb: DataFrame, index_path: str) -> None:
    """Offline index build: PQ codebooks (deterministic Lloyd), the coarse
    quantizer (seed centroids + full inverted-list assignment), corpus
    codes (M small ints per vector), and the SQ8 artifacts — one root.
    Each stage reads the previous stage back from parquet, so the stored
    artifacts are exactly what search will consume.

    Layout (format 4): the code tables CARRY list_id and are written
    directory-per-list (`_write_list_clustered`) — the codes live INSIDE
    the inverted lists, as in any deployed IVF-PQ system — so serving
    lists and reads only the probed lists' directories
    (see `_stored_coarse_candidates` / `_restrict_to_probed`); at 100 TB
    the per-query scan cost is Σ|probed lists|' codes, never the corpus
    code table."""
    vec = _with_norm(emb).select("vec_id", "vd", "norm")
    cent = _centroid_frame(
        vec.filter(
            (F.col("vec_id") >= N_QUERIES) & (F.col("vec_id") < N_QUERIES + K_LISTS)
        ).select(
            F.dense_rank().over(W.orderBy("vec_id")).cast("bigint").alias("list_id"),
            "vd",
            "norm",
        )
    )
    cent.write.mode("overwrite").parquet(f"{index_path}/centroids")
    cent_s = read_parquet(spark, f"{index_path}/centroids")
    k = cent_s.count()
    _write_list_clustered(
        _assign(vec, cent_s).select("vec_id", "list_id"),
        k,
        f"{index_path}/coarse_assign",
    )
    assign_s = _read_lists(spark, f"{index_path}/coarse_assign")

    books = train_pq_codebooks(spark, emb)
    books.write.mode("overwrite").parquet(f"{index_path}/codebooks")
    books_s = read_parquet(spark, f"{index_path}/codebooks")
    _write_list_clustered(
        pq_encode(emb, books_s).join(assign_s, "vec_id"), k, f"{index_path}/codes"
    )
    # SQ8 artifacts share the root (and the coarse quantizer): per-dimension
    # corpus range + 1-byte-per-dim codes — the other compressed serving
    # path. Since format 5 the codes are stored WIDE (one array<int> row per
    # vector, dimension order): a d-dim corpus is |corpus| index rows, not
    # |corpus|·d — at 100 TB that is d× fewer rows shuffled/joined at serve
    # time and the per-dimension scoring join disappears into a map-side
    # array fold (`_sq8_rank_wide`).
    x = _unit_long(emb)
    stats = sq8_stats(x)
    stats.write.mode("overwrite").parquet(f"{index_path}/sq8_stats")
    mn, mx = _sq8_stats_vectors(spark, index_path)
    _write_list_clustered(
        _sq8_encode_wide(_unit(emb), mn, mx).join(assign_s, "vec_id"),
        k,
        f"{index_path}/sq8_codes",
    )


def ivf_pq_topk_from_index(
    spark: SparkSession,
    queries: DataFrame,
    index_path: str,
    k: int = TOP_K,
    nprobe: int = N_PROBE,
) -> DataFrame:
    """Serve top-k from the STORED index only: no training, no corpus
    vectors — the query side probes its nprobe nearest stored centroids
    (|Q|×K broadcast), pulls those lists' members from the stored coarse
    assignment, and ADC-ranks their codes. Per-query cost is
    (nprobe/K)·corpus code lookups; the raw embedding column is never read
    at query time."""
    books = read_parquet(spark, f"{index_path}/codebooks")
    candidates, probes = _stored_coarse_candidates(spark, queries, index_path, nprobe)
    codes = _restrict_to_probed(
        _read_lists(spark, f"{index_path}/codes"), probes
    ).drop("list_id")
    return pq_topk(queries, codes, books, k=k, candidates=candidates)


def _stored_coarse_candidates(
    spark: SparkSession, queries: DataFrame, index_path: str, nprobe: int = N_PROBE
) -> tuple[DataFrame, DataFrame]:
    """(candidate pairs, probes frame) from the STORED coarse quantizer —
    probe each query's nprobe nearest stored centroids and pull those
    lists' members from the stored assignment. Shared by every
    quantizer-from-index search (PQ, SQ8). The returned probes frame
    (query_id, list_id — materialized, bounded nprobe × |queries| rows) is
    what the caller hands :func:`_restrict_to_probed` so every per-list
    artifact scan skips the unprobed lists' directories through
    join-triggered dynamic partition pruning."""
    cent = read_parquet(spark, f"{index_path}/centroids")
    assign = _read_lists(spark, f"{index_path}/coarse_assign")
    q = _with_norm(queries).select("vec_id", "vd", "norm")
    wq = W.partitionBy("vec_id").orderBy(F.desc("csim"), F.asc("list_id"))
    probes = (
        q.crossJoin(F.broadcast(cent))
        .withColumn(
            "csim",
            F.round(
                _dot(F.col("vd"), F.col("cv")) / (F.col("norm") * F.col("cnorm")), 6
            ).cast("double"),
        )
        .withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= nprobe)
        .select(F.col("vec_id").alias("query_id"), "list_id")
        .transform(materialize)
    )
    # the candidate join itself triggers DPP on the assignment scan
    cand = assign.join(F.broadcast(_mark_selective(probes)), "list_id").select(
        "query_id", "vec_id"
    )
    return cand, probes


def ensure_ivf_pq_index(spark: SparkSession, sf_dir: str) -> str:
    """Idempotent index materialization: build only if absent or if the
    source embeddings file changed. Returns the ACTIVE VERSION directory
    of a versioned root (``maintenance.ensure_published``): the build
    lands in a fresh ``v-<uuid>`` version, published with one atomic
    pointer rename — a concurrent reader always resolves a complete
    index, old or new; the root is never missing or partial (no
    rename-aside two-rename gap)."""
    from csv_parquet_s3_spark.maintenance import ensure_published

    return ensure_published(
        _pq_index_root(sf_dir),
        _embeddings_fingerprint(sf_dir),
        lambda staged: build_ivf_pq_index(
            spark, load_table(spark, sf_dir, "embeddings"), staged
        ),
    )


@register("sim_cosine_topk_ivf_pq_from_index", oracle=_ivf_pq_oracle())
def sim_cosine_topk_ivf_pq_from_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF×PQ search FROM THE STORED INDEX — the serving shape of the
    canonical billion-scale ANN recipe: train/encode once (amortized,
    fingerprint-guarded), then every search touches only stored centroids,
    coarse assignment, and M-byte codes. Hash-checked against the same
    unrolled-Lloyd oracle as the end-to-end `sim_cosine_topk_ivf_pq` —
    pinning stored-index search ≡ end-to-end compute."""
    root = ensure_ivf_pq_index(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    return ivf_pq_topk_from_index(spark, queries, root)


def _sq8_stats_vectors(
    spark: SparkSession, index_path: str
) -> tuple[list[float], list[float]]:
    """``(mn, mx)`` per-dimension range off the stored ``sq8_stats`` table,
    dim order — a bounded DIMENSION-sized driver readout (64 rows here,
    thousands at most in production) through
    ``sources.tables.read_small_table`` (no Spark job on a local root)."""
    t = read_small_table(spark, f"{index_path}/sq8_stats", ["dim", "mn", "mx"])
    order = sorted(range(len(t["dim"])), key=t["dim"].__getitem__)
    return [t["mn"][i] for i in order], [t["mx"][i] for i in order]


def _with_range_arrays(df: DataFrame, mn: list[float], mx: list[float]) -> DataFrame:
    """Attach the per-dimension range as array literals (read exactly off
    the stored doubles, so literal plans stay bit-identical to joins
    against the stats table)."""
    return df.withColumn(
        "mn_arr", F.array(*[F.lit(float(v)) for v in mn])
    ).withColumn("mx_arr", F.array(*[F.lit(float(v)) for v in mx]))


# SQL fragments over (codes, qv, mn_arr, mx_arr) columns — the WIDE form of
# exactly the arithmetic `_sq8_encode`/`_sq8_decode`/`_sq8_rank` apply per
# (vector, dimension) row: identical IEEE ops per element, per-dimension
# terms rounded to 9 then summed as exact DECIMAL (order cannot matter), so
# wide ≡ long bit-for-bit and the same oracle hash-checks both.
_SQ8_XHAT = (
    "(element_at(mn_arr, i + 1) + CAST(c AS DOUBLE) / {lv}"
    " * (element_at(mx_arr, i + 1) - element_at(mn_arr, i + 1)))"
).format(lv=SQ_LEVELS)
_SQ8_DIST_WIDE = f"""
    CAST(ROUND(CAST(aggregate(
        transform(codes, (c, i) ->
            CAST(round((element_at(qv, i + 1) - {_SQ8_XHAT})
                       * (element_at(qv, i + 1) - {_SQ8_XHAT}), 9)
                 AS DECIMAL(20, 9))),
        CAST(0 AS DECIMAL(30, 9)),
        (acc, t) -> CAST(acc + t AS DECIMAL(30, 9))) AS DOUBLE), 6)
    AS DOUBLE)
"""


def _sq8_encode_wide(
    unit: DataFrame, mn: list[float], mx: list[float]
) -> DataFrame:
    """(vec_id, codes): one array<int> row per unit vector — element i is
    `_sq8_encode`'s code for dimension i (flat-range dims encode 0)."""
    return _with_range_arrays(unit, mn, mx).select(
        "vec_id",
        F.expr(
            f"""transform(vd, (x, i) ->
                CASE WHEN element_at(mx_arr, i + 1) = element_at(mn_arr, i + 1)
                     THEN 0
                     ELSE CAST(round((x - element_at(mn_arr, i + 1))
                               / (element_at(mx_arr, i + 1)
                                  - element_at(mn_arr, i + 1))
                               * {SQ_LEVELS}, 0) AS INT)
                END)"""
        ).alias("codes"),
    )


def sq8_topk_from_index(
    spark: SparkSession,
    queries: DataFrame,
    index_path: str,
    nprobe: int = N_PROBE,
) -> DataFrame:
    """SQ8 serving from the STORED index — the format-5 WIDE shape: the
    probed lists' code ARRAYS join the bounded candidate set and the
    broadcast query vectors, then decode + squared-L2 happen in ONE
    map-side array fold per (query, candidate) pair. Versus the long
    form, the per-dimension scoring join and its (query, cand, dim)
    shuffle are gone entirely: the only shuffle left is the final
    per-query top-k window, and the index holds |corpus| rows, not
    |corpus|·d. The stored range folds in as array literals (bounded
    dimension-sized readout, no stats scan per query)."""
    mn, mx = _sq8_stats_vectors(spark, index_path)
    candidates, probes = _stored_coarse_candidates(spark, queries, index_path, nprobe)
    codes = _restrict_to_probed(
        _read_lists(spark, f"{index_path}/sq8_codes"), probes
    ).drop("list_id")
    q = _unit(queries).select(
        F.col("vec_id").alias("query_id"), F.col("vd").alias("qv")
    )
    paired = (
        codes.withColumnRenamed("vec_id", "cand_id")
        .join(candidates.withColumnRenamed("vec_id", "cand_id"), "cand_id")
        .join(F.broadcast(q), "query_id")
        .filter(F.col("cand_id") != F.col("query_id"))
    )
    scored = _with_range_arrays(paired, mn, mx).select(
        "query_id", "cand_id", F.expr(_SQ8_DIST_WIDE).alias("approx_dist")
    )
    w = W.partitionBy("query_id").orderBy(F.asc("approx_dist"), F.asc("cand_id"))
    return scored.select("*", F.row_number().over(w).alias("rn")).filter(
        F.col("rn") <= TOP_K
    )


# ---------------------------------------------------------------------------
# IVF×PQ + exact refinement (re-ranking): the full production serving recipe.
# ADC over compressed codes is cheap but lossy; every deployed IVF-PQ system
# (FAISS's `refine` stage, ScaNN's re-scoring) therefore ADC-ranks a SHORTLIST
# of R = refine_factor·k candidates and re-scores only those R rows against
# the raw vectors. Per query the raw embedding column is touched for exactly
# |shortlist| rows — (R/corpus)·100 TB, not 100 TB — so the refine join stays
# a sliver even at full scale while recovering exact-cosine ordering within
# the shortlist.
# ---------------------------------------------------------------------------

REFINE_FACTOR = 4  # shortlist size = REFINE_FACTOR × TOP_K


def _ivf_pq_refine_oracle(factor: int = REFINE_FACTOR) -> str:
    """The IVF×PQ oracle with its final top-k swapped for shortlist →
    exact-cosine re-rank: ADC picks R candidates (same tie-breaks), raw
    embeddings re-score them, ranking matches the brute-force rounding."""
    full = _ivf_pq_oracle()
    marker = "    SELECT query_id, cand_id, approx_dist, rn FROM ("
    head, _tail = full.rsplit(marker, 1)
    # `head` ends after the candidate-restricted `scored` CTE.
    return head + f"""    , shortlist AS (
        SELECT query_id, cand_id FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY approx_dist ASC, cand_id) AS srn
            FROM scored
        ) t WHERE srn <= {factor * TOP_K}
    ),
    exact AS (
        SELECT s.query_id, s.cand_id,
               CAST(ROUND({_ORACLE_DOT.format(a='q.embedding', b='e.embedding')}
                    / ({_ORACLE_NORM.format(v='q.embedding')}
                       * {_ORACLE_NORM.format(v='e.embedding')}), 6) AS DOUBLE)
                 AS cos_sim
        FROM shortlist s
        JOIN embeddings q ON q.vec_id = s.query_id
        JOIN embeddings e ON e.vec_id = s.cand_id
    )
    SELECT query_id, cand_id, cos_sim, rn FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY cos_sim DESC, cand_id) AS rn
        FROM exact
    ) t WHERE rn <= {TOP_K}"""


def ivf_pq_refined_topk(
    spark: SparkSession,
    queries: DataFrame,
    emb: DataFrame,
    index_path: str,
    k: int = TOP_K,
    factor: int = REFINE_FACTOR,
) -> DataFrame:
    """Serve from the stored index, then exact-rerank the ADC shortlist.

    The shortlist join against raw vectors is |Q|·R rows on the left — the
    raw-embedding scan is candidate-pruned by the join (at cluster scale:
    a broadcastable shortlist keyed on vec_id against the vector table),
    so full vectors are read for R rows per query, never the corpus."""
    shortlist = ivf_pq_topk_from_index(
        spark, queries, index_path, k=factor * k
    ).select("query_id", "cand_id")
    v = _with_norm(emb).select("vec_id", "vd", "norm")
    qv = v.select(
        F.col("vec_id").alias("query_id"),
        F.col("vd").alias("qv"),
        F.col("norm").alias("qnorm"),
    )
    cv = v.select(
        F.col("vec_id").alias("cand_id"),
        F.col("vd").alias("cv2"),
        F.col("norm").alias("cnorm2"),
    )
    exact = (
        shortlist.join(cv, "cand_id")
        .join(F.broadcast(qv), "query_id")
        .select(
            "query_id",
            "cand_id",
            F.round(
                _dot(F.col("qv"), F.col("cv2")) / (F.col("qnorm") * F.col("cnorm2")), 6
            )
            .cast("double")
            .alias("cos_sim"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("cand_id"))
    return exact.select("*", F.row_number().over(w).alias("rn")).filter(
        F.col("rn") <= k
    )


@register("sim_cosine_topk_ivf_pq_refine", oracle=_ivf_pq_refine_oracle())
def sim_cosine_topk_ivf_pq_refine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF×PQ with exact re-ranking — the complete production ANN serving
    path: probe stored centroids, ADC-rank the probed lists' M-byte codes
    to an R=REFINE_FACTOR·k shortlist, then re-score ONLY the shortlist
    against raw vectors for exact-cosine final ordering. Recovers the
    quantization loss of ADC at a raw-vector read cost of R rows per query.
    Hash-checked against the IVF×PQ oracle extended with the same
    shortlist → exact re-rank tail."""
    root = ensure_ivf_pq_index(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    return ivf_pq_refined_topk(spark, queries, emb, root)


@register("sim_cosine_topk_ivf_sq8_from_index", oracle=_sq8_oracle(ivf=True))
def sim_cosine_topk_ivf_sq8_from_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF×SQ8 search FROM THE STORED INDEX — the serving shape of the
    byte-quantized path: the offline build persists the per-dimension range
    + 1-byte codes next to the PQ artifacts (one ANN index root, one
    fingerprint guard), and each query probes stored centroids then
    ADC-ranks stored codes. Hash-checked against the same oracle as the
    end-to-end `sim_cosine_topk_ivf_sq8`, pinning stored-index serving ≡
    end-to-end compute."""
    root = ensure_ivf_pq_index(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    return sq8_topk_from_index(spark, queries, root)


# ---------------------------------------------------------------------------
# Plain-IVF index CRUD: the build/update/delete/serve lifecycle for the
# inverted-list index, driver-checked end to end (the vector mirror of the
# BM25 index lifecycle in operators/retrieval.py).
# ---------------------------------------------------------------------------

# Victims for the maintenance entries: the odd-vec_id tail ABOVE the seed
# band, so queries (vec_id < N_QUERIES) and quantizer seeds survive and a
# rebuild over the survivors can reuse the same deterministic seeds.
_TAIL_START = N_QUERIES + K_LISTS


def delete_from_ivf_index(
    spark: SparkSession, vec_ids: DataFrame, index_path: str
) -> int:
    """DELETE vectors from the stored inverted lists — the index-side analog
    of the reference's predicate purge (`AutoPurge.sql:171-174`): one
    broadcast anti-join rewrite of ``assign/`` via
    :func:`maintenance.delete_rows` (staged write + atomic rename-aside
    swap, so a concurrent searcher never sees a partial table). The
    quantizer is untouched — centroids are corpus statistics, not per-row
    state, exactly as a production IVF system serves deletes without
    retraining. Returns the number of vectors removed; ids absent from the
    index are ignored (DELETE semantics)."""
    from csv_parquet_s3_spark.maintenance import delete_rows

    return delete_rows(
        spark, f"{index_path}/assign", vec_ids.select("vec_id"), key="vec_id"
    )


def _ivf_from_index_oracle(corpus_where: str = "TRUE") -> str:
    """Replay of seed-quantizer build + nprobe serve over a filtered corpus.

    Mirrors ``build_ivf_index(train_iters=0)`` + ``topk_from_index``: 1-based
    list ids (dense_rank over seed vec_ids), 6-digit rounded cosines with
    list_id / vec_id tie-breaks. ``corpus_where`` restricts which vectors are
    IN the index (survivors after a delete; everything for incremental ≡
    full); queries always come from the full table's vec_id < N_QUERIES."""
    return f"""
    WITH cent AS (
        SELECT ROW_NUMBER() OVER (ORDER BY vec_id) AS list_id, embedding AS cv,
               {_ORACLE_NORM.format(v='embedding')} AS cnorm
        FROM embeddings
        WHERE vec_id >= {N_QUERIES} AND vec_id < {N_QUERIES + K_LISTS}
    ),
    corpus AS (SELECT * FROM embeddings WHERE {corpus_where}),
    assign AS (
        SELECT vec_id, embedding, norm, list_id FROM (
            SELECT e.vec_id, e.embedding, c.list_id,
                   {_ORACLE_NORM.format(v='e.embedding')} AS norm,
                   ROW_NUMBER() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY CAST(ROUND({_ORACLE_DOT.format(a='e.embedding', b='c.cv')}
                                / ({_ORACLE_NORM.format(v='e.embedding')} * c.cnorm), 6)
                                AS DOUBLE) DESC, c.list_id) AS rn
            FROM corpus e, cent c
        ) t WHERE rn = 1
    ),
    probes AS (
        SELECT query_id, list_id FROM (
            SELECT q.vec_id AS query_id, c.list_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY CAST(ROUND({_ORACLE_DOT.format(a='q.embedding', b='c.cv')}
                                / ({_ORACLE_NORM.format(v='q.embedding')} * c.cnorm), 6)
                                AS DOUBLE) DESC, c.list_id) AS rn
            FROM embeddings q, cent c WHERE q.vec_id < {N_QUERIES}
        ) t WHERE rn <= {N_PROBE}
    ),
    scored AS (
        SELECT p.query_id, a.vec_id,
               CAST(ROUND({_ORACLE_DOT.format(a='q.embedding', b='a.embedding')}
                    / ({_ORACLE_NORM.format(v='q.embedding')} * a.norm), 6) AS DOUBLE)
                 AS cos_sim
        FROM probes p
        JOIN assign a ON a.list_id = p.list_id
        JOIN embeddings q ON q.vec_id = p.query_id
        WHERE a.vec_id <> p.query_id
    )
    SELECT query_id, vec_id, cos_sim, rn FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cos_sim DESC, vec_id) AS rn
        FROM scored
    ) t WHERE rn <= {TOP_K}
    """


def _serve_plain_ivf(spark: SparkSession, emb: DataFrame, idx: str) -> DataFrame:
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    return topk_from_index(spark, queries, idx, N_PROBE, k=TOP_K).drop("list_id")


@register("sim_cosine_topk_ivf_incremental", oracle=_ivf_from_index_oracle())
def sim_cosine_topk_ivf_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index maintained INCREMENTALLY, then served from the store:
    build on the corpus minus the odd-vec_id tail, `update_ivf_index` the
    tail as a later ingest batch (assign against STORED centroids + merge
    by vec_id — per-batch cost tracks the batch, never the corpus), serve
    nprobe top-k from the merged lists. Hash-equality with the full-corpus
    oracle pins incremental ≡ full build, the same contract the MinHash and
    BM25 index lifecycles meet (`dedup_minhash_incremental`,
    `retrieval_bm25_incremental`)."""
    emb = load_table(spark, sf_dir, "embeddings")
    idx = scratch_dir("ivf_inc_reg_")
    tail = (F.col("vec_id") % 2 == 1) & (F.col("vec_id") >= _TAIL_START)
    build_ivf_index(spark, emb.filter(~tail), _SEEDS, idx)
    update_ivf_index(spark, emb.filter(tail), idx)
    return _serve_plain_ivf(spark, emb, idx)


@register(
    "sim_cosine_topk_ivf_after_delete",
    # DELETE must serve exactly what a fresh build over the survivors
    # serves (same seed quantizer), so the oracle replays the serve with
    # the victims excluded from the indexed corpus.
    oracle=_ivf_from_index_oracle(
        f"NOT (vec_id % 2 = 1 AND vec_id >= {_TAIL_START})"
    ),
)
def sim_cosine_topk_ivf_after_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF search after DELETING the odd-vec_id tail from a full-corpus
    index (`delete_from_ivf_index` — broadcast anti-join rewrite of the
    inverted lists, quantizer untouched): hash-equality with the
    survivors-only oracle pins delete ≡ rebuild-over-survivors. With
    `build_ivf_index` / `update_ivf_index` / `topk_from_index` this
    completes the plain-IVF index CRUD story to the same standard as BM25
    (`retrieval_bm25_after_delete`)."""
    emb = load_table(spark, sf_dir, "embeddings")
    idx = scratch_dir("ivf_del_reg_")
    build_ivf_index(spark, emb, _SEEDS, idx)
    tail = (F.col("vec_id") % 2 == 1) & (F.col("vec_id") >= _TAIL_START)
    delete_from_ivf_index(spark, emb.filter(tail), idx)
    return _serve_plain_ivf(spark, emb, idx)


def compact_ivf_index(spark: SparkSession, index_path: str) -> None:
    """Post-merge compaction: restore the directory-per-list physical
    layout that `update_ivf_index`'s upsert rewrite loses (the IVF mirror
    of `compact_bm25_index`). One staged rewrite — after it, every list
    again owns its own ``list_id=N/`` directory and the serving probe's
    dynamic partition pruning skips unprobed lists at file-listing time.
    Correctness never depends on the layout (the serve is hash-identical
    before and after); this is purely the scan-cost property. Quantizer
    and search results are untouched."""
    from csv_parquet_s3_spark.maintenance import staged

    path = f"{index_path}/assign"
    k = read_parquet(spark, f"{index_path}/centroids").count()
    with staged(path, "._compact-") as staging:
        _write_list_clustered(_read_lists(spark, path), int(k), staging)
