"""Hybrid retrieval: lexical + vector rankers fused with reciprocal-rank
fusion (RRF, Cormack et al. SIGIR'09) over the paired ``documents`` /
``embeddings`` tables (doc_id == vec_id).

Reference scope: the reference engine (529 Java + 505 PL/SQL ETL lines) has
no retrieval surface; this is part of the driver-mandated training-data /
serving extensions, composed entirely from built-in DataFrame ops.

Scale shape: the query set is bounded (a handful of probe documents), so
query tokens and query vectors BROADCAST; candidate scoring is map-side
against each corpus partition and the only shuffles are the per-query
rankings (window on query_id — k×|queries| rows leave each executor after
partial top-k at the exchange). Exact RRF needs each candidate's rank in
BOTH rankers; the production trick at 100 TB is to truncate each ranker to
its top-N (N >> k) before fusing — noted below, not done here, because the
oracle pins the exact full-ranking semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from csv_parquet_s3_spark.maintenance import (
    _staged_overwrite,
    compact,
    ensure_published,
    scratch_dir,
    upsert,
)
from csv_parquet_s3_spark.operators.registry import ORACLES, register
from csv_parquet_s3_spark.operators.similarity import (
    _ORACLE_DOT,
    _ORACLE_NORM,
    _dot,
    _with_norm,
)
from csv_parquet_s3_spark.sources.tables import (
    load_table,
    read_parquet,
    read_small_table,
)
from csv_parquet_s3_spark.plans.materialize import materialize

N_QUERIES = 5   # doc_id < 5 are the probe queries (same convention as similarity)
RRF_K = 60      # standard RRF dampening constant
TOP_K = 10
RRF_TOP_N = 100  # per-ranker truncation depth for the production variant


def _rrf_ranker_legs(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """The two ranker legs shared by the exact and truncated RRF entries:
    (query_id, doc_id, lex_rank) from distinct-token overlap and
    (query_id, doc_id, vec_rank) from embedding cosine. Query tokens and
    query vectors broadcast; candidate scoring is map-side."""
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")

    # lexical leg: distinct-token overlap via broadcast of the query tokens
    qdocs = docs.filter(F.col("doc_id") < N_QUERIES).select(
        F.col("doc_id").alias("query_id"),
        F.array_distinct(F.split("text", " ")).alias("qtoks"),
    )
    cands = docs.select("doc_id", F.array_distinct(F.split("text", " ")).alias("toks"))
    lex = (
        cands.crossJoin(F.broadcast(qdocs))
        .filter(F.col("doc_id") != F.col("query_id"))
        .select(
            "query_id",
            "doc_id",
            F.size(F.array_intersect("toks", "qtoks")).alias("overlap"),
        )
    )
    wl = W.partitionBy("query_id").orderBy(F.desc("overlap"), F.asc("doc_id"))
    lexrank = lex.select("query_id", "doc_id", F.row_number().over(wl).alias("lex_rank"))

    # vector leg: same arithmetic as sim_cosine_topk_bruteforce
    embn = _with_norm(emb)
    qv = embn.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("vd").alias("qv"),
        F.col("norm").alias("qnorm"),
    )
    vec = (
        embn.crossJoin(F.broadcast(qv))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("doc_id"),
            F.round(
                _dot(F.col("qv"), F.col("vd")) / (F.col("qnorm") * F.col("norm")), 6
            )
            .cast("double")
            .alias("cos_sim"),
        )
    )
    wv = W.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("doc_id"))
    vecrank = vec.select("query_id", "doc_id", F.row_number().over(wv).alias("vec_rank"))
    return lexrank, vecrank


@register(
    "retrieval_hybrid_rrf",
    oracle=f"""
    WITH qdocs AS (
        SELECT doc_id AS query_id, string_split(text, ' ') AS qtoks
        FROM documents WHERE doc_id < {N_QUERIES}
    ),
    cands AS (
        SELECT doc_id, string_split(text, ' ') AS toks
        FROM documents
    ),
    lex AS (
        SELECT q.query_id, c.doc_id,
               len(list_intersect(list_distinct(c.toks), list_distinct(q.qtoks)))
                   AS overlap
        FROM qdocs q, cands c
        WHERE c.doc_id <> q.query_id
    ),
    lexrank AS (
        SELECT query_id, doc_id, overlap,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY overlap DESC, doc_id) AS lex_rank
        FROM lex
    ),
    qv AS (
        SELECT vec_id AS query_id, embedding AS qv,
               {_ORACLE_NORM.format(v='embedding')} AS qnorm
        FROM embeddings WHERE vec_id < {N_QUERIES}
    ),
    vec AS (
        SELECT q.query_id, e.vec_id AS doc_id,
               CAST(ROUND({_ORACLE_DOT.format(a='q.qv', b='e.embedding')}
                    / (q.qnorm * {_ORACLE_NORM.format(v='e.embedding')}), 6)
                    AS DOUBLE) AS cos_sim
        FROM qv q, embeddings e
        WHERE e.vec_id <> q.query_id
    ),
    vecrank AS (
        SELECT query_id, doc_id, cos_sim,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cos_sim DESC, doc_id) AS vec_rank
        FROM vec
    ),
    fused AS (
        SELECT l.query_id, l.doc_id,
               CAST(l.lex_rank AS INT) AS lex_rank,
               CAST(v.vec_rank AS INT) AS vec_rank,
               CAST(ROUND(1.0 / ({RRF_K} + l.lex_rank)
                          + 1.0 / ({RRF_K} + v.vec_rank), 6) AS DOUBLE) AS rrf_score
        FROM lexrank l JOIN vecrank v
          ON l.query_id = v.query_id AND l.doc_id = v.doc_id
    )
    SELECT query_id, doc_id, lex_rank, vec_rank, rrf_score, CAST(rn AS INT) AS rn
    FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY rrf_score DESC, doc_id) AS rn
        FROM fused
    ) t WHERE rn <= {TOP_K}
    """,
)
def retrieval_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{TOP_K} documents per probe query by reciprocal-rank fusion of a
    lexical ranker (distinct-token overlap with the query document) and a
    vector ranker (embedding cosine): rrf = Σ 1/({RRF_K} + rank_i).

    Rank fusion is how production retrieval combines BM25-style and
    dense-vector candidates without score calibration — only RANKS cross
    the ranker boundary, so the two scoring scales never need reconciling.
    Both rankings are total (ties break on doc_id) and the fused score is
    the same double arithmetic on both engines, rounded before the final
    ordering, so the oracle pins the exact fusion.
    """
    lexrank, vecrank = _rrf_ranker_legs(spark, sf_dir)

    fused = lexrank.join(vecrank, ["query_id", "doc_id"]).select(
        "query_id",
        "doc_id",
        F.col("lex_rank").cast("int").alias("lex_rank"),
        F.col("vec_rank").cast("int").alias("vec_rank"),
        F.round(
            1.0 / (RRF_K + F.col("lex_rank")) + 1.0 / (RRF_K + F.col("vec_rank")), 6
        )
        .cast("double")
        .alias("rrf_score"),
    )
    wf = W.partitionBy("query_id").orderBy(F.desc("rrf_score"), F.asc("doc_id"))
    return (
        fused.select("*", F.row_number().over(wf).cast("int").alias("rn"))
        .filter(F.col("rn") <= TOP_K)
    )


@register(
    "retrieval_hybrid_rrf_topn",
    oracle=f"""
    WITH qdocs AS (
        SELECT doc_id AS query_id, string_split(text, ' ') AS qtoks
        FROM documents WHERE doc_id < {N_QUERIES}
    ),
    cands AS (
        SELECT doc_id, string_split(text, ' ') AS toks
        FROM documents
    ),
    lex AS (
        SELECT q.query_id, c.doc_id,
               len(list_intersect(list_distinct(c.toks), list_distinct(q.qtoks)))
                   AS overlap
        FROM qdocs q, cands c
        WHERE c.doc_id <> q.query_id
    ),
    lexrank AS (
        SELECT query_id, doc_id, lex_rank FROM (
            SELECT query_id, doc_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY overlap DESC, doc_id) AS lex_rank
            FROM lex
        ) t WHERE lex_rank <= {RRF_TOP_N}
    ),
    qv AS (
        SELECT vec_id AS query_id, embedding AS qv,
               {_ORACLE_NORM.format(v='embedding')} AS qnorm
        FROM embeddings WHERE vec_id < {N_QUERIES}
    ),
    vec AS (
        SELECT q.query_id, e.vec_id AS doc_id,
               CAST(ROUND({_ORACLE_DOT.format(a='q.qv', b='e.embedding')}
                    / (q.qnorm * {_ORACLE_NORM.format(v='e.embedding')}), 6)
                    AS DOUBLE) AS cos_sim
        FROM qv q, embeddings e
        WHERE e.vec_id <> q.query_id
    ),
    vecrank AS (
        SELECT query_id, doc_id, vec_rank FROM (
            SELECT query_id, doc_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY cos_sim DESC, doc_id) AS vec_rank
            FROM vec
        ) t WHERE vec_rank <= {RRF_TOP_N}
    ),
    fused AS (
        SELECT query_id, doc_id,
               CAST(lex_rank AS INT) AS lex_rank,
               CAST(vec_rank AS INT) AS vec_rank,
               CAST(ROUND(COALESCE(1.0 / ({RRF_K} + lex_rank), 0)
                          + COALESCE(1.0 / ({RRF_K} + vec_rank), 0), 6)
                    AS DOUBLE) AS rrf_score
        FROM lexrank FULL JOIN vecrank USING (query_id, doc_id)
    )
    SELECT query_id, doc_id, lex_rank, vec_rank, rrf_score, CAST(rn AS INT) AS rn
    FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY rrf_score DESC, doc_id) AS rn
        FROM fused
    ) t WHERE rn <= {TOP_K}
    """,
)
def retrieval_hybrid_rrf_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION RRF recipe: each ranker is truncated to its top-{RRF_TOP_N}
    before fusion (a candidate absent from a ranker's top-N contributes 0),
    so fusion state is ≤ N·|queries| rows per ranker instead of the whole
    corpus — the fix `retrieval_hybrid_rrf`'s docstring defers to keep its
    oracle exact.

    Physical win: the rank-filter `rn <= {RRF_TOP_N}` lets Spark's
    InferWindowGroupLimit rewrite each ranker window into a per-partition
    partial top-N BEFORE the window shuffle (a WindowGroupLimit node in the
    plan), so full-corpus candidate rows never cross the exchange — where
    the exact entry must ship every candidate's rank to fusion. The fused
    frame is a FULL OUTER join of the two bounded top-N sets; the oracle
    replays the same truncation, so the differential pins the truncated
    semantics (including the "missing ranker scores 0" convention of
    Cormack et al.).
    """
    lexrank, vecrank = _rrf_ranker_legs(spark, sf_dir)
    lex_n = lexrank.filter(F.col("lex_rank") <= RRF_TOP_N)
    vec_n = vecrank.filter(F.col("vec_rank") <= RRF_TOP_N)
    fused = lex_n.join(vec_n, ["query_id", "doc_id"], "full_outer").select(
        "query_id",
        "doc_id",
        F.col("lex_rank").cast("int").alias("lex_rank"),
        F.col("vec_rank").cast("int").alias("vec_rank"),
        F.round(
            F.coalesce(1.0 / (RRF_K + F.col("lex_rank")), F.lit(0.0))
            + F.coalesce(1.0 / (RRF_K + F.col("vec_rank")), F.lit(0.0)),
            6,
        )
        .cast("double")
        .alias("rrf_score"),
    )
    wf = W.partitionBy("query_id").orderBy(F.desc("rrf_score"), F.asc("doc_id"))
    return (
        fused.select("*", F.row_number().over(wf).cast("int").alias("rn"))
        .filter(F.col("rn") <= TOP_K)
    )


# ---------------------------------------------------------------------------
# BM25 — the lexical ranker production retrieval actually uses (Robertson &
# Zaragoza 2009). Same determinism discipline as text_unigram_perplexity:
# each per-term score is rounded to 6 digits and summed as DECIMAL(20,6),
# so the two engines' different reduce orders cannot diverge (the JVM's and
# DuckDB's libm LN differ in the last ulp — 6-digit rounding absorbs it).
# ---------------------------------------------------------------------------
BM25_K1 = 1.2
BM25_B = 0.75


def _bm25_doc_tf(docs: DataFrame) -> DataFrame:
    """The doc-term index's base table: distinct (doc_id, token) with term
    frequency. Everything SHUFFLED beyond the first partial aggregate is
    distinct (doc, token) pairs, not raw token occurrences."""
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("token")
    ).filter(F.col("token") != "")
    return toks.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))


def _bm25_rank(enriched: DataFrame) -> DataFrame:
    """The BM25 scoring + per-query top-k tail over rows that already carry
    every needed quantity: (query_id, doc_id, tf, dl, df, n_docs, avgdl).
    Per-term contributions partial-aggregate map-side; only (query, doc,
    score) rows shuffle for the per-query top-k."""
    idf6 = F.round(
        F.log(1 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)), 6
    )
    tf_w = (
        F.col("tf")
        * (BM25_K1 + 1.0)
        / (F.col("tf") + BM25_K1 * (1.0 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl")))
    )
    term_score = F.round(idf6 * tf_w, 6).cast("decimal(20,6)")
    scored = enriched.groupBy("query_id", "doc_id").agg(
        F.sum(term_score).alias("score_sum")
    )
    wq = W.partitionBy("query_id").orderBy(F.desc("score_sum"), F.asc("doc_id"))
    return (
        scored.select("*", F.row_number().over(wq).cast("int").alias("rn"))
        .filter(F.col("rn") <= TOP_K)
        .select(
            "query_id",
            "doc_id",
            F.col("score_sum").cast("double").alias("bm25"),
            "rn",
        )
    )


def _bm25_scored_topk(
    doc_tf: DataFrame, dl: DataFrame, df: DataFrame, stats: DataFrame,
    qterms: DataFrame,
) -> DataFrame:
    """BM25 scoring over the four NORMALIZED index tables — the end-to-end
    path, where everything is derived at query time. The bounded query-term
    set broadcasts; dl joins per-doc; the 1-row stats frame cross-joins
    broadcast. (The stored-index serving path skips the dl join and the
    stats frame entirely — see :func:`_bm25_serve_from`.)"""
    enriched = (
        doc_tf.join(F.broadcast(qterms), "token")
        .filter(F.col("doc_id") != F.col("query_id"))
        .join(df, "token")  # vocabulary-sized: AQE broadcasts, never hinted
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
    )
    return _bm25_rank(enriched)


@register(
    "retrieval_bm25_topk",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, t AS token
        FROM documents, UNNEST(string_split(text, ' ')) AS u(t)
        WHERE t <> ''
    ),
    dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id),
    stats AS (
        SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
        FROM dl
    ),
    df AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY token),
    qterms AS (
        SELECT DISTINCT doc_id AS query_id, token FROM toks
        WHERE doc_id < {N_QUERIES}
    ),
    doc_tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM toks GROUP BY doc_id, token),
    scored AS (
        SELECT q.query_id, t.doc_id,
               SUM(CAST(ROUND(
                   ROUND(LN(1 + (s.n_docs - f.df + 0.5) / (f.df + 0.5)), 6)
                   * (t.tf * ({BM25_K1} + 1.0)
                      / (t.tf + {BM25_K1}
                         * (1.0 - {BM25_B} + {BM25_B} * d.dl / s.avgdl))),
                   6) AS DECIMAL(20,6))) AS score_sum
        FROM qterms q
        JOIN doc_tf t ON t.token = q.token AND t.doc_id <> q.query_id
        JOIN df f ON f.token = q.token
        JOIN dl d ON d.doc_id = t.doc_id, stats s
        GROUP BY q.query_id, t.doc_id
    )
    SELECT query_id, doc_id,
           CAST(score_sum AS DOUBLE) AS bm25, CAST(rn AS INT) AS rn
    FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY score_sum DESC, doc_id) AS rn
        FROM scored
    ) t WHERE rn <= {TOP_K}
    """,
)
def retrieval_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{TOP_K} BM25(k1={BM25_K1}, b={BM25_B}) documents per probe query
    (query terms = the probe document's distinct tokens; the corpus itself
    is the collection).

    Scale shape: df/avgdl are vocabulary- and one-row-sized aggregates that
    broadcast; per-candidate scoring joins the bounded query-term set
    against per-doc term frequencies map-side, partial-aggregates the
    per-term contributions, and only (query, doc, score) rows shuffle for
    the final per-query top-k. This is the END-TO-END shape (index derived
    at query time); the serving shape a standing corpus runs is
    ``retrieval_bm25_from_index``, which reads the same four tables off a
    fingerprint-guarded parquet index built once per corpus snapshot.
    """
    docs = load_table(spark, sf_dir, "documents")
    # Every statistic chains off doc_tf (dl = Σtf per doc, df = row count
    # per token, stats from dl), and doc_tf is localCheckpointed: four
    # consumers reference it (dl, df, qterms, the scoring join) — without
    # the checkpoint each replays the tokenize + partial aggregate (a plan
    # audit measured 5 scans / 11 exchanges).
    doc_tf = _bm25_doc_tf(docs).transform(materialize)
    dl = doc_tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    stats = dl.agg(
        F.count("*").alias("n_docs"),
        (F.expr("CAST(SUM(dl) AS DOUBLE)") / F.count("*")).alias("avgdl"),
    )
    df = doc_tf.groupBy("token").agg(F.count("*").alias("df"))
    qterms = doc_tf.filter(F.col("doc_id") < N_QUERIES).select(
        F.col("doc_id").alias("query_id"), "token"
    )
    return _bm25_scored_topk(doc_tf, dl, df, stats, qterms)


# ---------------------------------------------------------------------------
# Stored-index serving: the doc-term index (tf, df, dl, avgdl) is an
# ingest-time artifact at 100 TB — build it once per corpus snapshot
# (fingerprint-guarded, atomic rename; same lifecycle as the MinHash
# signature index in minhash_index.py and the IVF×PQ index in
# similarity_index.py), then every query is a probe over stored parquet:
# no tokenization, no corpus-wide aggregation on the query path.
# ---------------------------------------------------------------------------
def _bm25_index_root(sf_dir: str) -> str:
    import os

    repo = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    tag = os.path.basename(os.path.normpath(sf_dir)) or "default"
    return os.path.join(repo, "spark-warehouse", "bm25_index", tag)


def _bm25_stats(dl: DataFrame) -> DataFrame:
    """The 1-row collection-statistics table. ``sum_dl`` (exact bigint) is
    stored alongside the derived ``avgdl`` so incremental maintenance can
    update the stats MONOIDALLY (sum_dl' = sum_dl − replaced + new) without
    re-aggregating the index; avgdl is always CAST(sum_dl AS DOUBLE)/n_docs
    in both the build and update paths, so the two are bit-identical."""
    return dl.agg(
        F.count("*").alias("n_docs"),
        F.sum("dl").alias("sum_dl"),
        (F.expr("CAST(SUM(dl) AS DOUBLE)") / F.count("*")).alias("avgdl"),
    )


def build_bm25_index(spark: SparkSession, docs: DataFrame, index_path: str) -> None:
    """Full build: the four BM25 tables as parquet under ``index_path``.

    ``doc_tf`` is the big one (distinct (doc,token) pairs); it is written
    RANGE-SORTED BY doc_id so the serving plan's bounded query-doc probe
    (``doc_id < N_QUERIES``) is file/row-group-pruned by parquet min/max
    stats instead of re-scanning the whole index — the scoring pass is the
    only full read. Layout 4 DENORMALIZES the document length onto every
    ``doc_tf`` row (one extra int column in the big table, paid once at
    build): at 100 TB the per-doc ``dl`` table is corpus-sized, so joining
    it at serve time was the one non-broadcast shuffle left in the serving
    plan — storing dl in place removes it entirely. The normalized ``dl``
    table (|docs| rows) is still written: maintenance pre-reads and the
    stats re-aggregate want the per-doc view. ``df`` is vocabulary-sized,
    ``stats`` is one row."""
    doc_tf = _bm25_doc_tf(docs).transform(materialize)
    dl = doc_tf.groupBy("doc_id").agg(F.sum("tf").alias("dl")).transform(materialize)
    (
        doc_tf.join(dl, "doc_id")  # build-time cost; serve never joins dl
        .repartitionByRange("doc_id")
        .sortWithinPartitions("doc_id", "token")
        .write.mode("overwrite")
        .parquet(f"{index_path}/doc_tf")
    )
    dl.write.mode("overwrite").parquet(f"{index_path}/dl")
    doc_tf.groupBy("token").agg(F.count("*").alias("df")).write.mode(
        "overwrite"
    ).parquet(f"{index_path}/df")
    _bm25_stats(dl).write.mode("overwrite").parquet(f"{index_path}/stats")


_BM25_PENDING = "_UPDATE_PENDING"


def bm25_index_consistent(index_path: str) -> bool:
    """False iff an ``update_bm25_index`` run died between its first table
    mutation and its last: updates drop a pending marker before touching
    any table and remove it only after df/stats are refreshed, so a
    surviving marker means merged tf with possibly-stale df/avgdl. Each
    individual table swap is atomic; the marker makes the CROSS-table
    window detectable. Heal with a full rebuild or
    :func:`compact_bm25_index` (whose exact df/stats refresh subsumes the
    lost delta)."""
    import os

    return not os.path.exists(os.path.join(index_path, _BM25_PENDING))


def ensure_bm25_index(spark: SparkSession, sf_dir: str) -> str:
    """Idempotent doc-term-index materialization for the sf_dir's documents
    table, returning the ACTIVE VERSION directory of a versioned root
    (``maintenance.ensure_published``): skip if the published version's
    fingerprint matches (and no crashed update left it inconsistent), else
    build a fresh ``v-<uuid>`` version and publish it with one atomic
    pointer rename — a concurrent reader always resolves a complete index,
    old or new; the root is never missing (no rename-aside two-rename
    gap)."""
    from csv_parquet_s3_spark.operators.minhash_index import _documents_fingerprint

    # layout version 4: doc_tf carries a denormalized dl column (serving
    # drops the per-doc join — the plan's one corpus-sized shuffle at
    # scale); 3 added the doc_id range sort (probe pruning) and exact
    # sum_dl stats — a bump forces older-layout indexes to rebuild
    fp = {**_documents_fingerprint(sf_dir), "bm25_layout": 4}
    return ensure_published(
        _bm25_index_root(sf_dir),
        fp,
        lambda staged: build_bm25_index(
            spark, load_table(spark, sf_dir, "documents"), staged
        ),
        consistent=bm25_index_consistent,
    )


def _bm25_stats_scalars(spark: SparkSession, index_path: str) -> tuple[int, float]:
    """``(n_docs, avgdl)`` off the 1-row stats artifact
    (``sources.tables.read_small_table``: no Spark job on a local root).
    Folding these scalars into the serving expression as literals removes
    the per-query stats scan + broadcast cross-join; the stored ``avgdl``
    double is read exactly, so the literal plan is bit-identical to the
    frame plan."""
    t = read_small_table(spark, f"{index_path}/stats", ["n_docs", "avgdl"])
    return int(t["n_docs"][0]), float(t["avgdl"][0])


def _bm25_serve_from(spark: SparkSession, index_path: str) -> DataFrame:
    """The serving plan over a stored index root: probe the stored tables,
    never the corpus. Layout 4 shape: ``doc_tf`` rows carry their doc's
    ``dl`` (no per-doc join — at 100 TB that join was the plan's one
    corpus-sized shuffle) and the collection statistics fold in as
    literals (no stats scan, no cross-join) — the scoring pass reads
    doc_tf once, probes it once for query terms, and broadcast-joins the
    vocabulary-sized df table."""
    doc_tf = read_parquet(spark, f"{index_path}/doc_tf")
    if "dl" not in doc_tf.columns:
        raise ValueError(
            f"{index_path}/doc_tf: no dl column — index predates bm25_layout"
            " 4; run a full build (ensure_bm25_index rebuilds on the bump)"
        )
    df = read_parquet(spark, f"{index_path}/df")
    n_docs, avgdl = _bm25_stats_scalars(spark, index_path)
    qterms = doc_tf.filter(F.col("doc_id") < N_QUERIES).select(
        F.col("doc_id").alias("query_id"), "token"
    )
    enriched = (
        doc_tf.join(F.broadcast(qterms), "token")
        .filter(F.col("doc_id") != F.col("query_id"))
        .join(df, "token")  # vocabulary-sized: AQE broadcasts, never hinted
        .withColumn("n_docs", F.lit(n_docs))
        .withColumn("avgdl", F.lit(avgdl))
    )
    return _bm25_rank(enriched)


@register(
    "retrieval_bm25_from_index",
    # Serving from the stored index must produce exactly the end-to-end
    # ranking, so the oracle IS the end-to-end BM25 oracle.
    oracle=ORACLES["retrieval_bm25_topk"],
)
def retrieval_bm25_from_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{TOP_K} BM25 served FROM THE STORED doc-term index: tf/df/dl/
    avgdl come straight off parquet — the per-query cost is the bounded
    query-term probe + partial-aggregated scoring, never the corpus
    tokenize/aggregate pass (that cost was paid once at ingest). Cold first
    call builds the index (visible in bench "runs"); steady state is the
    serving shape a 100 TB corpus actually runs.
    """
    root = ensure_bm25_index(spark, sf_dir)
    return _bm25_serve_from(spark, root)


def update_bm25_index(
    spark: SparkSession, new_docs: DataFrame, index_path: str
) -> tuple[int, int]:
    """Incremental index maintenance: tokenize the NEW batch only, MERGE
    its doc_tf/dl rows by doc_id (`maintenance.upsert` — a re-ingested
    document's stale tf rows are replaced wholesale, since the anti-join
    key is the doc), then refresh the collection statistics MONOIDALLY:

    - ``df`` (docs-per-token) merges a batch-vocabulary-sized delta
      (+count from the batch's tf rows, −count from the replaced docs' tf
      rows, read batch-bounded BEFORE the merge) into the stored
      vocabulary-sized table — the merged index is never re-aggregated;
    - ``stats`` updates from exact integers: n_docs' = n_docs − replaced +
      batch, sum_dl' likewise; avgdl is derived with the same
      CAST(sum_dl AS DOUBLE)/n_docs expression the full build uses, so
      incremental ≡ full stays bit-identical.

    Per-batch cost is proportional to the batch plus one vocabulary-sized
    merge; the corpus text and the merged index are never re-read. Every
    table refresh is a staged write + atomic rename-aside swap, and the
    whole update is bracketed by a pending marker
    (:func:`bm25_index_consistent`) so a crash between table swaps is
    detectable instead of silently serving merged tf against stale df.
    Note: the doc_tf merge rewrite loses the build-time doc_id range sort,
    so the query-doc probe loses row-group pruning until
    :func:`compact_bm25_index` restores the layout — correctness is
    unaffected (the serving plan never assumes order).
    Returns (n_docs_updated, n_docs_inserted)."""
    import os

    stats_path = f"{index_path}/stats"
    old_stats = read_parquet(spark, stats_path)
    if "sum_dl" not in old_stats.columns:
        raise ValueError(
            f"{stats_path}: no sum_dl column — index predates bm25_layout 3; "
            "run a full build (ensure_bm25_index rebuilds on the layout bump)"
        )
    st = old_stats.collect()[0]

    old_tf = read_parquet(spark, f"{index_path}/doc_tf")
    if "dl" not in old_tf.columns:
        raise ValueError(
            f"{index_path}/doc_tf: no dl column — index predates bm25_layout"
            " 4; run a full build (ensure_bm25_index rebuilds on the bump)"
        )

    new_tf = _bm25_doc_tf(new_docs).transform(materialize)
    new_dl = (
        new_tf.groupBy("doc_id").agg(F.sum("tf").alias("dl")).transform(materialize)
    )
    new_ids = new_dl.select("doc_id")

    # Batch-bounded pre-reads of everything the merge will replace — pinned
    # (materialize / collect) BEFORE the upserts rewrite the files they read.
    df_sub = (
        old_tf.join(F.broadcast(new_ids), "doc_id", "left_semi")
        .groupBy("token")
        .agg(F.count("*").alias("sub"))
        .transform(materialize)
    )
    repl = (
        read_parquet(spark, f"{index_path}/dl")
        .join(F.broadcast(new_ids), "doc_id", "left_semi")
        .agg(F.count("*").alias("n"), F.sum("dl").alias("s"))
        .collect()[0]
    )
    batch = new_dl.agg(F.count("*").alias("n"), F.sum("dl").alias("s")).collect()[0]
    n_replaced, sum_replaced = repl["n"], repl["s"] or 0
    n_batch, sum_batch = batch["n"], batch["s"] or 0

    pending = os.path.join(index_path, _BM25_PENDING)
    with open(pending, "w") as fh:
        fh.write("update in flight — see bm25_index_consistent()\n")

    # layout 4: the merged doc_tf rows carry their doc's dl (batch-bounded
    # join — a re-ingested doc's rows are replaced wholesale, so the
    # denormalized column stays exact per doc)
    upsert(spark, f"{index_path}/doc_tf", new_tf.join(new_dl, "doc_id"), key="doc_id")
    upsert(spark, f"{index_path}/dl", new_dl, key="doc_id")

    df_add = new_tf.groupBy("token").agg(F.count("*").alias("add"))
    net = (
        df_add.join(df_sub, "token", "full_outer")
        .select(
            "token",
            (
                F.coalesce("add", F.lit(0)) - F.coalesce("sub", F.lit(0))
            ).alias("net"),
        )
        .filter(F.col("net") != 0)
    )
    df_new = (
        read_parquet(spark, f"{index_path}/df")
        .join(net, "token", "full_outer")
        .select(
            "token",
            (F.coalesce("df", F.lit(0)) + F.coalesce("net", F.lit(0))).alias("df"),
        )
        .filter(F.col("df") > 0)
    )
    _staged_overwrite(df_new, f"{index_path}/df", "._refresh-")

    new_n = int(st["n_docs"]) - n_replaced + n_batch
    new_sum = int(st["sum_dl"]) - sum_replaced + sum_batch
    stats_new = spark.createDataFrame(
        [(new_n, new_sum)], "n_docs bigint, sum_dl bigint"
    ).select(
        "n_docs",
        "sum_dl",
        (F.expr("CAST(sum_dl AS DOUBLE)") / F.col("n_docs")).alias("avgdl"),
    )
    _staged_overwrite(stats_new, stats_path, "._refresh-")

    os.remove(pending)
    return n_replaced, n_batch - n_replaced


def delete_from_bm25_index(
    spark: SparkSession, doc_ids: DataFrame, index_path: str
) -> int:
    """DELETE documents from the stored index — the index-side analog of
    the reference's predicate purge (`AutoPurge.sql:171-174`: keep the
    anti-set, staged swap): doc_tf/dl drop the victims' rows via a
    broadcast anti-join rewrite, and df/stats update MONOIDALLY from the
    victims' rows (read batch-bounded BEFORE the rewrite) — the surviving
    index is never re-aggregated. Same staged-swap atomicity and pending-
    marker crash detectability as :func:`update_bm25_index`; same layout
    caveat (the rewrite loses the range sort until
    :func:`compact_bm25_index`). Returns the number of docs removed.

    ``doc_ids`` must be a 1-column (doc_id) frame; ids absent from the
    index are ignored (DELETE semantics, not an error)."""
    import os

    stats_path = f"{index_path}/stats"
    old_stats = read_parquet(spark, stats_path)
    if "sum_dl" not in old_stats.columns:
        raise ValueError(
            f"{stats_path}: no sum_dl column — index predates bm25_layout 3; "
            "run a full build (ensure_bm25_index rebuilds on the layout bump)"
        )
    st = old_stats.collect()[0]
    victims = doc_ids.select("doc_id").distinct().transform(materialize)

    df_sub = (
        read_parquet(spark, f"{index_path}/doc_tf")
        .join(F.broadcast(victims), "doc_id", "left_semi")
        .groupBy("token")
        .agg(F.count("*").alias("sub"))
        .transform(materialize)
    )
    gone = (
        read_parquet(spark, f"{index_path}/dl")
        .join(F.broadcast(victims), "doc_id", "left_semi")
        .agg(F.count("*").alias("n"), F.sum("dl").alias("s"))
        .collect()[0]
    )
    n_gone, sum_gone = gone["n"], gone["s"] or 0

    pending = os.path.join(index_path, _BM25_PENDING)
    with open(pending, "w") as fh:
        fh.write("delete in flight — see bm25_index_consistent()\n")

    for table in ("doc_tf", "dl"):
        kept = read_parquet(spark, f"{index_path}/{table}").join(
            F.broadcast(victims), "doc_id", "left_anti"
        )
        _staged_overwrite(kept, f"{index_path}/{table}", "._refresh-")

    df_new = (
        read_parquet(spark, f"{index_path}/df")
        .join(df_sub, "token", "full_outer")
        .select(
            "token",
            (F.coalesce("df", F.lit(0)) - F.coalesce("sub", F.lit(0))).alias("df"),
        )
        .filter(F.col("df") > 0)
    )
    _staged_overwrite(df_new, f"{index_path}/df", "._refresh-")

    new_n = int(st["n_docs"]) - n_gone
    new_sum = int(st["sum_dl"]) - sum_gone
    stats_new = spark.createDataFrame(
        [(new_n, new_sum)], "n_docs bigint, sum_dl bigint"
    ).select(
        "n_docs",
        "sum_dl",
        (F.expr("CAST(sum_dl AS DOUBLE)") / F.col("n_docs")).alias("avgdl"),
    )
    _staged_overwrite(stats_new, stats_path, "._refresh-")

    os.remove(pending)
    return n_gone


@register(
    "retrieval_bm25_after_delete",
    # DELETE must leave exactly the index a fresh build over the surviving
    # corpus produces, so the oracle replays the end-to-end BM25 recipe
    # over the even-doc_id half only (queries = surviving probe docs).
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, t AS token
        FROM documents, UNNEST(string_split(text, ' ')) AS u(t)
        WHERE t <> '' AND doc_id % 2 = 0
    ),
    dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id),
    stats AS (
        SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
        FROM dl
    ),
    df AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY token),
    qterms AS (
        SELECT DISTINCT doc_id AS query_id, token FROM toks
        WHERE doc_id < {N_QUERIES}
    ),
    doc_tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM toks GROUP BY doc_id, token),
    scored AS (
        SELECT q.query_id, t.doc_id,
               SUM(CAST(ROUND(
                   ROUND(LN(1 + (s.n_docs - f.df + 0.5) / (f.df + 0.5)), 6)
                   * (t.tf * ({BM25_K1} + 1.0)
                      / (t.tf + {BM25_K1}
                         * (1.0 - {BM25_B} + {BM25_B} * d.dl / s.avgdl))),
                   6) AS DECIMAL(20,6))) AS score_sum
        FROM qterms q
        JOIN doc_tf t ON t.token = q.token AND t.doc_id <> q.query_id
        JOIN df f ON f.token = q.token
        JOIN dl d ON d.doc_id = t.doc_id, stats s
        GROUP BY q.query_id, t.doc_id
    )
    SELECT query_id, doc_id,
           CAST(score_sum AS DOUBLE) AS bm25, CAST(rn AS INT) AS rn
    FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY score_sum DESC, doc_id) AS rn
        FROM scored
    ) t WHERE rn <= {TOP_K}
    """,
)
def retrieval_bm25_after_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 served after DELETING the odd-doc_id half from a full-corpus
    index (`delete_from_bm25_index` — broadcast anti-join rewrite +
    monoidal df/stats decrement): hash-equality with a fresh build over the
    surviving half pins delete ≡ rebuild, the same contract the purge
    module meets for tables (`AutoPurge.sql:171-174`'s keep-the-anti-set
    DELETE, applied to a served index). Completes the index CRUD story:
    build (full), update (merge batch), delete (purge docs), compact
    (restore layout), serve (probe stored parquet)."""
    docs = load_table(spark, sf_dir, "documents")
    idx = scratch_dir("bm25_idx_")
    build_bm25_index(spark, docs, idx)
    delete_from_bm25_index(
        spark, docs.filter(F.col("doc_id") % 2 == 1).select("doc_id"), idx
    )
    return _bm25_serve_from(spark, idx)


def compact_bm25_index(spark: SparkSession, index_path: str) -> None:
    """Post-merge compaction: restore the build-time physical layout and
    the exactly-recomputed statistics that incremental merges chip away at.

    - ``doc_tf`` / ``dl`` rewrite range-sorted by doc_id
      (`maintenance.compact`), so every output file covers a disjoint
      doc_id range and the serving probe (``doc_id < N_QUERIES``) is
      file/row-group-pruned again;
    - ``df`` / ``stats`` are refreshed by a FULL exact re-aggregate of the
      compacted index — the compaction cadence is where the exact rebuild
      belongs; per-batch updates stay monoidal deltas;
    - any crashed-update pending marker is cleared (the exact refresh
      subsumes whatever delta the crash lost).

    All four refreshes use the same staged-write + atomic-swap as the
    update path; readers of a served index never see a partial table."""
    import os

    compact(spark, f"{index_path}/doc_tf", sort_by=["doc_id", "token"])
    compact(spark, f"{index_path}/dl", sort_by=["doc_id"])
    doc_tf = read_parquet(spark, f"{index_path}/doc_tf")
    _staged_overwrite(
        doc_tf.groupBy("token").agg(F.count("*").alias("df")),
        f"{index_path}/df",
        "._refresh-",
    )
    dl = read_parquet(spark, f"{index_path}/dl")
    _staged_overwrite(_bm25_stats(dl), f"{index_path}/stats", "._refresh-")
    pending = os.path.join(index_path, _BM25_PENDING)
    if os.path.exists(pending):
        os.remove(pending)


@register(
    "retrieval_bm25_incremental",
    # The incremental lifecycle must produce exactly the full-corpus
    # ranking, so the oracle IS the end-to-end BM25 oracle (same contract
    # as dedup_minhash_incremental).
    oracle=ORACLES["retrieval_bm25_topk"],
)
def retrieval_bm25_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 served from an INCREMENTALLY built doc-term index: build on the
    even-doc_id half, MERGE the odd half in (`update_bm25_index`), then
    answer from the stored index only. Hash-equality with the full-corpus
    oracle pins incremental ≡ full build through the driver — the
    build/update/query index lifecycle (MinHash: minhash_index.py; IVF×PQ:
    similarity_index.py) extended to the lexical ranker.
    """
    docs = load_table(spark, sf_dir, "documents")
    idx = scratch_dir("bm25_idx_")
    build_bm25_index(spark, docs.filter(F.col("doc_id") % 2 == 0), idx)
    update_bm25_index(spark, docs.filter(F.col("doc_id") % 2 == 1), idx)
    return _bm25_serve_from(spark, idx)


@register(
    "retrieval_bm25_compacted",
    # Compaction must be a pure physical-layout operation: serving the
    # compacted incrementally-built index must still produce exactly the
    # full-corpus ranking, so the oracle IS the end-to-end BM25 oracle.
    oracle=ORACLES["retrieval_bm25_topk"],
)
def retrieval_bm25_compacted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full index MAINTENANCE lifecycle: build on the even-doc_id half,
    merge the odd half in (`update_bm25_index` — monoidal df/stats deltas),
    then `compact_bm25_index` (restores the doc_id range-sorted doc_tf
    layout the merge rewrite loses, and exactly re-aggregates df/stats),
    then serve from the compacted index only. Hash-equality with the
    full-corpus oracle pins build+update+compact ≡ full build — compaction
    changed the bytes' layout, never the answer. The layout property itself
    (range-disjoint doc_id files → probe pruning) is test-pinned via
    parquet footer min/max stats."""
    docs = load_table(spark, sf_dir, "documents")
    idx = scratch_dir("bm25_idx_")
    build_bm25_index(spark, docs.filter(F.col("doc_id") % 2 == 0), idx)
    update_bm25_index(spark, docs.filter(F.col("doc_id") % 2 == 1), idx)
    compact_bm25_index(spark, idx)
    return _bm25_serve_from(spark, idx)
