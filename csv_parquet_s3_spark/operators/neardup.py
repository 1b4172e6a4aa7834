"""Near-duplicate detection beyond MinHash: embedding-cosine pairs and
blocked n-gram Jaccard — the remaining dedup modalities of a training-data
pipeline.

Both are *blocked* pair generators: candidate pairs come only from within a
blocking key (coarse cluster label / (lang, length-bucket)), so pair volume
is Σ block² instead of n² — the standard scale pattern. Blocks shuffle on
their key; AQE skew-join covers a hot block.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from csv_parquet_s3_spark.operators.dedup import (
    _ORACLE_BANDS as _BAND_CTES,
    _ORACLE_PAIR_CTES as _PAIR_CTES,
    _ORACLE_SHINGLES as _SHINGLE_CTES,
)
from csv_parquet_s3_spark.operators.registry import register
from csv_parquet_s3_spark.sources.tables import load_table
from csv_parquet_s3_spark.plans.materialize import materialize

COSINE_DUP_THRESHOLD = 0.35
JACCARD_THRESHOLD = 0.4
MAX_VEC_ID = 1000  # bound the oracle's pair volume at sf0.01
LEN_BUCKET = 100


# ---------------------------------------------------------------------------
# Embedding-cosine near-duplicate pairs (label-blocked).
# ---------------------------------------------------------------------------
_DOT = (
    "list_sum(list_transform(range(1, len({a}) + 1),"
    " i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
)
_NORM = (
    "sqrt(list_sum(list_transform(range(1, len({v}) + 1),"
    " i -> CAST({v}[i] AS DOUBLE) * CAST({v}[i] AS DOUBLE))))"
)


@register(
    "dedup_embedding_cosine_pairs",
    oracle=f"""
    WITH e AS (
        SELECT vec_id, label, embedding, {_NORM.format(v='embedding')} AS nrm
        FROM embeddings WHERE vec_id < {MAX_VEC_ID}
    )
    SELECT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b, a.label,
           CAST(ROUND({_DOT.format(a='a.embedding', b='b.embedding')}
                / (a.nrm * b.nrm), 6) AS DOUBLE) AS cos_sim
    FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE {_DOT.format(a='a.embedding', b='b.embedding')} / (a.nrm * b.nrm)
          >= {COSINE_DUP_THRESHOLD}
    """,
)
def dedup_embedding_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic near-dup pairs: cosine ≥ threshold within a coarse cluster.

    The label column stands in for an ANN partitioner (IVF cell / LSH
    bucket); pairs are only scored inside a block.
    """
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < MAX_VEC_ID)
    vd = F.expr("transform(embedding, x -> CAST(x AS DOUBLE))")
    norm = F.sqrt(
        F.aggregate(
            F.expr("transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))"),
            F.lit(0.0),
            lambda a, x: a + x,
        )
    )
    e = emb.select("vec_id", "label", vd.alias("vd"), norm.alias("nrm"))
    a = e.select(
        F.col("vec_id").alias("vec_id_a"), "label",
        F.col("vd").alias("vd_a"), F.col("nrm").alias("nrm_a"),
    )
    b = e.select(
        F.col("vec_id").alias("vec_id_b"), F.col("label").alias("label_b"),
        F.col("vd").alias("vd_b"), F.col("nrm").alias("nrm_b"),
    )
    dot = F.aggregate(
        F.zip_with(F.col("vd_a"), F.col("vd_b"), lambda x, y: x * y),
        F.lit(0.0),
        lambda s, x: s + x,
    )
    cos = dot / (F.col("nrm_a") * F.col("nrm_b"))
    return (
        a.join(b, (F.col("label") == F.col("label_b")) & (F.col("vec_id_a") < F.col("vec_id_b")))
        .filter(cos >= COSINE_DUP_THRESHOLD)
        .select(
            "vec_id_a",
            "vec_id_b",
            "label",
            F.round(cos, 6).cast("double").alias("cos_sim"),
        )
    )


# ---------------------------------------------------------------------------
# Blocked n-gram Jaccard pairs via shingle inverted index.
# ---------------------------------------------------------------------------
@register(
    "dedup_ngram_jaccard_blocked",
    oracle=f"""
    WITH docs AS (
        SELECT doc_id, lang, CAST(n_chars // {LEN_BUCKET} AS BIGINT) AS lb,
               string_split(text, ' ') AS toks
        FROM documents WHERE len(string_split(text, ' ')) >= 3
    ),
    shingles AS (
        SELECT DISTINCT doc_id, lang, lb, s AS shingle
        FROM docs, UNNEST(list_transform(range(1, len(toks) - 1),
                 i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS t(s)
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b, COUNT(*) AS n_common
        FROM shingles a
        JOIN shingles b ON a.shingle = b.shingle AND a.lang = b.lang
                        AND a.lb = b.lb AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT i.doc_id_a, i.doc_id_b,
           CAST(ROUND(CAST(i.n_common AS DOUBLE)
                      / (za.n + zb.n - i.n_common), 6) AS DOUBLE) AS jaccard
    FROM inter i
    JOIN sizes za ON za.doc_id = i.doc_id_a
    JOIN sizes zb ON zb.doc_id = i.doc_id_b
    WHERE CAST(i.n_common AS DOUBLE) / (za.n + zb.n - i.n_common) >= {JACCARD_THRESHOLD}
    """,
)
def dedup_ngram_jaccard_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram Jaccard near-dups via inverted-index join, blocked by
    (lang, length-bucket): only docs sharing a shingle inside a block ever
    meet, so cost tracks shared-content density, not n²."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        "lang",
        F.expr(f"CAST(n_chars DIV {LEN_BUCKET} AS BIGINT)").alias("lb"),
        F.split("text", " ").alias("toks"),
    ).filter(F.size("toks") >= 3)
    shingles = toks.select(
        "doc_id",
        "lang",
        "lb",
        F.explode(
            F.expr(
                "array_distinct(transform(sequence(0, size(toks)-3),"
                " i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])))"
            )
        ).alias("shingle"),
    )
    sizes = shingles.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = shingles.select(
        F.col("doc_id").alias("doc_id_a"), "lang", "lb", "shingle"
    )
    b = shingles.select(
        F.col("doc_id").alias("doc_id_b"),
        F.col("lang").alias("lang_b"),
        F.col("lb").alias("lb_b"),
        F.col("shingle").alias("shingle_b"),
    )
    inter = (
        a.join(
            b,
            (F.col("shingle") == F.col("shingle_b"))
            & (F.col("lang") == F.col("lang_b"))
            & (F.col("lb") == F.col("lb_b"))
            & (F.col("doc_id_a") < F.col("doc_id_b")),
        )
        .groupBy("doc_id_a", "doc_id_b")
        .agg(F.count("*").alias("n_common"))
    )
    za = sizes.select(F.col("doc_id").alias("doc_id_a"), F.col("n").alias("n_a"))
    zb = sizes.select(F.col("doc_id").alias("doc_id_b"), F.col("n").alias("n_b"))
    jacc = F.col("n_common").cast("double") / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
    return (
        inter.join(za, "doc_id_a")
        .join(zb, "doc_id_b")
        .filter(jacc >= JACCARD_THRESHOLD)
        .select("doc_id_a", "doc_id_b", F.round(jacc, 6).cast("double").alias("jaccard"))
    )


# ---------------------------------------------------------------------------
# Embedding near-dup pairs blocked by REAL IVF cells (multi-probe).
# ---------------------------------------------------------------------------
N_SEED_CELLS = 8     # seed centroids = vec_id 5..12 (as the IVF operators)
CELL_ASSIGN = 2      # multi-probe: each vector joins its top-2 cells
_SEED_LO, _SEED_HI = 5, 13


# CTE block shared by every oracle that needs IVF-blocked embedding pairs:
# defines `ivf_pairs(vec_id_a, vec_id_b, cos_sim)`. Kept as one fragment so
# the registered blocked-pairs query and the modality-agreement oracle replay
# the IDENTICAL candidate generation.
_IVF_EPAIR_CTES = f"""
    ivf_e AS (
        SELECT vec_id, embedding, {_NORM.format(v='embedding')} AS nrm
        FROM embeddings WHERE vec_id < {MAX_VEC_ID}
    ),
    ivf_cent AS (
        SELECT vec_id - {_SEED_LO} AS list_id, embedding AS cv,
               {_NORM.format(v='embedding')} AS cnorm
        FROM embeddings WHERE vec_id >= {_SEED_LO} AND vec_id < {_SEED_HI}
    ),
    ivf_assign AS (
        SELECT vec_id, list_id FROM (
            SELECT e.vec_id, c.list_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY CAST(ROUND({_DOT.format(a='e.embedding', b='c.cv')}
                                / (e.nrm * c.cnorm), 6) AS DOUBLE) DESC, c.list_id
                   ) AS rn
            FROM ivf_e e, ivf_cent c
        ) z WHERE rn <= {CELL_ASSIGN}
    ),
    ivf_candidates AS (
        SELECT DISTINCT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b
        FROM ivf_assign a JOIN ivf_assign b
          ON a.list_id = b.list_id AND a.vec_id < b.vec_id
    ),
    ivf_pairs AS (
        SELECT c.vec_id_a, c.vec_id_b,
               CAST(ROUND({_DOT.format(a='ea.embedding', b='eb.embedding')}
                    / (ea.nrm * eb.nrm), 6) AS DOUBLE) AS cos_sim
        FROM ivf_candidates c
        JOIN ivf_e ea ON ea.vec_id = c.vec_id_a
        JOIN ivf_e eb ON eb.vec_id = c.vec_id_b
        WHERE {_DOT.format(a='ea.embedding', b='eb.embedding')} / (ea.nrm * eb.nrm)
              >= {COSINE_DUP_THRESHOLD}
    )
"""


def ivf_blocked_pairs(emb: DataFrame) -> DataFrame:
    """IVF-cell-blocked embedding near-dup pairs over an embeddings frame
    (columns vec_id, embedding): multi-probe top-{CELL_ASSIGN} coarse-cell
    assignment → candidate pairs from shared cells only → exact cosine
    verify. Pair volume is Σ cell² · probe², never n². Reused by the
    registered blocked-pairs query AND the modality-agreement summary."""
    vd = F.expr("transform(embedding, x -> CAST(x AS DOUBLE))")
    norm = F.sqrt(
        F.aggregate(
            F.expr("transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))"),
            F.lit(0.0),
            lambda a, x: a + x,
        )
    )
    e = emb.select("vec_id", vd.alias("vd"), norm.alias("nrm"))
    cent = (
        emb.filter((F.col("vec_id") >= _SEED_LO) & (F.col("vec_id") < _SEED_HI))
        .select(
            (F.col("vec_id") - _SEED_LO).alias("list_id"),
            vd.alias("cv"),
            norm.alias("cnorm"),
        )
    )
    from pyspark.sql import Window as W

    csim = F.round(
        F.aggregate(
            F.zip_with(F.col("vd"), F.col("cv"), lambda x, y: x * y),
            F.lit(0.0),
            lambda s, x: s + x,
        )
        / (F.col("nrm") * F.col("cnorm")),
        6,
    ).cast("double")
    w = W.partitionBy("vec_id").orderBy(F.desc("csim"), F.asc("list_id"))
    # localCheckpoint: both legs of the shared-cell self-join reference the
    # assignment, and un-checkpointed each leg replays the centroid
    # cross-join + per-vector window. The frame is probe×n rows of two ints
    # — cheap to pin, and at 100 TB the assignment is an index artifact
    # anyway (similarity_index stores it; this inline variant mirrors that).
    assign = (
        e.crossJoin(F.broadcast(cent))
        .withColumn("csim", csim)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= CELL_ASSIGN)
        .select("vec_id", "list_id")
        .transform(materialize)
    )
    a = assign.select(F.col("vec_id").alias("vec_id_a"), "list_id")
    b = assign.select(F.col("vec_id").alias("vec_id_b"), F.col("list_id").alias("list_b"))
    candidates = (
        a.join(b, (F.col("list_id") == F.col("list_b")) & (F.col("vec_id_a") < F.col("vec_id_b")))
        .select("vec_id_a", "vec_id_b")
        .distinct()
    )
    ea = e.select(
        F.col("vec_id").alias("vec_id_a"), F.col("vd").alias("vd_a"), F.col("nrm").alias("nrm_a")
    )
    eb = e.select(
        F.col("vec_id").alias("vec_id_b"), F.col("vd").alias("vd_b"), F.col("nrm").alias("nrm_b")
    )
    cos = (
        F.aggregate(
            F.zip_with(F.col("vd_a"), F.col("vd_b"), lambda x, y: x * y),
            F.lit(0.0),
            lambda s, x: s + x,
        )
        / (F.col("nrm_a") * F.col("nrm_b"))
    )
    return (
        candidates.join(ea, "vec_id_a")
        .join(eb, "vec_id_b")
        .filter(cos >= COSINE_DUP_THRESHOLD)
        .select(
            "vec_id_a", "vec_id_b", F.round(cos, 6).cast("double").alias("cos_sim")
        )
    )


@register(
    "dedup_embedding_ivf_blocked",
    oracle=f"""
    WITH {_IVF_EPAIR_CTES}
    SELECT vec_id_a, vec_id_b, cos_sim FROM ivf_pairs
    """,
)
def dedup_embedding_ivf_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic near-dup pairs blocked by an actual IVF partitioner instead
    of the label stand-in: each vector joins its top-{CELL_ASSIGN} coarse
    cells (multi-probe assignment recovers pairs straddling a cell
    boundary), candidate pairs come only from shared cells, then exact
    cosine verifies. Pair volume is Σ cell² · probe², never n² — and the
    blocking needs no pre-existing cluster column at 100 TB.
    """
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < MAX_VEC_ID)
    return ivf_blocked_pairs(emb)


# ---------------------------------------------------------------------------
# Cross-modality agreement: do text near-dups and embedding near-dups find
# the same pairs? The pipeline-quality dashboard number for dedup tuning.
# ---------------------------------------------------------------------------
@register(
    "dedup_modality_agreement",
    oracle=f"""
    WITH {_SHINGLE_CTES},
    {_BAND_CTES},
    {_PAIR_CTES},
    {_IVF_EPAIR_CTES},
    epairs AS (
        SELECT vec_id_a AS id_a, vec_id_b AS id_b FROM ivf_pairs
    ),
    tpairs AS (SELECT doc_id_a AS id_a, doc_id_b AS id_b FROM lsh_pairs),
    merged AS (
        SELECT COALESCE(t.id_a, ep.id_a) AS id_a,
               t.id_a IS NOT NULL AS in_text,
               ep.id_a IS NOT NULL AS in_embed
        FROM tpairs t FULL OUTER JOIN epairs ep
          ON t.id_a = ep.id_a AND t.id_b = ep.id_b
    )
    SELECT CAST(SUM(CASE WHEN in_text THEN 1 ELSE 0 END) AS BIGINT) AS n_text_pairs,
           CAST(SUM(CASE WHEN in_embed THEN 1 ELSE 0 END) AS BIGINT) AS n_embed_pairs,
           CAST(SUM(CASE WHEN in_text AND in_embed THEN 1 ELSE 0 END) AS BIGINT)
             AS n_both,
           CAST(COUNT(*) AS BIGINT) AS n_union
    FROM merged
    """,
)
def dedup_modality_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row agreement summary between the MinHash-LSH text pairs and the
    IVF-blocked embedding-cosine pairs over the same id space (documents ↔
    embeddings are 1:1 here): how many pairs each modality finds and how
    many both do. This is the number a pipeline owner watches when tuning
    thresholds — high text-only counts mean boilerplate, high embed-only
    counts mean paraphrase dups the shingles miss.

    BOTH pair generators are the blocked/banded formulations — the text
    side the LSH band join, the embedding side the multi-probe IVF-cell
    candidate generator (`ivf_blocked_pairs`, shared with
    `dedup_embedding_ivf_blocked` and mirrored CTE-for-CTE in the oracle).
    Nothing in this operator is n² on the corpus: there is no all-pairs
    `id_a < id_b` theta join (a BroadcastNestedLoopJoin),
    so the agreement numbers are computed over exactly the candidate sets a
    100 TB pipeline would actually score.
    """
    from csv_parquet_s3_spark.operators.dedup import (
        _shingles,
        signature_table,
        verified_pairs_from_signatures,
    )

    # localCheckpoint before the pair generator — it references the
    # signature table three times (band join legs + Jaccard verify), and
    # un-checkpointed each reference replays the shingle pipeline (the
    # same discipline dedup_minhash_lsh_pairs applies; a plan audit
    # measured 10 scans here without it).
    shingle_sets = signature_table(_shingles(spark, sf_dir)).transform(materialize)
    tpairs = (
        verified_pairs_from_signatures(shingle_sets)
        .select(F.col("doc_id_a").alias("id_a"), F.col("doc_id_b").alias("id_b"))
        .withColumn("in_text", F.lit(True))
    )
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < MAX_VEC_ID)
    epairs = (
        ivf_blocked_pairs(emb)
        .select(F.col("vec_id_a").alias("id_a"), F.col("vec_id_b").alias("id_b"))
        .withColumn("in_embed", F.lit(True))
    )
    merged = tpairs.join(epairs, ["id_a", "id_b"], "full_outer").select(
        F.coalesce("in_text", F.lit(False)).alias("in_text"),
        F.coalesce("in_embed", F.lit(False)).alias("in_embed"),
    )
    one = F.when
    return merged.agg(
        F.sum(one(F.col("in_text"), 1).otherwise(0)).cast("bigint").alias("n_text_pairs"),
        F.sum(one(F.col("in_embed"), 1).otherwise(0)).cast("bigint").alias("n_embed_pairs"),
        F.sum(one(F.col("in_text") & F.col("in_embed"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_both"),
        F.count("*").cast("bigint").alias("n_union"),
    )
