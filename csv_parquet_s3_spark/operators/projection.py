"""Deterministic random projection (Johnson–Lindenstrauss) over the
embedding corpus: 64-d float vectors → 16-d sketches via a Rademacher (±1)
projection matrix derived from md5 — no RNG, no stored matrix artifact.

The projection matrix entry sign(i, j) is a pure function of the string
``p{i}_{j}``, so every engine (and every re-run, shard, or append) derives
the SAME matrix; the projected sketch is hash-checkable and stable. Distance
preservation (the JL property) is pinned statistically in
``tests/test_projection.py``.

Scale shape: the matrix is (in_dim × out_dim) rows — constant-size →
broadcast. The corpus side explodes each vector once and aggregates by
(vec_id, out_dim) with exact DECIMAL accumulation (order-independent sums).
At 100 TB this is one narrow shuffle keyed by vec_id; the usual deployment
projects once and feeds the 4× smaller sketches to the ANN index
(`similarity_index`) for cheaper coarse search.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from csv_parquet_s3_spark.operators.registry import register
from csv_parquet_s3_spark.sources.tables import load_table
from csv_parquet_s3_spark.plans.materialize import materialize

PROJ_IN = 64   # embedding dim of the corpus
PROJ_OUT = 16  # sketch dim; scale factor 1/sqrt(PROJ_OUT)

# ±1 from the parity of the md5's last hex char — identical text modulo each
# engine's md5 argument type (Spark wants BINARY, DuckDB VARCHAR).
_SIGN_SPARK = (
    "CASE WHEN ascii(substring(md5(cast(concat('p', cast(i as string), '_',"
    " cast(j as string)) as binary)), 32, 1)) % 2 = 0 THEN 1 ELSE -1 END"
)
_SIGN_DUCK = (
    "CASE WHEN ascii(substr(md5('p' || i || '_' || j), 32, 1)) % 2 = 0"
    " THEN 1 ELSE -1 END"
)


def projection_matrix(spark: SparkSession) -> DataFrame:
    """(i, j, sign): the deterministic Rademacher matrix, 1-based input dim
    i, 0-based output dim j. Constant-size (PROJ_IN·PROJ_OUT rows)."""
    return (
        spark.range(1)
        .select(F.explode(F.expr(f"sequence(1, {PROJ_IN})")).alias("i"))
        .select("i", F.explode(F.expr(f"sequence(0, {PROJ_OUT - 1})")).alias("j"))
        .withColumn("sign", F.expr(_SIGN_SPARK))
    )


def project(emb: DataFrame, matrix: DataFrame) -> DataFrame:
    """(vec_id, dim, value): the projected sketch in long form. Components
    are summed as DECIMAL(20,9) of 9-digit-rounded terms — exact and
    order-independent, so the oracle reproduces every value bit-for-bit."""
    x = emb.select(
        "vec_id",
        F.posexplode(F.expr("transform(embedding, v -> CAST(v AS DOUBLE))")).alias(
            "pos", "xv"
        ),
    ).select(
        "vec_id",
        (F.col("pos") + 1).alias("i"),
        F.round("xv", 9).cast("decimal(20,9)").alias("xv"),
    )
    return (
        x.join(F.broadcast(matrix), "i")
        .groupBy("vec_id", "j")
        .agg(F.sum(F.col("xv") * F.col("sign")).alias("s"))
        .select(
            "vec_id",
            F.col("j").cast("int").alias("dim"),
            F.round(F.col("s").cast("double") / (PROJ_OUT ** 0.5), 6)
            .cast("double")
            .alias("value"),
        )
    )


@register(
    "emb_random_projection",
    oracle=f"""
    WITH r AS (
        SELECT i.i, j.j, {_SIGN_DUCK} AS sign
        FROM UNNEST(range(1, {PROJ_IN + 1})) AS i(i),
             UNNEST(range(0, {PROJ_OUT})) AS j(j)
    ),
    x AS (
        SELECT vec_id, CAST(u.i AS BIGINT) AS i,
               CAST(ROUND(CAST(embedding[u.i] AS DOUBLE), 9)
                    AS DECIMAL(20, 9)) AS xv
        FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS u(i)
    )
    SELECT x.vec_id, CAST(r.j AS INT) AS dim,
           CAST(ROUND(CAST(SUM(x.xv * r.sign) AS DOUBLE)
                / sqrt({PROJ_OUT}), 6) AS DOUBLE) AS value
    FROM x JOIN r ON r.i = x.i
    GROUP BY x.vec_id, r.j
    """,
)
def emb_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return project(emb, projection_matrix(spark))


# ---------------------------------------------------------------------------
# Dominant principal component by POWER ITERATION — matrix-free distributed
# PCA: v ← Σᵢ xᵢ'(xᵢ'ᵀv) / ‖·‖ touches each (row, dim) cell twice per
# iteration and never materializes the d×d covariance (embedding whitening /
# drift QA at corpora where even dᵀd is cheap but Σ xxᵀ per partition is
# not). Every cross-row sum accumulates 12-digit-rounded terms in DECIMAL —
# exact and order-independent — so three unrolled iterations replay
# bit-identically in the SQL oracle (same discipline as the Lloyd/SQ8
# oracles; float groupBy sums would diverge in the last ulp per engine).
# ---------------------------------------------------------------------------
PCA_ITERS = 3
_V0 = 0.125  # 1/sqrt(64): deterministic start vector

# Shared aggregate fragments (identical text on both engines).
_DSUM = "CAST(SUM(CAST(ROUND({term}, 12) AS DECIMAL(30,12))) AS DOUBLE)"


def _pca_oracle(iters: int = PCA_ITERS) -> str:
    parts = [f"""
    x AS (
        SELECT vec_id, CAST(t.i AS INT) AS dim,
               CAST(embedding[t.i] AS DOUBLE) AS xd
        FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS t(i)
    ),
    nv AS (SELECT COUNT(DISTINCT vec_id) AS n FROM x),
    mu AS (
        SELECT dim, ROUND({_DSUM.format(term='xd')} / nv.n, 9) AS m
        FROM x CROSS JOIN nv GROUP BY dim, nv.n
    ),
    xc AS (
        SELECT x.vec_id, x.dim, ROUND(x.xd - mu.m, 9) AS xc
        FROM x JOIN mu ON mu.dim = x.dim
    ),
    v0 AS (SELECT dim, {_V0} AS v FROM mu)"""]
    for t in range(1, iters + 1):
        p = t - 1
        parts.append(f"""
    s{t} AS (
        SELECT xc.vec_id,
               ROUND({_DSUM.format(term='xc.xc * v{p}.v'.format(p=p))}, 9) AS s
        FROM xc JOIN v{p} ON v{p}.dim = xc.dim
        GROUP BY xc.vec_id
    ),
    u{t} AS (
        SELECT xc.dim, ROUND({_DSUM.format(term='xc.xc * s{t}.s'.format(t=t))}, 9) AS u
        FROM xc JOIN s{t} ON s{t}.vec_id = xc.vec_id
        GROUP BY xc.dim
    ),
    nrm{t} AS (
        SELECT ROUND(SQRT({_DSUM.format(term='u * u')}), 9) AS nrm FROM u{t}
    ),
    v{t} AS (
        SELECT dim, ROUND(u / nrm, 9) AS v FROM u{t} CROSS JOIN nrm{t}
    )""")
    parts.append(f"""
    lam AS (
        SELECT ROUND({_DSUM.format(term='s * s')} / nv.n, 6) AS lambda1
        FROM s{iters} CROSS JOIN nv GROUP BY nv.n
    )
    SELECT v{iters}.dim, ROUND(v{iters}.v, 6) AS loading, lam.lambda1
    FROM v{iters} CROSS JOIN lam""")
    return "WITH" + ",".join(parts)


@register("emb_top_principal_component", oracle=_pca_oracle())
def emb_top_principal_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top PC of the centered embedding corpus (3 power iterations from the
    fixed 1/√d start): 64 loadings + the Rayleigh-quotient eigenvalue.
    Per iteration: one join of the cell table against the 64-row v
    (broadcast), one groupBy vec_id, one groupBy dim — all shuffles keyed
    and DECIMAL-exact. At 100 TB the cell table is the only big frame and
    it streams; v, u, μ are dimension-sized. Convergence tracks the
    spectral gap (λ₂/λ₁)ᵗ — on this near-isotropic test corpus the
    3-iteration vector is a hash-pinned intermediate, and the alignment
    property is pinned on a planted anisotropic fixture in
    tests/test_projection.py."""
    return power_iteration_pc(load_table(spark, sf_dir, "embeddings"))


def _centered_cells(emb: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(xc, nv): the localCheckpointed centered cell table (vec_id, dim, xc)
    and the 1-row corpus count. Checkpointing xc ONCE here is what every
    consumer (the power iterations, the ABTT removal projection) reuses —
    without it each downstream reference replays the explode+center lineage
    from the parquet scan."""
    x = emb.select(
        "vec_id",
        F.posexplode(F.expr("transform(embedding, v -> CAST(v AS DOUBLE))")).alias(
            "pos", "xd"
        ),
    ).select("vec_id", (F.col("pos") + 1).cast("int").alias("dim"), "xd")
    nv = x.agg(F.countDistinct("vec_id").alias("n"))
    mu = (
        x.crossJoin(F.broadcast(nv))
        .groupBy("dim", "n")
        .agg(F.expr(f"ROUND({_DSUM.format(term='xd')} / n, 9)").alias("m"))
        .select("dim", "m")
    )
    xc = (
        x.join(F.broadcast(mu), "dim")
        .select("vec_id", "dim", F.expr("ROUND(xd - m, 9)").alias("xc"))
        .transform(materialize)
    )
    return xc, nv


def _pca_power(xc: DataFrame, iters: int) -> tuple[DataFrame, DataFrame]:
    """(v, s): unit top-eigenvector estimate (dim, v) and the final per-vector
    scores (vec_id, s) after ``iters`` power iterations over the checkpointed
    cell table.

    Every per-iteration intermediate is localCheckpointed so the lazy plan
    never compounds: without this, computing v_t replays v_{t-1} which
    replays v_{t-2} — quadratic lineage growth that PLAN_AUDIT measured as
    222 exchanges / 56 parquet scans for 3 iterations. The
    checkpoints are tiny (v, u are dim-sized = 64 rows; s is one row per
    vector — the standard power-iteration intermediate, 1/dim of the cell
    table), so each iteration is exactly two passes over the checkpointed
    cells: xc⋈v → s, xc⋈s → u. Same house discipline as the label-
    propagation loop in components.py:51-73."""
    v = (
        xc.select("dim")
        .distinct()
        .select("dim", F.lit(_V0).alias("v"))
        .transform(materialize)
    )
    s = None
    for _ in range(iters):
        s = (
            xc.join(F.broadcast(v), "dim")
            .groupBy("vec_id")
            .agg(F.expr(f"ROUND({_DSUM.format(term='xc * v')}, 9)").alias("s"))
            .transform(materialize)
        )
        u = (
            xc.join(s, "vec_id")
            .groupBy("dim")
            .agg(F.expr(f"ROUND({_DSUM.format(term='xc * s')}, 9)").alias("u"))
            .transform(materialize)
        )
        nrm = u.agg(F.expr(f"ROUND(SQRT({_DSUM.format(term='u * u')}), 9)").alias("nrm"))
        v = (
            u.crossJoin(F.broadcast(nrm))
            .select("dim", F.expr("ROUND(u / nrm, 9)").alias("v"))
            .transform(materialize)
        )
    return v, s


def power_iteration_pc(emb: DataFrame, iters: int = PCA_ITERS) -> DataFrame:
    """(dim, loading, lambda1) for any (vec_id, embedding) frame."""
    xc, nv = _centered_cells(emb)
    v, s = _pca_power(xc, iters)
    lam = (
        s.crossJoin(F.broadcast(nv))
        .groupBy("n")
        .agg(F.expr(f"ROUND({_DSUM.format(term='s * s')} / n, 6)").alias("lambda1"))
        .select("lambda1")
    )
    return v.crossJoin(F.broadcast(lam)).select(
        "dim", F.expr("ROUND(v, 6)").alias("loading"), "lambda1"
    )


# ---------------------------------------------------------------------------
# Sign-random-projection (SRP) binary embedding — Charikar'02 LSH for cosine:
# bit_j(x) = [r_j · x > 0] with the same deterministic Rademacher machinery as
# the JL projection above (prefix 'b' so the two matrices are independent).
# 64 bits pack into two 32-bit words; search is Hamming ranking via
# bit_count(xor), the cheapest ANN primitive there is. Completes the
# compression family: PQ (codebook), SQ8 (scalar), SRP (binary).
# ---------------------------------------------------------------------------
SRP_BITS = 64
_SRP_SIGN_SPARK = _SIGN_SPARK.replace("'p'", "'b'")
_SRP_SIGN_DUCK = _SIGN_DUCK.replace("'p'", "'b'")
_SRP_NQ = 5   # vec_id < 5 are the query vectors (matches similarity.py)
_SRP_K = 10


def srp_codes(emb: DataFrame, spark: SparkSession) -> DataFrame:
    """(vec_id, code_hi, code_lo): 64-bit SRP signature packed as two
    unsigned-32 words in BIGINT. The per-bit dot products accumulate
    9-digit-rounded DECIMAL terms (order-independent ⇒ hash-replayable);
    sign(0) maps to bit 0 on both engines because the sum is exact."""
    matrix = (
        spark.range(1)
        .select(F.explode(F.expr(f"sequence(1, {PROJ_IN})")).alias("i"))
        .select("i", F.explode(F.expr(f"sequence(0, {SRP_BITS - 1})")).alias("j"))
        .withColumn("sign", F.expr(_SRP_SIGN_SPARK))
    )
    x = emb.select(
        "vec_id",
        F.posexplode(F.expr("transform(embedding, v -> CAST(v AS DOUBLE))")).alias(
            "pos", "xv"
        ),
    ).select(
        "vec_id",
        (F.col("pos") + 1).alias("i"),
        F.round("xv", 9).cast("decimal(20,9)").alias("xv"),
    )
    bits = (
        x.join(F.broadcast(matrix), "i")
        .groupBy("vec_id", "j")
        .agg(F.sum(F.col("xv") * F.col("sign")).alias("s"))
        .select(
            "vec_id",
            "j",
            F.when(F.col("s") > 0, F.lit(1)).otherwise(F.lit(0)).alias("bit"),
        )
    )
    return bits.groupBy("vec_id").agg(
        F.sum(F.expr("CASE WHEN j >= 32 THEN bit * shiftleft(1L, j - 32) ELSE 0L END"))
        .cast("bigint")
        .alias("code_hi"),
        F.sum(F.expr("CASE WHEN j < 32 THEN bit * shiftleft(1L, j) ELSE 0L END"))
        .cast("bigint")
        .alias("code_lo"),
    )


_SRP_ORACLE = f"""
    WITH r AS (
        SELECT i.i, j.j, {_SRP_SIGN_DUCK} AS sign
        FROM UNNEST(range(1, {PROJ_IN + 1})) AS i(i),
             UNNEST(range(0, {SRP_BITS})) AS j(j)
    ),
    x AS (
        SELECT vec_id, CAST(u.i AS BIGINT) AS i,
               CAST(ROUND(CAST(embedding[u.i] AS DOUBLE), 9)
                    AS DECIMAL(20, 9)) AS xv
        FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS u(i)
    ),
    bits AS (
        SELECT x.vec_id, r.j,
               CASE WHEN SUM(x.xv * r.sign) > 0 THEN 1 ELSE 0 END AS bit
        FROM x JOIN r ON r.i = x.i
        GROUP BY x.vec_id, r.j
    ),
    codes AS (
        SELECT vec_id,
               CAST(SUM(CASE WHEN j >= 32 THEN bit * (1 << (j - 32))
                             ELSE 0 END) AS BIGINT) AS code_hi,
               CAST(SUM(CASE WHEN j < 32 THEN bit * (1 << j)
                             ELSE 0 END) AS BIGINT) AS code_lo
        FROM bits GROUP BY vec_id
    ),
    q AS (SELECT vec_id AS query_id, code_hi AS q_hi, code_lo AS q_lo
          FROM codes WHERE vec_id < {_SRP_NQ}),
    scored AS (
        SELECT q.query_id, c.vec_id,
               CAST(bit_count(xor(q.q_hi, c.code_hi))
                    + bit_count(xor(q.q_lo, c.code_lo)) AS INT) AS hamming
        FROM codes c JOIN q ON c.vec_id <> q.query_id
    )
    SELECT query_id, vec_id, hamming, CAST(rn AS INT) AS rnk FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY hamming, vec_id) AS rn
        FROM scored
    ) t WHERE rn <= {_SRP_K}
"""


@register("sim_srp_hamming_topk", oracle=_SRP_ORACLE)
def sim_srp_hamming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via sign-random-projection LSH: deterministic 64-bit binary
    signatures (bit j = sign of the Rademacher projection r_j·x), searched
    by Hamming distance — Pr[bit differs] = θ/π, so Hamming rank
    approximates cosine rank at 1 bit/dim storage (64× smaller than float).

    Scale shape: signatures are one narrow pass over the corpus (same cell
    table as the JL projection, shuffle keyed by vec_id); search is a
    broadcast of |Q| 16-byte codes against the signature table with a
    2×bit_count(xor) comparator inside codegen — no floats touched at query
    time. Per-query partial top-k folds map-side before the final
    |Q|-partition window. The natural coarse stage ahead of the exact or
    SQ8 re-ranker (`sim_cosine_topk_ivf_pq_refine` pattern)."""
    from pyspark.sql import Window as W

    emb = load_table(spark, sf_dir, "embeddings")
    codes = srp_codes(emb, spark)
    q = (
        codes.filter(F.col("vec_id") < _SRP_NQ)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("code_hi").alias("q_hi"),
            F.col("code_lo").alias("q_lo"),
        )
    )
    scored = (
        codes.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            (
                F.bit_count(F.expr("q_hi ^ code_hi"))
                + F.bit_count(F.expr("q_lo ^ code_lo"))
            )
            .cast("int")
            .alias("hamming"),
        )
    )
    wq = W.partitionBy("query_id").orderBy("hamming", "vec_id")
    return (
        scored.withColumn("rnk", F.row_number().over(wq).cast("int"))
        .filter(F.col("rnk") <= _SRP_K)
        .select("query_id", "vec_id", "hamming", "rnk")
    )


def _abtt_oracle() -> str:
    """All-but-the-top oracle: the PCA chain (same CTEs) plus the removal
    projection x' = xc − (xc·v)v on the 6-digit-rounded final vector."""
    pca = _pca_oracle()
    head, _tail = pca.rsplit("    SELECT v", 1)
    t = PCA_ITERS
    return head + f""", v6 AS (
        SELECT dim, ROUND(v, 6) AS v FROM v{t}
    ),
    proj AS (
        SELECT xc.vec_id,
               ROUND({_DSUM.format(term='xc.xc * v6.v')}, 9) AS s
        FROM xc JOIN v6 ON v6.dim = xc.dim
        GROUP BY xc.vec_id
    )
    SELECT xc.vec_id, xc.dim,
           CAST(ROUND(xc.xc - proj.s * v6.v, 6) + 0 AS DOUBLE) AS value
    FROM xc
    JOIN proj ON proj.vec_id = xc.vec_id
    JOIN v6 ON v6.dim = xc.dim"""


@register("emb_remove_top_component", oracle=_abtt_oracle())
def emb_remove_top_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-but-the-top postprocessing (Mu & Viswanath '18): center the
    corpus and subtract each vector's projection onto the dominant PC —
    the cheap fix for the anisotropy that makes raw embedding cosines
    crowd together. Reuses the ONE localCheckpointed centered cell table
    for both the power iterations and the removal projection (a plan
    audit showed the un-checkpointed second copy replaying the whole PCA
    lineage per reference — 222 exchanges); the removal itself is one
    broadcast join against the 64-row vector plus a DECIMAL-exact
    per-vector dot. Output is the corrected corpus in long form, ready for
    the ANN index build."""
    emb = load_table(spark, sf_dir, "embeddings")
    xc, _nv = _centered_cells(emb)
    v, _s = _pca_power(xc, PCA_ITERS)
    v6 = v.select("dim", F.expr("ROUND(v, 6)").alias("v"))
    proj = (
        xc.join(F.broadcast(v6), "dim")
        .groupBy("vec_id")
        .agg(F.expr(f"ROUND({_DSUM.format(term='xc * v')}, 9)").alias("s"))
    )
    return (
        xc.join(proj, "vec_id")
        .join(F.broadcast(v6), "dim")
        .select(
            "vec_id",
            "dim",
            F.expr("CAST(ROUND(xc - s * v, 6) + 0 AS DOUBLE)").alias("value"),
        )
    )
