"""Deduplication operators over the ``documents`` / ``events`` tables.

Training-data-pipeline dedup, Spark-first:

- exact dedup: hash-groupBy (one shuffle on the content hash);
- keep-first dedup: window ``row_number() == 1`` (one shuffle on the key);
- MinHash + LSH near-dup candidate pairs: shingle → per-permutation min-hash
  → band buckets → bucket self-join → Jaccard verification. All hashing uses
  ``md5`` over strings with lexicographic MIN, so the DuckDB oracle can run
  the *identical* scheme (portable across engines, no engine-specific hash);
- SimHash signatures: per-bit majority vote over token hashes, again via the
  portable md5 trick.

Scale notes: every step is a groupBy/join on bounded keys — the LSH band
join only materializes pairs that share a bucket (the classic inverted-index
shape), never the O(n²) cross product. Shingle explosion is linear in corpus
token count. At 100 TB the band-bucket join is the only potentially skewed
step (a hot bucket = a pile of boilerplate dups); AQE skew-join handles it,
and ``NUM_PERMS``/``BAND_SIZE`` tune the candidate volume.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from csv_parquet_s3_spark.operators.registry import ORACLES, register
from csv_parquet_s3_spark.sources.tables import load_table
from csv_parquet_s3_spark.plans.materialize import materialize

NUM_PERMS = 12
BAND_SIZE = 3  # → 4 bands; LSH threshold ≈ (1/4)^(1/3) ≈ 0.63
JACCARD_THRESHOLD = 0.5
SIMHASH_BITS = 16


# ---------------------------------------------------------------------------
# Exact dedup by content hash.
# ---------------------------------------------------------------------------
@register(
    "dedup_exact_documents",
    oracle="""
    SELECT MIN(doc_id) AS doc_id, COUNT(*) AS n_copies
    FROM documents
    GROUP BY md5(text)
    """,
)
def dedup_exact_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: group by content hash, keep the smallest doc_id.

    Hashing first means the shuffle key is a fixed-width digest, not the full
    document text — at 100 TB that is the difference between shuffling ~32
    bytes/row and shuffling the corpus.
    """
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy(F.md5(F.col("text").cast("binary")).alias("_h"))
        .agg(F.min("doc_id").alias("doc_id"), F.count("*").alias("n_copies"))
        .select("doc_id", "n_copies")
    )


# ---------------------------------------------------------------------------
# Keep-first dedup via window row_number.
# ---------------------------------------------------------------------------
@register(
    "dedup_keep_first_events",
    oracle="""
    SELECT event_id, user_id, event_type, ts FROM (
        SELECT event_id, user_id, event_type, ts,
               ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                  ORDER BY ts, event_id) AS rn
        FROM events
    ) t WHERE rn = 1
    """,
)
def dedup_keep_first_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep the earliest event per (user_id, event_type) — window keep-first."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return (
        ev.select("event_id", "user_id", "event_type", "ts", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


# ---------------------------------------------------------------------------
# Shared shingle/minhash plumbing (word 3-gram shingles).
# ---------------------------------------------------------------------------
def _shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, shingle) with distinct word-3-gram shingles per document."""
    docs = load_table(spark, sf_dir, "documents")
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


# DuckDB mirror of _shingles (1-based list indexing; range(a,b) is [a,b)).
_ORACLE_SHINGLES = """
    shingled AS (
        SELECT doc_id, string_split(text, ' ') AS toks
        FROM documents WHERE len(string_split(text, ' ')) >= 3
    ),
    shingles AS MATERIALIZED (
        SELECT DISTINCT doc_id, s AS shingle
        FROM shingled, UNNEST(list_transform(range(1, len(toks) - 1),
                 i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS t(s)
    )
"""


def _minhash_bands(spark: SparkSession, sf_dir: str, shingles: DataFrame | None = None) -> DataFrame:
    """(doc_id, band, bucket): LSH band buckets from md5-string minhash.

    All ``NUM_PERMS`` min-hashes are computed in ONE aggregation pass (one
    MIN column per permutation) instead of exploding shingles × perms — same
    values as the per-permutation formulation the oracle uses, 12× less
    shuffled data.
    """
    sh = shingles if shingles is not None else _shingles(spark, sf_dir)
    sig_aggs = [
        F.expr(f"min(md5(cast(concat('{p}:', shingle) as binary)))").alias(f"mh{p}")
        for p in range(NUM_PERMS)
    ]
    sig = sh.groupBy("doc_id").agg(*sig_aggs)
    n_bands = NUM_PERMS // BAND_SIZE
    band_hashes = [
        f"md5(cast(concat_ws(',', {', '.join(f'mh{p}' for p in range(b * BAND_SIZE, (b + 1) * BAND_SIZE))}) as binary))"
        for b in range(n_bands)
    ]
    return sig.select(
        "doc_id",
        F.posexplode(F.expr(f"array({', '.join(band_hashes)})")).alias("band_i", "bucket"),
    ).select("doc_id", F.col("band_i").cast("bigint").alias("band"), "bucket")


_ORACLE_BANDS = f"""
    hashes AS (
        SELECT doc_id, p, MIN(md5(CAST(p AS VARCHAR) || ':' || shingle)) AS mh
        FROM shingles, UNNEST(range(0, {NUM_PERMS})) AS perms(p)
        GROUP BY doc_id, p
    ),
    bands AS MATERIALIZED (
        SELECT doc_id, CAST(p // {BAND_SIZE} AS BIGINT) AS band,
               md5(string_agg(mh, ',' ORDER BY p)) AS bucket
        FROM hashes GROUP BY doc_id, CAST(p // {BAND_SIZE} AS BIGINT)
    )
"""


def signature_table(sh: DataFrame) -> DataFrame:
    """ONE aggregation pass produces the whole per-document signature row:
    all NUM_PERMS min-hashes + the shingle set + its size. Doc-level (one
    row per document) — the table a production LSH pipeline materializes to
    storage (see :mod:`minhash_index` for the incremental variant)."""
    sig_aggs = [
        F.expr(f"min(md5(cast(concat('{p}:', shingle) as binary)))").alias(f"mh{p}")
        for p in range(NUM_PERMS)
    ]
    return sh.groupBy("doc_id").agg(
        F.collect_set("shingle").alias("sset"), F.count("*").alias("n"), *sig_aggs
    )


def bands_from_signatures(sigs: DataFrame) -> DataFrame:
    """(doc_id, band, bucket) LSH band keys from a signature table."""
    n_bands = NUM_PERMS // BAND_SIZE
    band_hashes = [
        f"md5(cast(concat_ws(',', {', '.join(f'mh{p}' for p in range(b * BAND_SIZE, (b + 1) * BAND_SIZE))}) as binary))"
        for b in range(n_bands)
    ]
    return sigs.select(
        "doc_id",
        F.posexplode(F.expr(f"array({', '.join(band_hashes)})")).alias("band_i", "bucket"),
    ).select("doc_id", F.col("band_i").cast("bigint").alias("band"), "bucket")


def verified_pairs_from_signatures(shingle_sets: DataFrame) -> DataFrame:
    """LSH candidates → array_intersect Jaccard verification, all from the
    signature table alone (no re-shingling)."""
    bands = bands_from_signatures(shingle_sets)
    a, b = bands.alias("a"), bands.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_id_a"), F.col("b.doc_id").alias("doc_id_b"))
        .distinct()
    )
    za = shingle_sets.select(
        F.col("doc_id").alias("doc_id_a"), F.col("sset").alias("sset_a"), F.col("n").alias("n_a")
    )
    zb = shingle_sets.select(
        F.col("doc_id").alias("doc_id_b"), F.col("sset").alias("sset_b"), F.col("n").alias("n_b")
    )
    n_common = F.size(F.array_intersect("sset_a", "sset_b"))
    jacc = n_common.cast("double") / (F.col("n_a") + F.col("n_b") - n_common)
    return (
        candidates.join(za, "doc_id_a")
        .join(zb, "doc_id_b")
        .filter(jacc >= JACCARD_THRESHOLD)
        .select(
            "doc_id_a",
            "doc_id_b",
            F.round(jacc, 6).cast("double").alias("jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# MinHash + LSH near-duplicate pairs, Jaccard-verified.
# ---------------------------------------------------------------------------
# The full pair pipeline as reusable CTEs (candidates → verify → lsh_pairs)
# so downstream oracles (connected components) can build on the same edges.
_ORACLE_PAIR_CTES = f"""
    candidates AS (
        SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id),
    inter AS (
        SELECT c.doc_id_a, c.doc_id_b, COUNT(*) AS n_common
        FROM candidates c
        JOIN shingles sa ON sa.doc_id = c.doc_id_a
        JOIN shingles sb ON sb.doc_id = c.doc_id_b AND sb.shingle = sa.shingle
        GROUP BY c.doc_id_a, c.doc_id_b
    ),
    lsh_pairs AS MATERIALIZED (
        SELECT i.doc_id_a, i.doc_id_b,
               CAST(ROUND(CAST(i.n_common AS DOUBLE)
                          / (za.n + zb.n - i.n_common), 6) AS DOUBLE) AS jaccard
        FROM inter i
        JOIN sizes za ON za.doc_id = i.doc_id_a
        JOIN sizes zb ON zb.doc_id = i.doc_id_b
        WHERE CAST(i.n_common AS DOUBLE) / (za.n + zb.n - i.n_common)
              >= {JACCARD_THRESHOLD}
    )
"""


@register(
    "dedup_minhash_lsh_pairs",
    oracle=f"""
    WITH {_ORACLE_SHINGLES},
    {_ORACLE_BANDS},
    {_ORACLE_PAIR_CTES}
    SELECT doc_id_a, doc_id_b, jaccard FROM lsh_pairs
    """,
)
def dedup_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs: MinHash signatures → LSH band buckets → Jaccard verify.

    Only documents sharing an LSH bucket are ever paired, so the join volume
    tracks the true near-dup density instead of n².

    Verification joins each candidate pair against a per-document *shingle
    set array* (``collect_set`` → ``array_intersect``) instead of re-joining
    the exploded (doc, shingle) table twice: two narrow joins on doc_id and
    zero extra shuffles of shingle rows. A document's shingle set is bounded
    by its length, so the array row stays small at any corpus scale.
    """
    # localCheckpoint, not persist(): the signature table feeds the band join
    # and both verification sides, so it must materialize once — but a bare
    # persist() with no reachable unpersist leaks cache in a long-lived
    # session (the returned frame is lazy, so there is no safe in-function
    # release point). localCheckpoint blocks are released by the
    # ContextCleaner when the frame is garbage collected.
    shingle_sets = signature_table(_shingles(spark, sf_dir)).transform(materialize)
    return verified_pairs_from_signatures(shingle_sets)


# ---------------------------------------------------------------------------
# SimHash signatures (portable bit derivation via md5 first hex digit).
# ---------------------------------------------------------------------------
@register(
    "dedup_simhash_signatures",
    oracle=f"""
    WITH toks AS (
        SELECT DISTINCT doc_id, t AS token
        FROM documents, UNNEST(string_split(text, ' ')) AS u(t)
    ),
    bits AS (
        SELECT doc_id, b,
               CASE WHEN SUM(CASE WHEN substr(md5(token || '|' || CAST(b AS VARCHAR)), 1, 1)
                                       IN ('8','9','a','b','c','d','e','f')
                                  THEN 1 ELSE -1 END) >= 0
                    THEN '1' ELSE '0' END AS bit
        FROM toks, UNNEST(range(0, {SIMHASH_BITS})) AS r(b)
        GROUP BY doc_id, b
    )
    SELECT doc_id, string_agg(bit, '' ORDER BY b) AS simhash
    FROM bits GROUP BY doc_id
    """,
)
def dedup_simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document SimHash bit signature (majority vote of token-hash bits).

    Near-dup grouping is then an equality (or small-Hamming-ball) grouping on
    the signature — a plain shuffle on a 16-char key at any scale.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("token")
    )
    bitsrc = toks.crossJoin(
        F.broadcast(spark.range(SIMHASH_BITS).select(F.col("id").alias("b")))
    )
    vote = F.when(
        F.substring(
            F.md5(
                F.concat_ws("|", F.col("token"), F.col("b").cast("string")).cast("binary")
            ),
            1,
            1,
        ).isin("8", "9", "a", "b", "c", "d", "e", "f"),
        F.lit(1),
    ).otherwise(F.lit(-1))
    bits = (
        bitsrc.groupBy("doc_id", "b")
        .agg(F.sum(vote).alias("s"))
        .select(
            "doc_id",
            "b",
            F.when(F.col("s") >= 0, F.lit("1")).otherwise(F.lit("0")).alias("bit"),
        )
    )
    return bits.groupBy("doc_id").agg(
        F.expr(
            "concat_ws('', transform(array_sort(collect_list(struct(b, bit))), s -> s.bit))"
        ).alias("simhash")
    )


# ---------------------------------------------------------------------------
# SimHash duplicate buckets: signature equality → dup groups.
# ---------------------------------------------------------------------------
_ORACLE_SIMHASH_SIGS = ORACLES["dedup_simhash_signatures"]


@register(
    "dedup_simhash_buckets",
    oracle=f"""
    SELECT simhash, COUNT(*) AS n_docs, MIN(doc_id) AS keeper_doc_id
    FROM ({_ORACLE_SIMHASH_SIGS}) sigs
    GROUP BY simhash
    HAVING COUNT(*) > 1
    """,
)
def dedup_simhash_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SimHash signatures become duplicate GROUPS by plain signature
    equality (a 16-char shuffle key at any scale); ``keeper_doc_id`` is the
    survivor a keep-first policy would retain. A small-Hamming-ball variant
    is the same query over banded signature substrings."""
    sigs = dedup_simhash_signatures(spark, sf_dir)
    return (
        sigs.groupBy("simhash")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("keeper_doc_id"))
        .filter(F.col("n_docs") > 1)
    )


# ---------------------------------------------------------------------------
# SimHash Hamming-ball pairs (Manku et al., WWW'07 banding).
# ---------------------------------------------------------------------------
HAMMING_MAX = 2
_H_BANDS = ((1, 6), (7, 5), (12, 5))  # 3 bands over 16 bits: pigeonhole for k≤2


@register(
    "dedup_simhash_hamming_pairs",
    oracle=f"""
    WITH sigs AS ({_ORACLE_SIMHASH_SIGS}),
    bands AS (
        {" UNION ALL ".join(
            f"SELECT doc_id, simhash, {bi} AS band, substr(simhash, {st}, {ln}) AS key FROM sigs"
            for bi, (st, ln) in enumerate(_H_BANDS)
        )}
    ),
    candidates AS (
        SELECT DISTINCT a.doc_id AS doc_id_a, a.simhash AS sig_a,
                        b.doc_id AS doc_id_b, b.simhash AS sig_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
    )
    SELECT doc_id_a, doc_id_b, hamming FROM (
        SELECT doc_id_a, doc_id_b,
               CAST(list_sum(list_transform(range(1, {SIMHASH_BITS} + 1),
                    i -> CASE WHEN substr(sig_a, i, 1) <> substr(sig_b, i, 1)
                              THEN 1 ELSE 0 END)) AS INT) AS hamming
        FROM candidates
    ) t WHERE hamming <= {HAMMING_MAX}
    """,
)
def dedup_simhash_hamming_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs within a Hamming ball of the SimHash signature: split
    the {SIMHASH_BITS}-bit signature into {len(_H_BANDS)} bands — any pair
    within Hamming ≤ {HAMMING_MAX} must agree on at least one full band
    (pigeonhole), so candidates come from band-key buckets, then the exact
    bit distance verifies. The banded shuffle keys are ≤ 6 chars; candidate
    volume tracks signature collisions, never n² — the standard web-scale
    SimHash dedup shape.
    """
    # One scan, no cache: explode each signature into its band keys instead
    # of unioning three scans (a persist() here leaked the cache).
    sigs = dedup_simhash_signatures(spark, sf_dir)
    band_structs = F.array(*[
        F.struct(
            F.lit(bi).alias("band"),
            F.substring("simhash", st, ln).alias("key"),
        )
        for bi, (st, ln) in enumerate(_H_BANDS)
    ])
    bands = (
        sigs.select("doc_id", "simhash", F.explode(band_structs).alias("bk"))
        .select("doc_id", "simhash", F.col("bk.band").alias("band"),
                F.col("bk.key").alias("key"))
    )
    a = bands.select(
        F.col("doc_id").alias("doc_id_a"), F.col("simhash").alias("sig_a"),
        "band", "key",
    )
    b = bands.select(
        F.col("doc_id").alias("doc_id_b"), F.col("simhash").alias("sig_b"),
        F.col("band").alias("band_b"), F.col("key").alias("key_b"),
    )
    candidates = (
        a.join(
            b,
            (F.col("band") == F.col("band_b"))
            & (F.col("key") == F.col("key_b"))
            & (F.col("doc_id_a") < F.col("doc_id_b")),
        )
        .select("doc_id_a", "sig_a", "doc_id_b", "sig_b")
        .distinct()
    )
    hamming = F.aggregate(
        F.zip_with(
            F.split(F.col("sig_a"), ""),
            F.split(F.col("sig_b"), ""),
            lambda x, y: F.when(x != y, 1).otherwise(0),
        ),
        F.lit(0),
        lambda s, x: s + x,
    ).cast("int")
    return (
        candidates.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= HAMMING_MAX)
        .select("doc_id_a", "doc_id_b", "hamming")
    )


# ---------------------------------------------------------------------------
# Exact duplicated-substring spans (Lee et al., "Deduplicating Training Data
# Makes Language Models Better"): a token position is "duplicated" when it is
# covered by any SPAN_N-token window whose exact text recurs in >= 2 distinct
# documents corpus-wide. Reference scope: the reference engine has no text
# pipeline at all (529 Java + 505 PL/SQL ETL lines, zero query code) — this
# is part of the driver-mandated training-data surface.
# ---------------------------------------------------------------------------
SPAN_N = 8  # tokens per exact-match window


@register(
    "dedup_exact_substring_spans",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    sh AS (
        SELECT doc_id, i,
               md5(array_to_string(toks[i:i+{SPAN_N - 1}], ' ')) AS digest
        FROM t, LATERAL (SELECT unnest(generate_series(1, len(toks) - {SPAN_N - 1})) AS i) g
        WHERE len(toks) >= {SPAN_N}
    ),
    dup AS (
        SELECT digest FROM sh GROUP BY digest HAVING COUNT(DISTINCT doc_id) >= 2
    ),
    cover AS (
        SELECT DISTINCT sh.doc_id, p.pos
        FROM sh JOIN dup USING (digest),
             LATERAL (SELECT unnest(generate_series(sh.i, sh.i + {SPAN_N - 1})) AS pos) p
    ),
    perdoc AS (
        SELECT t.doc_id, len(t.toks) AS n_tokens, COALESCE(c.n_dup, 0) AS n_dup
        FROM t LEFT JOIN (
            SELECT doc_id, COUNT(*) AS n_dup FROM cover GROUP BY doc_id
        ) c USING (doc_id)
    )
    SELECT doc_id, CAST(n_tokens AS INT) AS n_tokens,
           CAST(n_dup AS INT) AS n_dup_tokens,
           CAST(ROUND(CAST(n_dup AS DOUBLE) / n_tokens, 6) AS DOUBLE) AS dup_fraction
    FROM perdoc
    """,
)
def dedup_exact_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document fraction of tokens covered by an exact {SPAN_N}-token
    window that recurs in another document (the Lee-et-al. exact-substring
    dedup signal, windowed rather than suffix-array based).

    Scale shape: windows are md5-digested BEFORE the corpus-wide groupBy, so
    the shuffle key is a fixed 32-char digest, never window text; the digest
    groupBy + semi-join back is the inverted-index pattern, linear in corpus
    token count (x SPAN_N for coverage expansion, a constant). A suffix-array
    would find variable-length duplicates but needs a global sort; fixed
    windows at 100 TB shuffle bounded keys and parallelize embarrassingly.
    """
    return dup_span_fractions(load_table(spark, sf_dir, "documents"))


def dup_span_fractions(docs: DataFrame) -> DataFrame:
    """Core of :func:`dedup_exact_substring_spans` over any (doc_id, text)
    frame — separated so property tests can plant known duplicates."""
    t = docs.select("doc_id", F.split("text", " ").alias("toks"))
    sh = (
        t.filter(F.size("toks") >= SPAN_N)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(1, size(toks) - {SPAN_N - 1}),"
                    f" i -> struct(i AS i,"
                    f" md5(cast(concat_ws(' ', slice(toks, i, {SPAN_N})) as binary)) AS digest))"
                )
            ).alias("w"),
        )
        .select("doc_id", F.col("w.i").alias("i"), F.col("w.digest").alias("digest"))
    )
    dup = (
        sh.groupBy("digest")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("digest")
    )
    cover = (
        sh.join(dup, "digest")
        .select("doc_id", F.explode(F.expr(f"sequence(i, i + {SPAN_N - 1})")).alias("pos"))
        .distinct()
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_dup"))
    )
    perdoc = t.select("doc_id", F.size("toks").alias("n_tokens")).join(
        cover, "doc_id", "left"
    )
    n_dup = F.coalesce(F.col("n_dup"), F.lit(0))
    return perdoc.select(
        "doc_id",
        F.col("n_tokens").cast("int").alias("n_tokens"),
        n_dup.cast("int").alias("n_dup_tokens"),
        F.round(n_dup.cast("double") / F.col("n_tokens"), 6)
        .cast("double")
        .alias("dup_fraction"),
    )


# ---------------------------------------------------------------------------
# Deterministic Bloom-filter blocklist probe: membership screening against an
# existing corpus WITHOUT shuffling the candidate side. The filter is built
# with portable md5 arithmetic (k salted hashes -> bit positions -> 32-bit
# words OR-folded into a 256-row table), so the DuckDB oracle replays the
# identical bit math, false positives included.
# ---------------------------------------------------------------------------
BLOOM_M_BITS = 8192  # filter width (bits); 256 x 32-bit words
BLOOM_K = 4          # hash functions

# First 8 hex chars of md5 as a BIGINT — same arithmetic text in Spark SQL
# and DuckDB (shared idiom with the KMV sketches in advanced.py).
_BLOOM_HEX_INT = "(" + " + ".join(
    f"CAST(instr('0123456789abcdef', substr({{h}}, {i + 1}, 1)) - 1 AS BIGINT)"
    f" * {16 ** (7 - i)}"
    for i in range(8)
) + ")"


def _bloom_pos_sql(seed: int, text_expr: str, engine: str) -> str:
    """SQL fragment: bit position of hash #seed of ``text_expr``.

    The hex->int arithmetic is the identical text on both engines; only the
    md5 call differs (Spark hashes BINARY, DuckDB hashes VARCHAR).
    """
    if engine == "spark":
        h = f"md5(cast(concat('{seed}:', {text_expr}) as binary))"
    else:
        h = f"md5('{seed}:' || {text_expr})"
    return f"({_BLOOM_HEX_INT.format(h=h)} % {BLOOM_M_BITS})"


_BLOOM_POSITIONS = ", ".join(
    f"{_bloom_pos_sql(i, 'text', 'duck')} AS p{i}" for i in range(BLOOM_K)
)
_BLOOM_PLIST = ", ".join(f"p{i}" for i in range(BLOOM_K))


@register(
    "dedup_bloom_blocklist",
    oracle=f"""
    WITH block AS (SELECT text FROM documents WHERE source = 'src0'),
    bpos AS (SELECT {_BLOOM_POSITIONS} FROM block),
    bits AS (
        SELECT p // 32 AS w, bit_or(CAST(1 AS BIGINT) << (p % 32)) AS mask
        FROM (SELECT unnest([{_BLOOM_PLIST}]) AS p FROM bpos)
        GROUP BY w
    ),
    cand AS (SELECT doc_id, source, {_BLOOM_POSITIONS} FROM documents),
    probe AS (
        SELECT c.doc_id, c.source,
               COUNT(*) FILTER (COALESCE(b.mask, 0) & (CAST(1 AS BIGINT) << (u.p % 32)) <> 0) AS hits
        FROM cand c, LATERAL (SELECT unnest([{_BLOOM_PLIST}]) AS p) u
        LEFT JOIN bits b ON b.w = u.p // 32
        GROUP BY c.doc_id, c.source
    )
    SELECT source, COUNT(*) AS n_docs,
           COUNT(*) FILTER (hits = {BLOOM_K}) AS n_flagged
    FROM probe GROUP BY source
    """,
)
def dedup_bloom_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source counts of documents whose text may be in the blocklist (all
    of ``src0``) according to a {BLOOM_M_BITS}-bit / {BLOOM_K}-hash Bloom
    filter.

    Scale shape: screening 100 TB of candidates against an existing corpus as
    an anti-join shuffles both sides on text digests; a Bloom filter reduces
    the corpus side to a KB-scale bitset that BROADCASTS, so candidates are
    screened in a map-only pass (false-positive rate (nk/m)^k, tunable via
    BLOOM_M_BITS) and only the tiny maybe-set needs the exact anti-join. The
    bitset is built with ``bit_or`` partial aggregation (map-side combine on
    {BLOOM_M_BITS // 32} word keys). Deterministic md5 hashing means the
    DuckDB oracle reproduces exact membership AND false positives.
    """
    docs = load_table(spark, sf_dir, "documents")
    probe = bloom_probe(docs, docs.filter(F.col("source") == "src0"))
    return probe.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.when(F.col("hits") == BLOOM_K, 1).otherwise(0)).alias("n_flagged"),
    )


def bloom_probe(candidates: DataFrame, blocklist: DataFrame) -> DataFrame:
    """Candidates + a ``hits`` column (how many of the {BLOOM_K} probe bits
    are set; == BLOOM_K means possibly-in-blocklist). Both inputs need a
    ``text`` column; candidate columns pass through. Core of
    :func:`dedup_bloom_blocklist`, separated for the no-false-negative
    property test."""
    pos_cols = [
        F.expr(_bloom_pos_sql(i, "text", "spark")).alias(f"p{i}")
        for i in range(BLOOM_K)
    ]
    block = blocklist.select(*pos_cols)
    bits = (
        block.select(F.explode(F.array(*[F.col(f"p{i}") for i in range(BLOOM_K)])).alias("p"))
        .groupBy(F.expr("p div 32").alias("w"))
        .agg(F.bit_or(F.expr("shiftleft(cast(1 as bigint), cast(p % 32 as int))")).alias("mask"))
    )
    hits = (
        candidates.select("doc_id", *pos_cols)
        .select(
            "doc_id",
            F.explode(F.array(*[F.col(f"p{i}") for i in range(BLOOM_K)])).alias("p"),
        )
        .join(F.broadcast(bits), F.expr("p div 32") == F.col("w"), "left")
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.when(
                    F.expr(
                        "coalesce(mask, cast(0 as bigint))"
                        " & shiftleft(cast(1 as bigint), cast(p % 32 as int))"
                    )
                    != 0,
                    1,
                ).otherwise(0)
            ).alias("hits")
        )
    )
    return candidates.join(hits, "doc_id")


# ---------------------------------------------------------------------------
# Sorted-neighborhood blocking (Hernández & Stolfo '95): the THIRD classic
# candidate generator next to LSH (dedup_minhash_lsh_pairs) and banded
# SimHash (dedup_simhash_hamming_pairs). Sort on a normalized key, emit every
# pair within a sliding window of W positions — catches near-dups whose edits
# fall OUTSIDE the key prefix (which hash-blocking splits apart), at a
# guaranteed W·n candidate bound.
# ---------------------------------------------------------------------------
SN_KEY_LEN = 12
SN_WINDOW = 3


def _sn_pairs_oracle() -> str:
    leads = ",\n               ".join(
        f"LEAD(doc_id, {i}) OVER w AS lead{i}" for i in range(1, SN_WINDOW + 1)
    )
    arms = "\n    UNION ALL\n".join(
        f"""    SELECT block, doc_id AS doc_id_a, {i} AS gap, lead{i} AS doc_id_b
    FROM ranked WHERE lead{i} IS NOT NULL"""
        for i in range(1, SN_WINDOW + 1)
    )
    return f"""
    WITH keyed AS (
        SELECT doc_id,
               substring(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'),
                         1, {SN_KEY_LEN}) AS snkey
        FROM documents
    ),
    ranked AS (
        SELECT doc_id, snkey, substring(snkey, 1, 1) AS block,
               {leads}
        FROM keyed
        WINDOW w AS (PARTITION BY substring(snkey, 1, 1)
                     ORDER BY snkey, doc_id)
    )
{arms}
    """


@register("dedup_sorted_neighborhood_pairs", oracle=_sn_pairs_oracle())
def dedup_sorted_neighborhood_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood candidate pairs: normalize each document to a
    SN_KEY_LEN prefix key, sort within its 1-char block, pair every row
    with its next SN_WINDOW neighbors. ONE window pass — the neighbors come
    from lead(), not a self-join, so the plan is a single hash exchange on
    the block plus a map-side stack(); candidate volume is bounded by W·n
    by construction (vs LSH's data-dependent bucket sizes). Blocks bound
    the sort: no global order, a mega-block is one skewed partition handled
    by AQE. The window deliberately pairs across DIFFERENT prefix keys
    within a block — the near-miss class pure hash blocking loses."""
    docs = load_table(spark, sf_dir, "documents")
    keyed = docs.select(
        "doc_id",
        F.substring(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]", ""), 1, SN_KEY_LEN
        ).alias("snkey"),
    ).withColumn("block", F.substring("snkey", 1, 1))
    w = W.partitionBy("block").orderBy("snkey", "doc_id")
    ranked = keyed.select(
        "block",
        "doc_id",
        *[F.lead("doc_id", i).over(w).alias(f"lead{i}") for i in range(1, SN_WINDOW + 1)],
    )
    stack_args = ", ".join(f"{i}, lead{i}" for i in range(1, SN_WINDOW + 1))
    return ranked.selectExpr(
        "block",
        "doc_id AS doc_id_a",
        f"stack({SN_WINDOW}, {stack_args}) AS (gap, doc_id_b)",
    ).filter(F.col("doc_id_b").isNotNull())


# ---------------------------------------------------------------------------
# Containment near-dup (Broder's C(A,B) = |A∩B| / min(|A|,|B|)): the subset-
# duplication detector. A short document pasted inside a long one has HIGH
# containment but LOW Jaccard (|A∩B|/|A∪B| is diluted by the long doc), so
# Jaccard-LSH structurally misses it. Candidates come from RARE-shingle
# blocking instead: a contained document shares ALL its shingles with its
# container, so any of its rare shingles (document frequency ≤ MAX_DF) links
# the pair. Candidate volume is Σ_rare df² ≤ MAX_DF · Σ_rare df — linear in
# corpus shingle count with a tunable constant, never n².
# ---------------------------------------------------------------------------
CONTAINMENT_MAX_DF = 5
CONTAINMENT_THRESHOLD = 0.5


@register(
    "dedup_containment_pairs",
    oracle=f"""
    WITH {_ORACLE_SHINGLES},
    dfreq AS (SELECT shingle, COUNT(*) AS n_df FROM shingles GROUP BY shingle),
    rare AS (
        SELECT shingle FROM dfreq
        WHERE n_df BETWEEN 2 AND {CONTAINMENT_MAX_DF}
    ),
    cand AS (
        SELECT DISTINCT sa.doc_id AS doc_id_a, sb.doc_id AS doc_id_b
        FROM shingles sa
        JOIN rare r ON sa.shingle = r.shingle
        JOIN shingles sb ON sb.shingle = r.shingle AND sa.doc_id < sb.doc_id
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id),
    inter AS (
        SELECT c.doc_id_a, c.doc_id_b, COUNT(*) AS n_common
        FROM cand c
        JOIN shingles sa ON sa.doc_id = c.doc_id_a
        JOIN shingles sb ON sb.doc_id = c.doc_id_b AND sb.shingle = sa.shingle
        GROUP BY c.doc_id_a, c.doc_id_b
    )
    SELECT doc_id_a, doc_id_b, containment FROM (
        SELECT i.doc_id_a, i.doc_id_b,
               CAST(ROUND(CAST(i.n_common AS DOUBLE)
                          / LEAST(za.n, zb.n), 6) AS DOUBLE) AS containment
        FROM inter i
        JOIN sizes za ON za.doc_id = i.doc_id_a
        JOIN sizes zb ON zb.doc_id = i.doc_id_b
        WHERE CAST(i.n_common AS DOUBLE) / LEAST(za.n, zb.n)
              >= {CONTAINMENT_THRESHOLD}
    ) t
    """,
)
def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subset-duplication pairs: rare-shingle blocking → containment
    verification. Verification runs on per-document shingle-set ARRAYS
    (``collect_set`` → ``array_intersect``) like the LSH verifier — two
    doc_id joins, no second pass over exploded shingle rows. The document-
    frequency computation doubles as the blocking filter, so the whole plan
    is: one shingle aggregation, one df aggregation, the rare-bucket
    self-join (AQE-skew-safe), then bounded array math per candidate. The
    shingle frame is localCheckpointed (df counts, the blocking join and
    the verification sets each reference it) and so is the rare-blocked
    frame (both self-join legs read it)."""
    sh = _shingles(spark, sf_dir).transform(materialize)
    dfreq = sh.groupBy("shingle").agg(F.count("*").alias("n_df"))
    rare = dfreq.filter(
        (F.col("n_df") >= 2) & (F.col("n_df") <= CONTAINMENT_MAX_DF)
    ).select("shingle")
    blocked = sh.join(rare, "shingle").transform(materialize)
    cand = (
        blocked.select("shingle", F.col("doc_id").alias("doc_id_a"))
        .join(
            blocked.select("shingle", F.col("doc_id").alias("doc_id_b")),
            "shingle",
        )
        .filter(F.col("doc_id_a") < F.col("doc_id_b"))
        .select("doc_id_a", "doc_id_b")
        .distinct()
    )
    ssets = sh.groupBy("doc_id").agg(
        F.collect_set("shingle").alias("sset"), F.count("*").alias("n")
    )
    za = ssets.select(
        F.col("doc_id").alias("doc_id_a"),
        F.col("sset").alias("sset_a"),
        F.col("n").alias("n_a"),
    )
    zb = ssets.select(
        F.col("doc_id").alias("doc_id_b"),
        F.col("sset").alias("sset_b"),
        F.col("n").alias("n_b"),
    )
    n_common = F.size(F.array_intersect("sset_a", "sset_b"))
    cont = n_common.cast("double") / F.least("n_a", "n_b")
    return (
        cand.join(za, "doc_id_a")
        .join(zb, "doc_id_b")
        .filter(cont >= CONTAINMENT_THRESHOLD)
        .select(
            "doc_id_a",
            "doc_id_b",
            F.round(cont, 6).cast("double").alias("containment"),
        )
    )


# ---------------------------------------------------------------------------
# Prefix-filtering set-similarity join (PPJoin family, Xiao et al. WWW'08):
# the EXACT counterpart to LSH. Order each document's shingles by ascending
# document frequency (rarest first, lexicographic tie-break); two sets with
# Jaccard ≥ τ MUST share a shingle within each other's first
# n − ⌈τ·n⌉ + 1 shingles (pigeonhole), so joining on prefix shingles alone
# loses NO true pair — recall is 1.0 by construction, unlike MinHash-LSH's
# probabilistic banding. Candidate volume tracks Σ df² over PREFIX (rare)
# shingles; the length filter τ·max(|A|,|B|) ≤ min(|A|,|B|) prunes further.
# ---------------------------------------------------------------------------
PREFIX_JACCARD_THRESHOLD = 0.5  # τ; prefix length n − ⌈n/2⌉ + 1, all-integer


@register(
    "dedup_prefix_filter_pairs",
    oracle=f"""
    WITH {_ORACLE_SHINGLES},
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id),
    dfreq AS (SELECT shingle, COUNT(*) AS df FROM shingles GROUP BY shingle),
    ranked AS (
        SELECT k.doc_id, k.shingle, s.n,
               ROW_NUMBER() OVER (PARTITION BY k.doc_id
                                  ORDER BY d.df, k.shingle) AS rn
        FROM shingles k
        JOIN dfreq d ON d.shingle = k.shingle
        JOIN sizes s ON s.doc_id = k.doc_id
    ),
    prefix AS (SELECT doc_id, shingle, n FROM ranked
               WHERE rn <= n - (n + 1) // 2 + 1),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
        FROM prefix a JOIN prefix b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
             AND 2 * LEAST(a.n, b.n) >= GREATEST(a.n, b.n)
    ),
    inter AS (
        SELECT c.doc_id_a, c.doc_id_b, COUNT(*) AS n_common
        FROM cand c
        JOIN shingles sa ON sa.doc_id = c.doc_id_a
        JOIN shingles sb ON sb.doc_id = c.doc_id_b AND sb.shingle = sa.shingle
        GROUP BY c.doc_id_a, c.doc_id_b
    )
    SELECT doc_id_a, doc_id_b, jaccard FROM (
        SELECT i.doc_id_a, i.doc_id_b,
               CAST(ROUND(CAST(i.n_common AS DOUBLE)
                          / (za.n + zb.n - i.n_common), 6) AS DOUBLE) AS jaccard
        FROM inter i
        JOIN sizes za ON za.doc_id = i.doc_id_a
        JOIN sizes zb ON zb.doc_id = i.doc_id_b
        WHERE CAST(i.n_common AS DOUBLE) / (za.n + zb.n - i.n_common)
              >= {PREFIX_JACCARD_THRESHOLD}
    ) t
    """,
)
def dedup_prefix_filter_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Jaccard-≥-τ pairs via prefix filtering — zero false negatives
    (the guarantee LSH trades away), at the cost of a df-ranking window
    pass. Plan: shingle aggregation → df counts (one exchange each) → the
    per-doc rank window → prefix self-join (volume = Σ df² over rare
    prefix shingles, AQE-skew-safe) → array-set verification on the two
    doc_id joins. The length filter is applied IN the join condition so
    mismatched-size pairs never materialize. Tested as a superset of the
    LSH pair set at the same τ, and property-tested equal to the
    brute-force Jaccard-≥-τ pair set on random corpora."""
    return prefix_filter_pairs(_shingles(spark, sf_dir))


def prefix_filter_pairs(sh: DataFrame) -> DataFrame:
    """Exact Jaccard-≥-τ pairs from a (doc_id, shingle) frame (see
    `dedup_prefix_filter_pairs` for the registered documents instance).

    The shingle frame is localCheckpointed on entry — four consumers
    reference it (sizes, df counts, the ranking join, the verification
    sets), and un-checkpointed each replays the shingle explode (the
    Spark mirror of the oracle's ``AS MATERIALIZED`` shingles CTE). The
    prefix table is checkpointed too: both self-join legs read it, and it
    is the small end of the pipeline (rarest ⌈n/2⌉+1 shingles per doc)."""
    sh = sh.transform(materialize)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    dfreq = sh.groupBy("shingle").agg(F.count("*").alias("df"))
    ranked = (
        sh.join(dfreq, "shingle")
        .join(sizes, "doc_id")
        .withColumn(
            "rn",
            F.row_number().over(W.partitionBy("doc_id").orderBy("df", "shingle")),
        )
    )
    prefix = (
        ranked.filter(F.expr("rn <= n - (n + 1) div 2 + 1"))
        .select("doc_id", "shingle", "n")
        .transform(materialize)
    )
    pa = prefix.select(
        "shingle", F.col("doc_id").alias("doc_id_a"), F.col("n").alias("pn_a")
    )
    pb = prefix.select(
        "shingle", F.col("doc_id").alias("doc_id_b"), F.col("n").alias("pn_b")
    )
    cand = (
        pa.join(pb, "shingle")
        .filter(
            (F.col("doc_id_a") < F.col("doc_id_b"))
            & (2 * F.least("pn_a", "pn_b") >= F.greatest("pn_a", "pn_b"))
        )
        .select("doc_id_a", "doc_id_b")
        .distinct()
    )
    ssets = sh.groupBy("doc_id").agg(
        F.collect_set("shingle").alias("sset"), F.count("*").alias("n")
    )
    za = ssets.select(
        F.col("doc_id").alias("doc_id_a"),
        F.col("sset").alias("sset_a"),
        F.col("n").alias("n_a"),
    )
    zb = ssets.select(
        F.col("doc_id").alias("doc_id_b"),
        F.col("sset").alias("sset_b"),
        F.col("n").alias("n_b"),
    )
    n_common = F.size(F.array_intersect("sset_a", "sset_b"))
    jacc = n_common.cast("double") / (F.col("n_a") + F.col("n_b") - n_common)
    return (
        cand.join(za, "doc_id_a")
        .join(zb, "doc_id_b")
        .filter(jacc >= PREFIX_JACCARD_THRESHOLD)
        .select(
            "doc_id_a",
            "doc_id_b",
            F.round(jacc, 6).cast("double").alias("jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# LSH quality evaluation: MinHash-LSH pairs vs the exact prefix-filter join.
# ---------------------------------------------------------------------------


def _lsh_eval_oracle() -> str:
    # Compose the two registered pair oracles verbatim as CTE bodies (both
    # emit (doc_id_a, doc_id_b, jaccard) at the same tau=0.5 threshold);
    # nested WITH inside a parenthesized CTE body is standard SQL.
    return f"""
    WITH lsh AS ({ORACLES["dedup_minhash_lsh_pairs"]}),
    ex AS ({ORACLES["dedup_prefix_filter_pairs"]}),
    j AS (
        SELECT COUNT(*) AS n_common
        FROM lsh JOIN ex ON lsh.doc_id_a = ex.doc_id_a
                        AND lsh.doc_id_b = ex.doc_id_b
    )
    SELECT CAST((SELECT COUNT(*) FROM ex) AS BIGINT) AS n_true_pairs,
           CAST((SELECT COUNT(*) FROM lsh) AS BIGINT) AS n_lsh_pairs,
           CAST(j.n_common AS BIGINT) AS n_common,
           CAST(ROUND(CASE WHEN (SELECT COUNT(*) FROM ex) = 0 THEN 1.0
                           ELSE CAST(j.n_common AS DOUBLE)
                                / (SELECT COUNT(*) FROM ex) END, 6)
                AS DOUBLE) AS lsh_recall,
           CAST(ROUND(CASE WHEN (SELECT COUNT(*) FROM lsh) = 0 THEN 1.0
                           ELSE CAST(j.n_common AS DOUBLE)
                                / (SELECT COUNT(*) FROM lsh) END, 6)
                AS DOUBLE) AS lsh_precision
    FROM j
    """


@register("dedup_eval_lsh_quality", oracle=_lsh_eval_oracle())
def dedup_eval_lsh_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Evaluation-as-a-query for the near-dup pipeline: recall and precision
    of the MinHash-LSH pair set against the EXACT prefix-filter similarity
    join at the same Jaccard threshold. LSH misses a true pair only when no
    band of its signatures collides (the S-curve's false-negative tail);
    since both operators verify exact Jaccard on their candidates, precision
    is 1.0 by construction and recall is the number that moves with
    (bands, rows-per-band) tuning — this query pins it per corpus, the same
    eval-as-query pattern as ``sim_eval_recall_ivf_probe`` for ANN.

    Scale: reuses the two registered operators end to end (both
    bucketed/blocked, never n²); the metric join runs on the pair sets,
    which are output-sized, not corpus-sized. Each pair set is referenced
    twice (the intersection join and its own count), so both are
    localCheckpointed — each shingle/signature pipeline executes exactly
    once, the Spark-side mirror of the oracle's ``AS MATERIALIZED`` CTEs
    (a plan audit measured 16 scans from the un-checkpointed replay).
    """
    lsh = (
        dedup_minhash_lsh_pairs(spark, sf_dir)
        .select("doc_id_a", "doc_id_b")
        .transform(materialize)
    )
    ex = (
        dedup_prefix_filter_pairs(spark, sf_dir)
        .select("doc_id_a", "doc_id_b")
        .transform(materialize)
    )
    n_common = (
        lsh.join(ex, ["doc_id_a", "doc_id_b"]).agg(F.count("*").alias("n_common"))
    )
    n_ex = ex.agg(F.count("*").alias("n_true_pairs"))
    n_lsh = lsh.agg(F.count("*").alias("n_lsh_pairs"))
    ratio = lambda num, den: F.round(  # noqa: E731
        F.when(F.col(den) == 0, F.lit(1.0)).otherwise(
            F.col(num).cast("double") / F.col(den)
        ),
        6,
    ).cast("double")
    return (
        n_common.crossJoin(F.broadcast(n_ex))
        .crossJoin(F.broadcast(n_lsh))
        .select(
            F.col("n_true_pairs").cast("bigint").alias("n_true_pairs"),
            F.col("n_lsh_pairs").cast("bigint").alias("n_lsh_pairs"),
            F.col("n_common").cast("bigint").alias("n_common"),
            ratio("n_common", "n_true_pairs").alias("lsh_recall"),
            ratio("n_common", "n_lsh_pairs").alias("lsh_precision"),
        )
    )


# ---------------------------------------------------------------------------
# Normalization-canonical dedup (C4/CCNet-style): documents that differ only
# in case, punctuation, or whitespace are the same document. Normalize, hash
# the canonical form, group — exact dedup's recall-boosted sibling, sitting
# between byte-exact and MinHash in the dedup ladder.
# ---------------------------------------------------------------------------
@register(
    "dedup_normalized_exact",
    oracle="""
    WITH norm AS (
        SELECT doc_id,
               md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')))
                   AS canon_digest
        FROM documents
    ),
    grp AS (
        SELECT canon_digest, COUNT(*) AS group_size,
               MIN(doc_id) AS canonical_id
        FROM norm GROUP BY canon_digest
    )
    SELECT n.doc_id, n.canon_digest,
           CAST(g.group_size AS BIGINT) AS group_size,
           n.doc_id = g.canonical_id AS is_canonical
    FROM norm n JOIN grp g ON g.canon_digest = n.canon_digest
    """,
)
def dedup_normalized_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Case/punctuation/whitespace-insensitive exact dedup: canonicalize
    (lowercase → non-alphanumeric runs → single space → trim), hash the
    canonical form, and tag every document with its group size and whether
    it is the group's keeper (smallest doc_id). The normalization that
    byte-exact dedup misses and MinHash pays 12 hashes to approximate —
    C4-style pipelines run this pass first.

    Scale shape: map-side normalize + hash, then ONE shuffle keyed by the
    16-byte digest (never the text) for the group stats, and a digest-keyed
    self-join to annotate rows — same two-exchange shape as
    `dedup_exact_documents` with the annotation join on top. Java and RE2
    agree on the `[^a-z0-9]+` class over ASCII; the corpus is ASCII (the
    lang column's scripts are romanized) — a Unicode corpus would want an
    ICU-backed normalizer behind the same digest contract.
    """
    docs = load_table(spark, sf_dir, "documents")
    norm = docs.select(
        "doc_id",
        F.md5(
            F.trim(
                F.regexp_replace(F.lower("text"), "[^a-z0-9]+", " ")
            ).cast("binary")
        ).alias("canon_digest"),
    )
    grp = norm.groupBy("canon_digest").agg(
        F.count("*").cast("bigint").alias("group_size"),
        F.min("doc_id").alias("canonical_id"),
    )
    return norm.join(grp, "canon_digest").select(
        "doc_id",
        "canon_digest",
        "group_size",
        (F.col("doc_id") == F.col("canonical_id")).alias("is_canonical"),
    )
