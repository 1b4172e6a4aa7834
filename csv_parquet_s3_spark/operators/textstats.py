"""Text analysis over the ``documents`` table: token counting, quality
scoring, language-ID heuristics, fingerprinting, corpus statistics.

All operators are single-pass array/string expressions (whole-stage codegen,
no Python) — per-document features never shuffle, and corpus-level rollups
shuffle only their small grouping keys. That shape is what keeps these
linear-scan cheap at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from csv_parquet_s3_spark.operators.registry import register
from csv_parquet_s3_spark.sources.tables import load_table
from csv_parquet_s3_spark.plans.materialize import materialize

STOPWORDS = ("the", "a", "of", "and", "is", "to", "in")
_STOP_SQL = ", ".join(f"'{w}'" for w in STOPWORDS)


@register(
    "text_token_counts",
    oracle="""
    SELECT t AS token, COUNT(*) AS n
    FROM documents, UNNEST(string_split(text, ' ')) AS u(t)
    GROUP BY t
    ORDER BY n DESC, token
    LIMIT 20
    """,
)
def text_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token frequency, top 20 — explode + count + top-k."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("token"))
        .limit(20)
    )


@register(
    "text_doc_stats",
    oracle="""
    WITH t AS (SELECT doc_id, lang, n_chars, string_split(text, ' ') AS toks
               FROM documents)
    SELECT doc_id, lang,
           CAST(len(toks) AS INT) AS n_tokens,
           CAST(len(list_distinct(toks)) AS INT) AS n_distinct_tokens,
           CAST(ROUND(CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE)
                      / len(toks), 6) AS DOUBLE) AS avg_token_len,
           CAST(ROUND(LN(1 + n_chars)
                      * (CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)), 6)
                AS DOUBLE) AS quality_score
    FROM t
    """,
)
def text_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality features: token counts, type/token ratio score."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", "lang", "n_chars", F.split("text", " ").alias("toks"))
    n_tokens = F.size("toks")
    n_distinct = F.size(F.array_distinct("toks"))
    sum_len = F.aggregate(
        F.expr("transform(toks, x -> length(x))"), F.lit(0), lambda a, x: a + x
    )
    return t.select(
        "doc_id",
        "lang",
        n_tokens.cast("int").alias("n_tokens"),
        n_distinct.cast("int").alias("n_distinct_tokens"),
        F.round(sum_len.cast("double") / n_tokens, 6)
        .cast("double")
        .alias("avg_token_len"),
        F.round(
            F.log(F.lit(1) + F.col("n_chars")) * (n_distinct.cast("double") / n_tokens), 6
        )
        .cast("double")
        .alias("quality_score"),
    )


@register(
    "text_langid_heuristic",
    oracle=f"""
    WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents)
    SELECT doc_id, lang,
           CAST(len(list_filter(toks, x -> x IN ({_STOP_SQL}))) AS INT) AS stop_hits,
           CASE WHEN CAST(len(list_filter(toks, x -> x IN ({_STOP_SQL}))) AS DOUBLE)
                     / len(toks) >= 0.05
                THEN 'en' ELSE 'unk' END AS predicted_lang
    FROM t
    """,
)
def text_langid_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-ratio language-ID heuristic (n-gram-free baseline)."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", "lang", F.split("text", " ").alias("toks"))
    stop_arr = ", ".join(f"'{w}'" for w in STOPWORDS)
    hits = F.size(F.expr(f"filter(toks, x -> x IN ({stop_arr}))"))
    return t.select(
        "doc_id",
        "lang",
        hits.cast("int").alias("stop_hits"),
        F.when(hits.cast("double") / F.size("toks") >= 0.05, F.lit("en"))
        .otherwise(F.lit("unk"))
        .alias("predicted_lang"),
    )


@register(
    "text_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' '))
             AS fingerprint,
           CAST(len(regexp_extract_all(text, '[a-z]+')) AS INT) AS n_word_tokens
    FROM documents
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive document fingerprint (sorted-vocabulary hash) plus a
    regex tokenizer count (BPE-ish pre-tokenization proxy)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.md5(
            F.array_join(F.array_sort(F.array_distinct(F.split("text", " "))), " ").cast(
                "binary"
            )
        ).alias("fingerprint"),
        F.size(F.expr("regexp_extract_all(text, '[a-z]+', 0)"))
        .cast("int")
        .alias("n_word_tokens"),
    )


@register(
    "text_lang_distribution",
    oracle="""
    SELECT lang, source, COUNT(*) AS n_docs,
           CAST(ROUND(CAST(SUM(n_chars) AS DOUBLE) / COUNT(*), 6) AS DOUBLE)
             AS avg_chars,
           CAST(MIN(n_chars) AS BIGINT) AS min_chars,
           CAST(MAX(n_chars) AS BIGINT) AS max_chars
    FROM documents
    GROUP BY lang, source
    """,
)
def text_lang_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus composition rollup by (lang, source)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("lang", "source").agg(
        F.count("*").alias("n_docs"),
        F.round(F.sum("n_chars").cast("double") / F.count("*"), 6)
        .cast("double")
        .alias("avg_chars"),
        F.min("n_chars").cast("bigint").alias("min_chars"),
        F.max("n_chars").cast("bigint").alias("max_chars"),
    )


N_PROFILE = 20  # top trigrams kept per language profile


# Shared CTE chain for the trigram language-ID pipeline (used verbatim by
# the classifier oracle and the confusion-matrix oracle built on top of it).
_LANGID_CTES = """
    grams AS (
        SELECT doc_id, lang, substr(lower(text), i, 3) AS g
        FROM documents, UNNEST(range(1, length(text) - 1)) AS r(i)
        WHERE length(text) >= 3
    ),
    doc_grams AS (SELECT DISTINCT doc_id, lang, g FROM grams),
    profile AS (
        SELECT lang AS plang, g FROM (
            SELECT lang, g, ROW_NUMBER() OVER (
                PARTITION BY lang ORDER BY COUNT(*) DESC, g) AS rn
            FROM grams GROUP BY lang, g
        ) t WHERE rn <= {n_profile}
    ),
    scores AS (
        SELECT d.doc_id, d.lang, p.plang, COUNT(*) AS overlap
        FROM doc_grams d JOIN profile p ON d.g = p.g
        GROUP BY d.doc_id, d.lang, p.plang
    ),
    preds AS (
        SELECT doc_id, lang, plang AS predicted_lang, overlap FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY doc_id ORDER BY overlap DESC, plang) AS rn
            FROM scores
        ) t WHERE rn = 1
    )"""


@register(
    "text_langid_ngram",
    oracle="WITH " + _LANGID_CTES.format(n_profile=N_PROFILE) + """
    SELECT doc_id, lang, predicted_lang, overlap FROM preds
    """,
)
def text_langid_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-trigram language-ID: learn a top-N trigram profile per
    language from the corpus, classify each document by largest profile
    overlap (ties → lexicographic language).

    Two aggregations + one broadcast join: profiles are |langs|·N rows
    (constant-size → broadcast), so classification is map-side against the
    per-document distinct-trigram explode — linear in corpus size at 100 TB.
    """
    docs = load_table(spark, sf_dir, "documents").filter(F.length("text") >= 3)
    grams = docs.select(
        "doc_id",
        "lang",
        F.explode(
            F.expr(
                "transform(sequence(1, length(text) - 2),"
                " i -> substring(lower(text), i, 3))"
            )
        ).alias("g"),
    )
    doc_grams = grams.distinct()
    w_prof = W.partitionBy("lang").orderBy(F.desc("cnt"), F.asc("g"))
    profile = (
        grams.groupBy("lang", "g")
        .agg(F.count("*").alias("cnt"))
        .withColumn("rn", F.row_number().over(w_prof))
        .filter(F.col("rn") <= N_PROFILE)
        .select(F.col("lang").alias("plang"), "g")
    )
    scores = (
        doc_grams.join(F.broadcast(profile), "g")
        .groupBy("doc_id", "lang", "plang")
        .agg(F.count("*").alias("overlap"))
    )
    w_best = W.partitionBy("doc_id").orderBy(F.desc("overlap"), F.asc("plang"))
    return (
        scores.withColumn("rn", F.row_number().over(w_best))
        .filter(F.col("rn") == 1)
        .select("doc_id", "lang", F.col("plang").alias("predicted_lang"), "overlap")
    )


HASH_DIM = 64  # feature-hashing vector width


@register(
    "text_feature_hash_embedding",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, t AS token
        FROM documents, UNNEST(string_split(text, ' ')) AS u(t)
        WHERE t <> ''
    ),
    hashed AS (
        SELECT doc_id,
               (ascii(substr(md5(token), 1, 1)) * 16
                + ascii(substr(md5(token), 2, 1))) % {HASH_DIM} AS dim,
               CASE WHEN ascii(substr(md5(token), 3, 1)) % 2 = 0
                    THEN 1 ELSE -1 END AS sign
        FROM toks
    )
    SELECT doc_id, dim, CAST(SUM(sign) AS BIGINT) AS weight
    FROM hashed GROUP BY doc_id, dim
    HAVING SUM(sign) <> 0
    """,
)
def text_feature_hash_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick text vectorizer (Weinberger et al., ICML'09): each token
    hashes to a dimension with a hashed ±1 sign; per-(doc, dim) weights are
    the sparse embedding in long form — the layout a feature store ingests,
    convertible to dense ``array<float>`` with one ``map_from_entries``.

    Hex→int again goes through ``ascii()`` so Spark and DuckDB compute the
    identical bucket. One explode + one aggregation keyed (doc_id, dim):
    linear in corpus tokens, 100 TB-safe.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("token")
    ).filter(F.col("token") != "")
    md5 = "md5(CAST(token AS BINARY))"
    dim = F.expr(
        f"(ascii(substring({md5}, 1, 1)) * 16"
        f" + ascii(substring({md5}, 2, 1))) % {HASH_DIM}"
    )
    sign = F.expr(
        f"CASE WHEN ascii(substring({md5}, 3, 1)) % 2 = 0 THEN 1 ELSE -1 END"
    )
    return (
        toks.select("doc_id", dim.alias("dim"), sign.alias("sign"))
        .groupBy("doc_id", "dim")
        .agg(F.sum("sign").alias("weight"))
        .filter(F.col("weight") != 0)
    )


TFIDF_TOP = 3


@register(
    "text_tfidf_top_terms",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, t AS token
        FROM documents, UNNEST(string_split(text, ' ')) AS u(t)
        WHERE t <> ''
    ),
    tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM toks GROUP BY doc_id, token),
    df AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY token),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.token,
               CAST(ROUND(tf.tf * LN(CAST(n.n_docs AS DOUBLE) / df.df), 6)
                    AS DOUBLE) AS tfidf
        FROM tf JOIN df ON tf.token = df.token, n
    )
    SELECT doc_id, token, tfidf, rank FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY doc_id ORDER BY tfidf DESC, token) AS rank
        FROM scored
    ) t WHERE rank <= {TFIDF_TOP} AND tfidf > 0.0
    """,
)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document TF-IDF top terms: term frequency × ln(N/df), top
    {TFIDF_TOP} per doc.

    Scale shape: tf is one aggregate keyed (doc, token); df is one keyed
    (token); the df table is vocabulary-sized and joins back onto tf with
    no forced hint (AQE broadcasts while it fits, so scoring is map-side
    at any realistic vocab). The doc count is a one-row
    broadcast. The final per-doc window shuffles only the scored tf rows.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("token")
    ).filter(F.col("token") != "")
    # localCheckpoint tf and derive df FROM it: tf's grain is one row per
    # (doc, token), so rows-per-token IS the document frequency — the
    # separate countDistinct pass replayed the whole tokenization. n_docs
    # stays on the documents table (count-only scan; tf would miss
    # token-less documents).
    tf = (
        toks.groupBy("doc_id", "token")
        .agg(F.count("*").alias("tf"))
        .transform(materialize)
    )
    df = tf.groupBy("token").agg(F.count("*").alias("df"))
    n = docs.agg(F.count("*").alias("n_docs"))
    scored = (
        # No broadcast hint on df: "vocabulary-sized" is not a constant on an
        # unnormalized web corpus (Heaps' law: unbounded sublinear growth;
        # the test corpora draw from a fixed 31-token alphabet, so df is 31
        # rows at sf0.001, sf0.01 and sf0.1 alike), and a hint has no AQE
        # size fallback. CBO/AQE still pick broadcast
        # at any realistic vocab size (df derives from the materialized tf,
        # so runtime sizes are exact); at the pathological tail the join
        # degrades to a shuffle instead of an OOM.
        tf.join(df, "token")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "token",
            F.round(
                F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df")), 6
            )
            .cast("double")
            .alias("tfidf"),
        )
    )
    w = W.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("token"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter((F.col("rank") <= TFIDF_TOP) & (F.col("tfidf") > 0.0))
    )


# ---------------------------------------------------------------------------
# Quality-pipeline operators: repetition filtering, benchmark decontamination,
# PII redaction — the standard pre-training data hygiene passes.
# ---------------------------------------------------------------------------
REPETITION_NGRAM = 3
REPETITION_THRESHOLD = 0.2

# Non-distinct word n-grams (repetition analysis needs every occurrence,
# unlike dedup's distinct shingles).
_NGRAMS_SQL = (
    "transform(sequence(0, size(toks)-{n}),"
    " i -> concat_ws(' ', {parts}))"
).format(n=REPETITION_NGRAM, parts=", ".join(f"toks[i+{j}]" for j in range(REPETITION_NGRAM)))

_ORACLE_NGRAMS = """
    grams AS (
        SELECT doc_id, g
        FROM (SELECT doc_id, string_split(text, ' ') AS toks
              FROM documents WHERE len(string_split(text, ' ')) >= {n}) t,
             UNNEST(list_transform(range(1, len(toks) + 2 - {n}),
                    i -> {parts})) AS u(g)
    )
""".format(n=REPETITION_NGRAM, parts=" || ' ' || ".join(f"toks[i+{j}]" for j in range(REPETITION_NGRAM)))


@register(
    "text_repetition_ratio",
    oracle=f"""
    WITH {_ORACLE_NGRAMS}
    SELECT doc_id,
           COUNT(*) AS n_ngrams,
           COUNT(DISTINCT g) AS n_distinct,
           CAST(1.0 - CAST(COUNT(DISTINCT g) AS DOUBLE) / COUNT(*) AS DOUBLE)
             AS dup_ratio,
           (1.0 - CAST(COUNT(DISTINCT g) AS DOUBLE) / COUNT(*))
             > {REPETITION_THRESHOLD} AS is_repetitive
    FROM grams GROUP BY doc_id
    """,
)
def text_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition (Gopher-style quality filter): the fraction
    of word {REPETITION_NGRAM}-grams that are repeats of an earlier n-gram in
    the same document. High ratio → boilerplate/spam → filtered before
    training.

    MAP-ONLY: a document's n-grams all live in its own token array, so
    total and distinct counts fold inside the array (``size`` /
    ``size(array_distinct(...))``) with no explode, no shuffle — the former
    explode + doc_id-keyed distinct aggregation shuffled the per-partition-
    distinct (doc_id, gram) stream, corpus-sized at 100 TB (guide §2.4).
    ``concat_ws`` never yields NULL and ``countDistinct`` saw no NULLs, so
    the counts are identical; the duplicate fraction stays exact integer
    arithmetic + one IEEE division, so the oracle matches bit-for-bit.
    """
    docs = load_table(spark, sf_dir, "documents")
    grams = (
        docs.select("doc_id", F.split("text", " ").alias("toks"))
        .filter(F.size("toks") >= REPETITION_NGRAM)
        .select("doc_id", F.expr(_NGRAMS_SQL).alias("garr"))
    )
    n_ngrams = F.size("garr").cast("long")
    n_distinct = F.size(F.array_distinct("garr")).cast("long")
    dup_ratio = F.lit(1.0) - n_distinct.cast("double") / n_ngrams
    return grams.select(
        "doc_id",
        n_ngrams.alias("n_ngrams"),
        n_distinct.alias("n_distinct"),
        dup_ratio.cast("double").alias("dup_ratio"),
        (dup_ratio > REPETITION_THRESHOLD).alias("is_repetitive"),
    )


BENCHMARK_MOD = 97  # doc_id % 97 == 0 stands in for the held-out benchmark


@register(
    "text_benchmark_contamination",
    oracle=f"""
    WITH {_ORACLE_NGRAMS},
    doc_grams AS (SELECT DISTINCT doc_id, g FROM grams),
    bench AS (SELECT DISTINCT g FROM doc_grams WHERE doc_id % {BENCHMARK_MOD} = 0),
    hits AS (
        SELECT d.doc_id, COUNT(*) AS n_contaminated
        FROM doc_grams d JOIN bench b ON d.g = b.g
        WHERE d.doc_id % {BENCHMARK_MOD} <> 0
        GROUP BY d.doc_id
    )
    SELECT d.doc_id,
           COUNT(*) AS n_ngrams,
           COALESCE(MAX(h.n_contaminated), 0) AS n_contaminated,
           CAST(COALESCE(MAX(h.n_contaminated), 0) AS DOUBLE) / COUNT(*)
             AS contamination
    FROM doc_grams d LEFT JOIN hits h ON d.doc_id = h.doc_id
    WHERE d.doc_id % {BENCHMARK_MOD} <> 0
    GROUP BY d.doc_id
    """,
)
def text_benchmark_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination scan: per training document, the fraction of
    its distinct {REPETITION_NGRAM}-grams that also occur in a held-out
    benchmark set (stand-in: doc_id % {BENCHMARK_MOD} == 0).

    The benchmark n-gram set is bounded (real benchmarks are small), so
    the membership probe broadcasts in practice — but the frame is not
    hinted: AQE picks broadcast while it fits and the
    corpus streams map-side, nothing shuffling but the per-doc counts; an
    oversized gram set degrades to a shuffled join instead of an OOM.
    """
    docs = load_table(spark, sf_dir, "documents")
    # localCheckpoint: the distinct gram set feeds the benchmark side and
    # the train side (which itself feeds the hit and total aggregates) —
    # un-checkpointed, each branch replays the explode + distinct shuffle.
    doc_grams = (
        docs.select("doc_id", F.split("text", " ").alias("toks"))
        .filter(F.size("toks") >= REPETITION_NGRAM)
        .select("doc_id", F.explode(F.expr(_NGRAMS_SQL)).alias("g"))
        .distinct()
        .transform(materialize)
    )
    is_bench = F.col("doc_id") % BENCHMARK_MOD == 0
    bench = doc_grams.filter(is_bench).select("g").distinct()
    train = doc_grams.filter(~is_bench)
    hits = (
        # No broadcast hint on bench: a REAL benchmark suite is MB-bounded,
        # but this stand-in derives from the corpus's own gram space —
        # measured with DuckDB at 362 distinct grams at sf0.001 and 2397 at
        # sf0.1, a 100× corpus. AQE picks broadcast while it
        # fits (bench derives from the materialized doc_grams, so runtime
        # sizes are exact) and degrades to a shuffled semi-join above.
        train.join(bench, "g")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_contaminated"))
    )
    totals = train.groupBy("doc_id").agg(F.count("*").alias("n_ngrams"))
    n_cont = F.coalesce(F.col("n_contaminated"), F.lit(0))
    return (
        totals.join(hits, "doc_id", "left")
        .select(
            "doc_id",
            "n_ngrams",
            n_cont.alias("n_contaminated"),
            (n_cont.cast("double") / F.col("n_ngrams")).alias("contamination"),
        )
    )


PII_DIGIT_RUN = "[0-9]{3,}"  # account-number-like digit runs


@register(
    "pii_redact_customers",
    oracle=f"""
    SELECT c_custkey,
           regexp_replace(c_name, '{PII_DIGIT_RUN}', '[ID]', 'g') AS redacted_name,
           CAST(len(regexp_extract_all(c_name, '{PII_DIGIT_RUN}')) AS INT)
             AS n_redactions
    FROM customer
    """,
)
def pii_redact_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII-style redaction pass: mask digit runs (account identifiers) in
    customer names and count the redactions per row.

    Pure map-side ``regexp_replace`` — the redaction pattern set extends to
    emails/phones/URLs with more alternates in the same single pass; nothing
    shuffles at any scale. The pattern sticks to the RE2 ∩ java.util.regex
    common syntax so the oracle runs the identical expression.
    """
    cust = load_table(spark, sf_dir, "customer")
    return cust.select(
        "c_custkey",
        F.regexp_replace("c_name", PII_DIGIT_RUN, "[ID]").alias("redacted_name"),
        F.regexp_count(F.col("c_name"), F.lit(PII_DIGIT_RUN)).cast("int").alias("n_redactions"),
    )


# GPT-2-style pre-tokenizer, restricted to the RE2 ∩ java.util.regex common
# subset (no lookahead, ASCII classes): a leading-space word, number, or
# punctuation run per token — the standard proxy for "how many BPE tokens
# will this document cost" before a real vocabulary is applied.
BPE_SPLIT_PATTERN = " ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+| +"


@register(
    "text_bpe_token_stats",
    oracle=f"""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS INT) AS n_ws_tokens,
           CAST(len(regexp_extract_all(text, '{BPE_SPLIT_PATTERN}')) AS INT)
             AS n_bpe_tokens,
           CAST(octet_length(encode(text)) AS DOUBLE)
             / len(regexp_extract_all(text, '{BPE_SPLIT_PATTERN}'))
             AS bytes_per_token
    FROM documents
    WHERE len(regexp_extract_all(text, '{BPE_SPLIT_PATTERN}')) > 0
    """,
)
def text_bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-cost estimation under a BPE-ish pre-tokenizer: whitespace token
    count vs regex pre-token count and bytes-per-token — the budgeting
    numbers a training-data pipeline reports per shard.

    Map-side ``regexp_extract_all`` (single pass, whole-stage codegen);
    ``bytes_per_token`` is one IEEE division of exact integers, so the
    oracle matches bit-for-bit.
    """
    docs = load_table(spark, sf_dir, "documents")
    n_bpe = F.size(F.expr(f"regexp_extract_all(text, '{BPE_SPLIT_PATTERN}', 0)"))
    n_bytes = F.length(F.encode(F.col("text"), "UTF-8"))
    return (
        docs.filter(n_bpe > 0)
        .select(
            "doc_id",
            F.size(F.split("text", " ")).cast("int").alias("n_ws_tokens"),
            n_bpe.cast("int").alias("n_bpe_tokens"),
            (n_bytes.cast("double") / n_bpe).alias("bytes_per_token"),
        )
    )


@register(
    "text_unigram_perplexity",
    oracle="""
    WITH toks AS (
        SELECT doc_id, t AS token
        FROM documents, UNNEST(string_split(text, ' ')) AS u(t)
        WHERE t <> ''
    ),
    vocab AS (SELECT token, COUNT(*) AS cnt FROM toks GROUP BY token),
    total AS (SELECT COUNT(*) AS n_total FROM toks),
    doc_tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM toks GROUP BY doc_id, token),
    nll AS (
        SELECT d.doc_id,
               SUM(CAST(d.tf AS BIGINT)) AS n_tokens,
               SUM(d.tf * CAST(ROUND(LN(CAST(t.n_total AS DOUBLE) / v.cnt), 6)
                               AS DECIMAL(20, 6))) AS nll_sum
        FROM doc_tf d JOIN vocab v ON d.token = v.token, total t
        GROUP BY d.doc_id
    )
    SELECT doc_id, CAST(n_tokens AS INT) AS n_tokens,
           CAST((2 * CAST(nll_sum * 1000000 AS BIGINT) + n_tokens)
                // (2 * n_tokens) AS DOUBLE) / 1000000.0 AS avg_nll,
           CAST(ROUND(EXP(CAST((2 * CAST(nll_sum * 1000000 AS BIGINT)
                + n_tokens) // (2 * n_tokens) AS DOUBLE) / 1000000.0), 4)
               AS DOUBLE) AS perplexity
    FROM nll
    """,
)
def text_unigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity filtering, the classic LLM data-quality signal, with the
    corpus itself as the unigram LM: p(tok) = cnt/total, per-doc score
    avg(-ln p) and its exp (perplexity). Rare-token-heavy (low-quality or
    off-domain) documents surface with high perplexity.

    Determinism: each token's negative log-prob is rounded to 6 digits and
    summed as DECIMAL(20,6) — exact, order-independent accumulation, so
    Spark's and DuckDB's different reduce orders cannot diverge (same
    discipline as the monetary aggregates). 6 digits, not 9: the JVM's and
    DuckDB's libm LN differ in the last ulp, and a 9-digit round sits close
    enough to that noise to flip on ~3% of values (observed at sf0.01).

    Scale shape: vocabulary is one keyed aggregation broadcast back onto
    per-doc term frequencies; the corpus total is a one-row broadcast. At
    100 TB the LM table is vocabulary-sized, never corpus-sized; swap in a
    reference-corpus LM by replacing the ``vocab`` frame.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("token")
    ).filter(F.col("token") != "")
    # localCheckpoint the vocab-sized LM table (house discipline, same as
    # the bigram family) and derive the corpus total FROM it — otherwise
    # vocab and total each replay the tokenization pass.
    vocab = toks.groupBy("token").agg(F.count("*").alias("cnt")).transform(materialize)
    total = vocab.agg(F.sum("cnt").cast("bigint").alias("n_total"))
    tok_nll = F.round(
        F.log(F.col("n_total").cast("double") / F.col("cnt")), 6
    ).cast("decimal(20,6)")
    # Same term-table restructure as the bigram family — fold the LM
    # into a vocabulary-sized (token, __term) table and score each token
    # occurrence map-side, so the former corpus-sized (doc_id, token) doc_tf
    # exchange disappears; sum(tf·term) == sum(term per occurrence) exactly
    # (DECIMAL), count(*) == sum(tf) — bit-identical values.
    term_tbl = (
        # No broadcast hint on vocab: a web-scale vocabulary (unbounded
        # distinct tokens) need not fit in executor memory. AQE still picks
        # broadcast at any realistic vocab size; at the pathological tail it
        # degrades to a shuffled join instead of OOMing.
        vocab.crossJoin(F.broadcast(total)).select("token", tok_nll.alias("__term"))
    )
    nll = (
        toks.join(term_tbl, "token")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_tokens"),
            F.sum("__term").alias("nll_sum"),
        )
    )
    # tie-proof average (see text_bigram_kn_perplexity): a DECIMAL(,6) sum
    # over small n lands on exact 7th-digit midpoints ~1/n of the time where
    # the engines' double-round procedures diverge; integer half-up division
    # in micro-nats is exact on both.
    avg_nll = F.expr(
        "CAST((2 * CAST(nll_sum * 1000000 AS BIGINT) + n_tokens)"
        " DIV (2 * n_tokens) AS DOUBLE) / 1000000.0"
    )
    return nll.select(
        "doc_id",
        F.col("n_tokens").cast("int").alias("n_tokens"),
        avg_nll.cast("double").alias("avg_nll"),
        F.round(F.exp(avg_nll), 4).cast("double").alias("perplexity"),
    )


@register(
    "text_quality_percentile_by_lang",
    oracle="""
    WITH t AS (SELECT doc_id, lang, n_chars, string_split(text, ' ') AS toks
               FROM documents),
    scored AS (
        SELECT doc_id, lang,
               CAST(ROUND(LN(1 + n_chars)
                          * (CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)), 6)
                    AS DOUBLE) AS quality_score
        FROM t
    )
    SELECT doc_id, lang, quality_score,
           CAST(ROUND(percent_rank() OVER (PARTITION BY lang
                                           ORDER BY quality_score), 6)
                AS DOUBLE) AS lang_pctile
    FROM scored
    """,
)
def text_quality_percentile_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language percentile calibration of the quality score: raw quality
    scores are not comparable ACROSS languages (length and type/token
    distributions differ per language), so mixture pipelines sample on the
    within-stratum percentile instead — "top 30% of each language", not
    "top 30% globally". One window per language partition; at 100 TB each
    language sorts independently (no global window), and a skewed dominant
    language splits under AQE like any other hot partition. Scores are
    rounded BEFORE ranking, so the rank input is identical on both engines
    and ties resolve identically under SQL percent_rank semantics.
    """
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", "lang", "n_chars", F.split("text", " ").alias("toks"))
    n_distinct = F.size(F.array_distinct("toks"))
    score = F.round(
        F.log(F.lit(1) + F.col("n_chars"))
        * (n_distinct.cast("double") / F.size("toks")),
        6,
    ).cast("double")
    scored = t.select("doc_id", "lang", score.alias("quality_score"))
    wl = W.partitionBy("lang").orderBy("quality_score")
    return scored.select(
        "doc_id",
        "lang",
        "quality_score",
        F.round(F.percent_rank().over(wl), 6).cast("double").alias("lang_pctile"),
    )


# ---------------------------------------------------------------------------
# Winnowing fingerprints (Schleimer, Wilkerson & Aiken, SIGMOD'03 — the MOSS
# algorithm): select the minimum k-gram hash in every sliding window of W
# consecutive hashes. Guarantee: any shared run of >= W + K - 1 tokens
# yields at least one shared fingerprint, with ~2/(W+1) selection density —
# LOCAL similarity detection at a bounded fingerprint budget (MinHash is
# whole-document; winnowing localizes matches to positions).
# ---------------------------------------------------------------------------
WINNOW_K = 4   # tokens per k-gram
WINNOW_W = 5   # hashes per winnowing window
_POS_BITS = 1 << 20  # (hash, pos) packed into one bigint: h * 2^20 + pos

# First 8 hex chars of md5 as bigint (portable; same idiom as the sketches).
_WN_HEX_INT = "(" + " + ".join(
    f"CAST(instr('0123456789abcdef', substr({{h}}, {i + 1}, 1)) - 1 AS BIGINT)"
    f" * {16 ** (7 - i)}"
    for i in range(8)
) + ")"


@register(
    "text_winnowing_fingerprints",
    oracle=f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    grams AS (
        SELECT doc_id, CAST(u.i AS BIGINT) AS pos,
               array_to_string(toks[u.i:u.i+{WINNOW_K - 1}], ' ') AS g
        FROM t, LATERAL (SELECT unnest(generate_series(1, len(toks) - {WINNOW_K - 1})) AS i) u
        WHERE len(toks) >= {WINNOW_K}
    ),
    keys AS (
        SELECT doc_id, pos,
               {_WN_HEX_INT.format(h='md5(g)')} * {_POS_BITS} + pos AS key
        FROM grams
    ),
    winmin AS (
        SELECT doc_id,
               MIN(key) OVER w AS mkey,
               COUNT(*) OVER w AS wsize
        FROM keys
        WINDOW w AS (PARTITION BY doc_id ORDER BY pos
                     ROWS BETWEEN CURRENT ROW AND {WINNOW_W - 1} FOLLOWING)
    )
    SELECT DISTINCT doc_id,
           CAST(mkey % {_POS_BITS} AS BIGINT) AS pos,
           CAST(mkey // {_POS_BITS} AS BIGINT) AS fingerprint
    FROM winmin WHERE wsize = {WINNOW_W}
    """,
)
def text_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document winnowing fingerprint set: (doc_id, pos, fingerprint)
    rows, ~2/(W+1) of the k-gram stream. The argmin inside each window is
    made total AND portable by packing (hash, pos) into one bigint
    (h·2^20 + pos) so a plain MIN over a row frame IS the tie-broken
    argmin — no engine-specific argmin-over-window needed.

    Scale shape: k-gram hashing is map-side; the sliding MIN is a bounded
    row-frame window per document (state = W rows), partitioned by doc_id
    — no corpus-wide sort. Downstream near-dup joins group by fingerprint
    exactly like the LSH band join, but matches localize to positions.
    """
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", F.split("text", " ").alias("toks"))
    grams = (
        t.filter(F.size("toks") >= WINNOW_K)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(1, size(toks) - {WINNOW_K - 1}),"
                    f" i -> struct(cast(i as bigint) AS pos,"
                    f" concat_ws(' ', slice(toks, i, {WINNOW_K})) AS g))"
                )
            ).alias("u"),
        )
        .select("doc_id", F.col("u.pos").alias("pos"), F.col("u.g").alias("g"))
    )
    key = F.expr(
        f"{_WN_HEX_INT.format(h='md5(cast(g as binary))')} * {_POS_BITS} + pos"
    )
    keys = grams.select("doc_id", "pos", key.alias("key"))
    wf = (
        W.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(W.currentRow, WINNOW_W - 1)
    )
    winmin = keys.select(
        "doc_id",
        F.min("key").over(wf).alias("mkey"),
        F.count("*").over(wf).alias("wsize"),
    )
    return (
        winmin.filter(F.col("wsize") == WINNOW_W)
        .select(
            "doc_id",
            (F.col("mkey") % _POS_BITS).cast("bigint").alias("pos"),
            F.expr(f"mkey div {_POS_BITS}").cast("bigint").alias("fingerprint"),
        )
        .distinct()
    )


@register(
    "dedup_winnowing_pairs",
    oracle=f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    grams AS (
        SELECT doc_id, CAST(u.i AS BIGINT) AS pos,
               array_to_string(toks[u.i:u.i+{WINNOW_K - 1}], ' ') AS g
        FROM t, LATERAL (SELECT unnest(generate_series(1, len(toks) - {WINNOW_K - 1})) AS i) u
        WHERE len(toks) >= {WINNOW_K}
    ),
    keys AS (
        SELECT doc_id, pos,
               {_WN_HEX_INT.format(h='md5(g)')} * {_POS_BITS} + pos AS key
        FROM grams
    ),
    winmin AS (
        SELECT doc_id, MIN(key) OVER w AS mkey, COUNT(*) OVER w AS wsize
        FROM keys
        WINDOW w AS (PARTITION BY doc_id ORDER BY pos
                     ROWS BETWEEN CURRENT ROW AND {WINNOW_W - 1} FOLLOWING)
    ),
    fp AS (
        SELECT DISTINCT doc_id, CAST(mkey // {_POS_BITS} AS BIGINT) AS fingerprint
        FROM winmin WHERE wsize = {WINNOW_W}
    )
    SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
           COUNT(*) AS n_shared_fingerprints
    FROM fp a JOIN fp b
      ON a.fingerprint = b.fingerprint AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    """,
)
def dedup_winnowing_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Localized near-dup candidate pairs: documents sharing winnowing
    fingerprints, weighted by how many they share. Complements MinHash-LSH:
    LSH finds documents that are MOSTLY similar; winnowing pairs surface a
    single shared PASSAGE (any run of >= {WINNOW_W + WINNOW_K - 1} tokens
    guarantees a shared fingerprint) inside otherwise-different documents —
    quotation/boilerplate detection, not whole-document dedup.

    Scale shape: identical to the LSH band join — group the fingerprint
    table by hash, pairs only within a posting list; a stop-fingerprint cut
    (drop hashes with huge postings) bounds the worst case the same way hot
    LSH buckets are handled.
    """
    fp = text_winnowing_fingerprints(spark, sf_dir).select("doc_id", "fingerprint").distinct()
    a = fp.select(F.col("doc_id").alias("doc_id_a"), "fingerprint")
    b = fp.select(F.col("doc_id").alias("doc_id_b"), F.col("fingerprint").alias("fp_b"))
    return (
        a.join(b, (F.col("fingerprint") == F.col("fp_b")) & (F.col("doc_id_a") < F.col("doc_id_b")))
        .groupBy("doc_id_a", "doc_id_b")
        .agg(F.count("*").alias("n_shared_fingerprints"))
    )


# ---------------------------------------------------------------------------
# Gopher-style rule screen (Rae et al. '21, Table A1, adapted to this
# corpus's scale): the consolidated boolean quality gate a pretraining
# pipeline runs FIRST, before any model-scored filtering. Each rule is a
# named boolean column so downstream audits can ask "how many documents does
# each rule alone remove" — not just a single opaque keep bit.
# ---------------------------------------------------------------------------
GOPHER_MIN_WORDS = 20
GOPHER_MEAN_LEN_LO = 3.0
GOPHER_MEAN_LEN_HI = 5.0
GOPHER_MIN_TTR = 0.3
GOPHER_MAX_TOP_FRAC = 0.2
GOPHER_MIN_STOP_HITS = 2


@register(
    "text_gopher_quality_flags",
    oracle=f"""
    WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS toks
               FROM documents),
    tok AS (SELECT doc_id, u.t AS tk FROM t, UNNEST(toks) AS u(t)),
    mx AS (
        SELECT doc_id, MAX(c) AS maxtok FROM (
            SELECT doc_id, tk, COUNT(*) AS c FROM tok GROUP BY doc_id, tk
        ) z GROUP BY doc_id
    ),
    s AS (
        SELECT doc_id, lang,
               CAST(len(toks) AS INT) AS n_tokens,
               CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE)
                   / len(toks) AS mean_len,
               CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS ttr,
               CAST(len(list_filter(toks, x -> x IN ({_STOP_SQL}))) AS INT)
                   AS stop_hits
        FROM t
    )
    SELECT s.doc_id, s.lang, s.n_tokens,
           s.n_tokens >= {GOPHER_MIN_WORDS} AS r_min_words,
           s.mean_len >= {GOPHER_MEAN_LEN_LO}
               AND s.mean_len <= {GOPHER_MEAN_LEN_HI} AS r_mean_len,
           s.ttr >= {GOPHER_MIN_TTR} AS r_type_token,
           CAST(mx.maxtok AS DOUBLE) / s.n_tokens <= {GOPHER_MAX_TOP_FRAC}
               AS r_repetition,
           s.stop_hits >= {GOPHER_MIN_STOP_HITS} AS r_stopwords,
           (s.n_tokens >= {GOPHER_MIN_WORDS}
            AND s.mean_len >= {GOPHER_MEAN_LEN_LO}
            AND s.mean_len <= {GOPHER_MEAN_LEN_HI}
            AND s.ttr >= {GOPHER_MIN_TTR}
            AND CAST(mx.maxtok AS DOUBLE) / s.n_tokens <= {GOPHER_MAX_TOP_FRAC}
            AND s.stop_hits >= {GOPHER_MIN_STOP_HITS}) AS keep
    FROM s JOIN mx ON mx.doc_id = s.doc_id
    """,
)
def text_gopher_quality_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Named-rule quality screen: word count, mean word length, type/token
    ratio, top-token repetition, stopword presence — each a boolean column
    plus the conjunctive `keep`. Everything except the repetition rule is a
    per-row expression (codegen, no shuffle); the top-token count runs as
    explode → (doc, token) count → per-doc max — two keyed aggregations
    that scale with corpus token count (never a per-doc O(n²) array scan,
    which dies on long documents). All ratio comparisons divide exact
    integer sums, so the rule booleans are engine-portable."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", "lang", F.split("text", " ").alias("toks"))
    tok = t.select("doc_id", F.explode("toks").alias("tk"))
    mx = (
        tok.groupBy("doc_id", "tk")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("maxtok"))
    )
    n_tokens = F.size("toks")
    mean_len = (
        F.aggregate(
            F.expr("transform(toks, x -> length(x))"), F.lit(0), lambda a, x: a + x
        ).cast("double")
        / n_tokens
    )
    ttr = F.size(F.array_distinct("toks")).cast("double") / n_tokens
    stop_hits = F.size(F.expr(f"filter(toks, x -> x IN ({_STOP_SQL}))"))
    s = t.select(
        "doc_id",
        "lang",
        n_tokens.cast("int").alias("n_tokens"),
        mean_len.alias("mean_len"),
        ttr.alias("ttr"),
        stop_hits.cast("int").alias("stop_hits"),
    )
    r_min_words = F.col("n_tokens") >= GOPHER_MIN_WORDS
    r_mean_len = (F.col("mean_len") >= GOPHER_MEAN_LEN_LO) & (
        F.col("mean_len") <= GOPHER_MEAN_LEN_HI
    )
    r_ttr = F.col("ttr") >= GOPHER_MIN_TTR
    r_rep = F.col("maxtok").cast("double") / F.col("n_tokens") <= GOPHER_MAX_TOP_FRAC
    r_stop = F.col("stop_hits") >= GOPHER_MIN_STOP_HITS
    return s.join(mx, "doc_id").select(
        "doc_id",
        "lang",
        "n_tokens",
        r_min_words.alias("r_min_words"),
        r_mean_len.alias("r_mean_len"),
        r_ttr.alias("r_type_token"),
        r_rep.alias("r_repetition"),
        r_stop.alias("r_stopwords"),
        (r_min_words & r_mean_len & r_ttr & r_rep & r_stop).alias("keep"),
    )


# ---------------------------------------------------------------------------
# Bigram PMI (pointwise mutual information): the classic phrase-mining /
# collocation signal (word2vec-era phrase joining, quality-filter features).
# PMI = ln( p(ab) / (p(a)·p(b)) ) with p(ab) over bigram positions and
# p(a),p(b) over token positions. The arithmetic is ONE shared SQL fragment
# (double-promoted before any product, so neither engine's integer width
# matters) evaluated identically by Spark and DuckDB.
# ---------------------------------------------------------------------------
PMI_MIN_PAIR = 5
PMI_TOP_K = 20
_PMI_EXPR = (
    "CAST(ROUND(LN(CAST(n_pair AS DOUBLE) * n_tokens * n_tokens"
    " / (CAST(n_bigrams AS DOUBLE) * n1 * n2)), 6) AS DOUBLE)"
)


@register(
    "text_bigram_pmi",
    oracle=f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    uni AS (
        SELECT u.tk AS token, COUNT(*) AS n
        FROM t, UNNEST(toks) AS u(tk) GROUP BY u.tk
    ),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS n_tokens FROM uni),
    bi AS (
        SELECT toks[i] AS w1, toks[i+1] AS w2, COUNT(*) AS n_pair
        FROM t, UNNEST(range(1, len(toks))) AS r(i)
        WHERE len(toks) >= 2
        GROUP BY 1, 2
    ),
    btot AS (SELECT CAST(SUM(n_pair) AS BIGINT) AS n_bigrams FROM bi)
    SELECT w1, w2, n_pair, pmi FROM (
        SELECT b.w1, b.w2, b.n_pair,
               {_PMI_EXPR.replace('n1', 'u1.n').replace('n2', 'u2.n')} AS pmi
        FROM bi b
        JOIN uni u1 ON u1.token = b.w1
        JOIN uni u2 ON u2.token = b.w2
        CROSS JOIN tot CROSS JOIN btot
        WHERE b.n_pair >= {PMI_MIN_PAIR}
    ) s
    ORDER BY pmi DESC, w1, w2
    LIMIT {PMI_TOP_K}
    """,
)
def text_bigram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top collocations by bigram PMI. Plan: one tokenization pass feeds
    both the unigram and bigram aggregations (two keyed shuffles), the two
    scalar totals broadcast back, and the unigram joins are
    vocabulary-sized. The PMI arithmetic promotes to DOUBLE before any
    product — counts at 100 TB overflow both engines' 64-bit integers, and
    Spark wraps silently where DuckDB widens, so the promotion is a
    correctness requirement, not a nicety."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", F.split("text", " ").alias("toks"))
    tok = t.select(F.explode("toks").alias("token"))
    # localCheckpoint the vocab-sized count tables: uni feeds the total and
    # both unigram join legs, bi feeds its total and the scoring filter —
    # un-checkpointed, each reference replays the corpus tokenization.
    uni = tok.groupBy("token").agg(F.count("*").alias("n")).transform(materialize)
    tot = uni.agg(F.sum("n").cast("bigint").alias("n_tokens"))
    # size<2 guard: Spark's sequence(0, size-2) DESCENDS when size<2
    # (emitting [0,-1]) instead of returning empty like DuckDB's range.
    bi = (
        t.filter(F.size("toks") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(0, size(toks) - 2),"
                    " i -> struct(toks[i] AS w1, toks[i+1] AS w2))"
                )
            ).alias("p")
        )
        .select("p.w1", "p.w2")
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("n_pair"))
        .transform(materialize)
    )
    btot = bi.agg(F.sum("n_pair").cast("bigint").alias("n_bigrams"))
    u1 = uni.select(F.col("token").alias("w1"), F.col("n").alias("n1"))
    u2 = uni.select(F.col("token").alias("w2"), F.col("n").alias("n2"))
    scored = (
        bi.filter(F.col("n_pair") >= PMI_MIN_PAIR)
        .join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(btot))
        .select("w1", "w2", "n_pair", F.expr(_PMI_EXPR).alias("pmi"))
    )
    return scored.orderBy(F.desc("pmi"), F.asc("w1"), F.asc("w2")).limit(PMI_TOP_K)


@register(
    "text_langid_confusion",
    oracle="WITH " + _LANGID_CTES.format(n_profile=N_PROFILE) + """
    , tot AS (SELECT lang, COUNT(*) AS n_true FROM preds GROUP BY lang)
    SELECT p.lang, p.predicted_lang, COUNT(*) AS n_docs,
           CAST(ROUND(CAST(COUNT(*) AS DOUBLE) / t.n_true, 6) AS DOUBLE)
               AS share
    FROM preds p JOIN tot t ON t.lang = p.lang
    GROUP BY p.lang, p.predicted_lang, t.n_true
    """,
)
def text_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the trigram classifier against the labeled lang
    column — classifier EVALUATION as a registered, hash-checked query
    (the diagonal share is per-language recall; off-diagonal rows name the
    confusable pairs a mixture-rebalancing pipeline must care about).
    Composes the classifier unchanged and adds two |langs|²-bounded
    aggregations. The prediction frame is localCheckpointed — the per-lang
    totals and the confusion groupBy each reference it, and without the
    checkpoint both replay the whole profile-learning classifier."""
    preds = text_langid_ngram(spark, sf_dir).transform(materialize)
    tot = preds.groupBy("lang").agg(F.count("*").alias("n_true"))
    return (
        preds.join(F.broadcast(tot), "lang")
        .groupBy("lang", "predicted_lang", "n_true")
        .agg(F.count("*").alias("n_docs"))
        .select(
            "lang",
            "predicted_lang",
            "n_docs",
            F.round(F.col("n_docs").cast("double") / F.col("n_true"), 6)
            .cast("double")
            .alias("share"),
        )
    )


# ---------------------------------------------------------------------------
# Zipf-law fit: OLS slope of ln(freq) on ln(rank) over the token frequency
# table. Natural corpora fit slope ≈ −1; synthetic/spammy/templated corpora
# bend the curve — a one-row QA signal for ingested crawl shards. Moments
# accumulate as 12-digit-rounded DECIMAL terms (the q_user_value_trend
# discipline): exact sums → engine-identical slope.
# ---------------------------------------------------------------------------
_ZDSUM = "CAST(SUM(CAST(ROUND({term}, 12) AS DECIMAL(38,12))) AS DOUBLE)"


@register(
    "text_zipf_fit",
    oracle=f"""
    WITH freq AS (
        SELECT t AS token, COUNT(*) AS n
        FROM documents, UNNEST(string_split(text, ' ')) AS u(t)
        GROUP BY t
    ),
    ranked AS (
        SELECT ROUND(LN(ROW_NUMBER() OVER (ORDER BY n DESC, token)), 9) AS x,
               ROUND(LN(n), 9) AS y
        FROM freq
    ),
    m AS (
        SELECT COUNT(*) AS nv,
               {_ZDSUM.format(term='x')} AS sx,
               {_ZDSUM.format(term='y')} AS sy,
               {_ZDSUM.format(term='x * x')} AS sxx,
               {_ZDSUM.format(term='x * y')} AS sxy
        FROM ranked
    )
    SELECT CAST(nv AS BIGINT) AS n_vocab,
           CAST(ROUND((nv * sxy - sx * sy) / (nv * sxx - sx * sx), 6)
                AS DOUBLE) AS zipf_slope,
           CAST(ROUND((sy - (nv * sxy - sx * sy) / (nv * sxx - sx * sx) * sx)
                      / nv, 6) AS DOUBLE) AS intercept
    FROM m
    """,
)
def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row Zipf diagnostic: rank tokens by frequency, regress ln(freq)
    on ln(rank). The rank window runs over the VOCABULARY (bounded at any
    corpus scale), not the corpus; the regression is two exact moment sums.
    Slope far from −1 flags templated or machine-generated shards before
    they enter the mixture."""
    docs = load_table(spark, sf_dir, "documents")
    freq = (
        docs.select(F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("n"))
    )
    ranked = freq.select(
        F.expr(
            "ROUND(LN(ROW_NUMBER() OVER (ORDER BY n DESC, token)), 9)"
        ).alias("x"),
        F.expr("ROUND(LN(n), 9)").alias("y"),
    )
    m = ranked.agg(
        F.count("*").alias("nv"),
        F.expr(_ZDSUM.format(term="x")).alias("sx"),
        F.expr(_ZDSUM.format(term="y")).alias("sy"),
        F.expr(_ZDSUM.format(term="x * x")).alias("sxx"),
        F.expr(_ZDSUM.format(term="x * y")).alias("sxy"),
    )
    slope = "(nv * sxy - sx * sy) / (nv * sxx - sx * sx)"
    return m.select(
        F.col("nv").cast("bigint").alias("n_vocab"),
        F.expr(f"CAST(ROUND({slope}, 6) AS DOUBLE)").alias("zipf_slope"),
        F.expr(f"CAST(ROUND((sy - {slope} * sx) / nv, 6) AS DOUBLE)").alias(
            "intercept"
        ),
    )


# ---------------------------------------------------------------------------
# Bigram-LM perplexity: the stronger sibling of text_unigram_perplexity.
# An add-k-smoothed bigram model trained on the corpus itself scores each
# document's average next-token surprise — repeated boilerplate collapses to
# near-zero NLL while incoherent token salads blow up, a sharper quality
# signal than unigram rarity alone.
# ---------------------------------------------------------------------------
BG_ALPHA = 0.5  # add-k smoothing mass per vocabulary entry

_BG_TOKS_ORACLE = """
    toks AS (
        SELECT t.doc_id, s.i AS ord, t.ftoks[s.i] AS tok
        FROM (SELECT doc_id,
                     list_filter(string_split(text, ' '), x -> x <> '') AS ftoks
              FROM documents) t,
             UNNEST(generate_series(1, len(t.ftoks))) AS s(i)
    )
"""


def _doc_bigrams(docs: DataFrame) -> DataFrame:
    """(doc_id, w1, w2) for each adjacent non-empty-token pair — MAP-ONLY:
    adjacent pairs are zipped inside each document's token array
    (``transform`` over ``sequence`` + 0-based element access) and exploded,
    no positional self-join. The (doc_id, ord) self-join this replaces
    shuffled the full token stream once per bigram-LM plan — at corpus
    scale that was one of the two corpus-sized shuffles; now only the
    per-doc scoring fold shuffles corpus-sized data. The oracles keep the
    self-join formulation (DuckDB runs at sf0.01, where it is free); the
    bigram multiset is identical, so every downstream aggregate is too.

    ``sequence(1, n-1)`` needs the n >= 2 guard: Spark's ``sequence``
    DESCENDS when start > stop, so a 1-token document would yield [1, 0]
    instead of an empty pair list."""
    toks = F.filter(F.split("text", " "), lambda x: x != "")
    pairs = F.expr(
        "transform(sequence(1, size(__toks) - 1),"
        " i -> struct(__toks[i - 1] AS w1, __toks[i] AS w2))"
    )
    return (
        docs.select("doc_id", toks.alias("__toks"))
        .filter(F.size("__toks") >= 2)
        .select("doc_id", F.explode(pairs).alias("__p"))
        .select("doc_id", F.col("__p.w1").alias("w1"), F.col("__p.w2").alias("w2"))
    )


@register(
    "text_bigram_perplexity",
    oracle=f"""
    WITH {_BG_TOKS_ORACLE},
    vocab AS (SELECT COUNT(DISTINCT tok) AS v FROM toks),
    bigrams AS (
        SELECT a.doc_id, a.tok AS w1, b.tok AS w2
        FROM toks a JOIN toks b ON b.doc_id = a.doc_id AND b.ord = a.ord + 1
    ),
    bg AS (SELECT w1, w2, COUNT(*) AS c12 FROM bigrams GROUP BY 1, 2),
    ctx AS (SELECT w1, SUM(c12) AS c1 FROM bg GROUP BY 1),
    doc_bg AS (
        SELECT doc_id, w1, w2, COUNT(*) AS tf FROM bigrams GROUP BY 1, 2, 3
    ),
    nll AS (
        SELECT d.doc_id,
               CAST(SUM(d.tf) AS BIGINT) AS n_bigrams,
               SUM(d.tf * CAST(ROUND(LN(
                       (CAST(c.c1 AS DOUBLE) + {BG_ALPHA} * v.v)
                       / (CAST(b.c12 AS DOUBLE) + {BG_ALPHA})), 6)
                   AS DECIMAL(20,6))) AS nll_sum
        FROM doc_bg d
        JOIN bg b ON b.w1 = d.w1 AND b.w2 = d.w2
        JOIN ctx c ON c.w1 = d.w1
        CROSS JOIN vocab v
        GROUP BY d.doc_id
    )
    SELECT doc_id, CAST(n_bigrams AS INT) AS n_bigrams,
           CAST((2 * CAST(nll_sum * 1000000 AS BIGINT) + n_bigrams)
                // (2 * n_bigrams) AS DOUBLE) / 1000000.0 AS avg_nll,
           CAST(ROUND(EXP(CAST((2 * CAST(nll_sum * 1000000 AS BIGINT)
                + n_bigrams) // (2 * n_bigrams) AS DOUBLE) / 1000000.0), 4)
               AS DOUBLE) AS perplexity
    FROM nll
    """,
)
def text_bigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document perplexity under an add-k-smoothed bigram LM trained on
    the corpus: p(w2|w1) = (c(w1,w2)+k)/(c(w1)+k·V) over adjacent non-empty
    whitespace tokens. The bigram refinement of ``text_unigram_perplexity``
    — context-conditional surprise separates fluent-but-rare text (low
    bigram NLL) from shuffled-token noise (high), which unigram statistics
    cannot.

    Determinism: per-bigram -ln p is rounded to 6 digits and accumulated as
    DECIMAL(20,6) weighted by exact integer term frequencies (house libm
    rule, see the unigram twin at :func:`text_unigram_perplexity`).

    Scale shape: bigrams assemble MAP-SIDE (`_doc_bigrams` zips adjacent
    pairs inside the token array — no (doc_id, ord) positional self-join
    and no corpus-sized shuffle), then two keyed
    aggregations (bigram + context counts — LM-sized, not corpus-sized) and
    a per-doc join against the LM tables with no broadcast hint (a
    web-scale bigram table is not broadcastable; AQE picks broadcast while
    it fits). The bigram stream itself is map-only lineage now, so its two
    consumers (LM counts, per-doc tf) re-derive it from the scan instead of
    checkpointing a corpus-sized frame; only the SHUFFLED bg table is
    materialized (it feeds ctx and the scoring join).
    """
    docs = load_table(spark, sf_dir, "documents")
    bigrams = _doc_bigrams(docs)
    vocab = docs.select(
        F.explode(F.filter(F.split("text", " "), lambda x: x != "")).alias("tok")
    ).agg(F.countDistinct("tok").alias("v"))
    bg = bigrams.groupBy("w1", "w2").agg(F.count("*").alias("c12")).transform(materialize)
    ctx = bg.groupBy("w1").agg(F.sum("c12").alias("c1"))
    term = F.round(
        F.log(
            (F.col("c1").cast("double") + BG_ALPHA * F.col("v"))
            / (F.col("c12").cast("double") + BG_ALPHA)
        ),
        6,
    ).cast("decimal(20,6)")
    # Same term-table restructure as the KN sibling — the LM folds into
    # a vocab²-bounded (w1, w2, term) table and the corpus pass is one join
    # + one doc_id fold; sum(tf·term) == sum(term per occurrence) exactly
    # (DECIMAL), count(*) == sum(tf), so values are bit-identical while the
    # corpus-sized (doc_id, w1, w2) doc_bg exchange disappears.
    term_tbl = (
        bg.join(ctx, "w1")
        .crossJoin(F.broadcast(vocab))
        .select("w1", "w2", term.alias("__term"))
    )
    nll = (
        bigrams.join(term_tbl, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_bigrams"),
            F.sum("__term").alias("nll_sum"),
        )
    )
    # tie-proof average — same integer half-up division as the KN sibling.
    avg_nll = F.expr(
        "CAST((2 * CAST(nll_sum * 1000000 AS BIGINT) + n_bigrams)"
        " DIV (2 * n_bigrams) AS DOUBLE) / 1000000.0"
    )
    return nll.select(
        "doc_id",
        F.col("n_bigrams").cast("int").alias("n_bigrams"),
        avg_nll.cast("double").alias("avg_nll"),
        F.round(F.exp(avg_nll), 4).cast("double").alias("perplexity"),
    )


# ---------------------------------------------------------------------------
# Sliding-window document chunking: the context-length splitter that feeds
# long documents to a bounded-context model (embedding or training), with a
# right-aligned final window so every chunk is full-length when the document
# allows it. Pure integer arithmetic -> bit-identical across engines.
# ---------------------------------------------------------------------------
CHUNK_TOKENS = 64  # window length in tokens
CHUNK_STRIDE = 48  # step between window starts (overlap = 64 - 48 = 16)


@register(
    "text_chunk_documents",
    oracle=f"""
    WITH t AS (
        SELECT doc_id,
               list_filter(string_split(text, ' '), x -> x <> '') AS toks
        FROM documents
    ),
    sized AS (
        SELECT doc_id, toks, len(toks) AS n,
               CASE WHEN len(toks) <= {CHUNK_TOKENS} THEN 1
                    ELSE (len(toks) - {CHUNK_TOKENS} + {CHUNK_STRIDE} - 1)
                         // {CHUNK_STRIDE} + 1
               END AS n_chunks
        FROM t WHERE len(toks) >= 1
    ),
    chunks AS (
        SELECT doc_id, n, CAST(s.i AS INT) AS chunk_id,
               CASE WHEN s.i = n_chunks - 1
                    THEN GREATEST(1, n - {CHUNK_TOKENS} + 1)
                    ELSE 1 + s.i * {CHUNK_STRIDE}
               END AS start_tok,
               toks
        FROM sized, UNNEST(generate_series(0, n_chunks - 1)) AS s(i)
    )
    SELECT doc_id, chunk_id, CAST(start_tok AS INT) AS start_tok,
           CAST(LEAST({CHUNK_TOKENS}, n - start_tok + 1) AS INT) AS n_tokens,
           array_to_string(
               toks[start_tok : start_tok
                    + LEAST({CHUNK_TOKENS}, n - start_tok + 1) - 1],
               ' ') AS chunk_text
    FROM chunks
    """,
)
def text_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking: split each document's non-empty token stream
    into {CHUNK_TOKENS}-token windows advancing {CHUNK_STRIDE} tokens per
    step (16-token overlap preserves cross-boundary context), with the LAST
    window right-aligned to the document end so no trailing fragment is
    shorter than necessary — the standard splitter in front of a
    bounded-context embedder. n_chunks = ceil((n−C)/S)+1 is computed in
    integer arithmetic ((n−C+S−1) div S + 1), never float CEIL.

    Scale shape: map-only — tokenize, per-row sequence explode, slice; no
    shuffle anywhere, each chunk row carries its provenance (doc_id,
    chunk_id, start_tok) so downstream dedup/packing can reassemble.
    """
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id", F.filter(F.split("text", " "), lambda x: x != "").alias("toks")
    )
    n = F.size("toks")
    n_chunks = F.when(n <= CHUNK_TOKENS, F.lit(1)).otherwise(
        F.floor((n - CHUNK_TOKENS + CHUNK_STRIDE - 1) / CHUNK_STRIDE).cast("int")
        + 1
    )
    sized = t.filter(n >= 1).select(
        "doc_id", "toks", n.alias("n"), n_chunks.alias("n_chunks")
    )
    chunks = sized.select(
        "doc_id",
        "n",
        "toks",
        F.explode(F.sequence(F.lit(0), F.col("n_chunks") - 1)).alias("chunk_id"),
        F.col("n_chunks"),
    ).select(
        "doc_id",
        "n",
        "toks",
        F.col("chunk_id").cast("int").alias("chunk_id"),
        F.when(
            F.col("chunk_id") == F.col("n_chunks") - 1,
            F.greatest(F.lit(1), F.col("n") - CHUNK_TOKENS + 1),
        )
        .otherwise(1 + F.col("chunk_id") * CHUNK_STRIDE)
        .alias("start_tok"),
    )
    chunk_len = F.least(F.lit(CHUNK_TOKENS), F.col("n") - F.col("start_tok") + 1)
    return chunks.select(
        "doc_id",
        "chunk_id",
        F.col("start_tok").cast("int").alias("start_tok"),
        chunk_len.cast("int").alias("n_tokens"),
        F.array_join(
            F.slice(F.col("toks"), F.col("start_tok"), chunk_len), " "
        ).alias("chunk_text"),
    )


# ---------------------------------------------------------------------------
# Interpolated Kneser-Ney bigram perplexity: the production smoothing for
# count-based LMs (Kneser & Ney '95; Chen & Goodman '98 found it dominant).
# Differs from add-k in BOTH terms: seen mass is absolutely discounted
# (max(c-D,0)/c1), and the redistributed mass follows the CONTINUATION
# distribution (how many contexts a word completes) rather than raw
# frequency — "Francisco" is frequent but only ever follows "San", so KN
# scores it near-zero in fresh contexts where add-k badly overrates it.
# ---------------------------------------------------------------------------
KN_DISCOUNT = 0.75

_KN_TERM = (
    "ROUND(-LN((CAST(c12 AS DOUBLE) - {d}) / CAST(c1 AS DOUBLE)"
    " + {d} * CAST(nf AS DOUBLE) / CAST(c1 AS DOUBLE)"
    " * CAST(np AS DOUBLE) / CAST(tt AS DOUBLE)), 6)"
).format(d=KN_DISCOUNT)


@register(
    "text_bigram_kn_perplexity",
    oracle=f"""
    WITH {_BG_TOKS_ORACLE},
    bigrams AS (
        SELECT a.doc_id, a.tok AS w1, b.tok AS w2
        FROM toks a JOIN toks b ON b.doc_id = a.doc_id AND b.ord = a.ord + 1
    ),
    bg AS (SELECT w1, w2, COUNT(*) AS c12 FROM bigrams GROUP BY 1, 2),
    ctx AS (SELECT w1, SUM(c12) AS c1 FROM bg GROUP BY 1),
    fanout AS (SELECT w1, COUNT(*) AS nf FROM bg GROUP BY 1),
    cont AS (SELECT w2, COUNT(*) AS np FROM bg GROUP BY 1),
    types AS (SELECT COUNT(*) AS tt FROM bg),
    doc_bg AS (
        SELECT doc_id, w1, w2, COUNT(*) AS tf FROM bigrams GROUP BY 1, 2, 3
    ),
    nll AS (
        SELECT d.doc_id,
               CAST(SUM(d.tf) AS BIGINT) AS n_bigrams,
               SUM(d.tf * CAST({_KN_TERM} AS DECIMAL(20,6))) AS nll_sum
        FROM doc_bg d
        JOIN bg b ON b.w1 = d.w1 AND b.w2 = d.w2
        JOIN ctx c ON c.w1 = d.w1
        JOIN fanout f ON f.w1 = d.w1
        JOIN cont p ON p.w2 = d.w2
        CROSS JOIN types t
        GROUP BY d.doc_id
    )
    SELECT doc_id, CAST(n_bigrams AS INT) AS n_bigrams,
           CAST((2 * CAST(nll_sum * 1000000 AS BIGINT) + n_bigrams)
                // (2 * n_bigrams) AS DOUBLE) / 1000000.0 AS avg_nll,
           CAST(ROUND(EXP(CAST((2 * CAST(nll_sum * 1000000 AS BIGINT)
                + n_bigrams) // (2 * n_bigrams) AS DOUBLE) / 1000000.0), 4)
               AS DOUBLE) AS kn_perplexity
    FROM nll
    """,
)
def text_bigram_kn_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document perplexity under an interpolated Kneser-Ney bigram LM
    trained on the corpus: p(w2|w1) = max(c12−D,0)/c1 + D·N1+(w1·)/c1 ·
    N1+(·w2)/|bigram types|, D = {KN_DISCOUNT}. Scored bigrams always have
    c12 ≥ 1 (the LM trains on the corpus it scores), so the discounted
    term never hits the max()-floor and the expression stays smooth.

    Determinism: per-bigram NLL rounds to 6 digits then accumulates as
    DECIMAL(20,6) weighted by exact term frequencies (house libm rule —
    both engines' ln agree well past 6 digits; the DOUBLE expression text
    is identical so evaluation order is too).

    Scale shape: identical to :func:`text_bigram_perplexity` — the LM
    tables (bigram; context+fan-out fused into one w1-keyed aggregate;
    continuation) are vocabulary²-bounded aggregates with map-side combine,
    pre-joined into ONE per-bigram term table so the corpus-sized
    scoring pass is a single (w1,w2)-keyed join (no broadcast hint — AQE
    decides while the LM fits) feeding the per-doc fold, whose exchange
    carries only (doc_id, partial count, partial DECIMAL sum) after
    map-side combine. Bigrams assemble map-side (`_doc_bigrams`; no
    tokenize-position self-join), so the bigram stream is
    map-only lineage its two consumers re-derive from the scan instead of
    checkpointing corpus-sized bytes. The vocab²-sized bg table stays
    materialized (referenced by all four LM aggregates and the term table:
    a plan audit measured 12 scans / 14 exchanges from the compounded
    replays without it)."""
    docs = load_table(spark, sf_dir, "documents")
    bigrams = _doc_bigrams(docs)
    bg = bigrams.groupBy("w1", "w2").agg(F.count("*").alias("c12")).transform(materialize)
    # context total and fan-out share the w1 grouping: ONE aggregation (one
    # exchange over bg, one join in the scoring plan) computes both — the
    # values are identical to the former separate ctx/fanout aggregates, so
    # every downstream number (and the oracle hash) is unchanged (guide
    # §2.4: operations keyed the same way share one exchange).
    ctx_nf = bg.groupBy("w1").agg(
        F.sum("c12").alias("c1"), F.count("*").alias("nf")
    )
    # bigram words are never null; the filter states the one the join below
    # infers, so the join's cont and the type count share one exchange
    cont = bg.filter(F.col("w2").isNotNull()).groupBy("w2").agg(
        F.count("*").alias("np")
    )
    # every bigram type is counted once in its w2's np, so sum(np) is the
    # type count: an exact bigint, read off the vocabulary-sized cont
    # instead of another aggregate pass over bg
    types = cont.agg(F.sum("np").alias("tt"))
    # The whole LM folds into one vocab²-bounded per-bigram term table;
    # the corpus-sized pass is then a single join + one doc_id fold. The
    # former doc_bg aggregate shuffled the corpus-sized (doc_id, w1, w2)
    # STRING stream just to weight the same per-bigram term by tf — but
    # sum(tf · term) over distinct (doc, w1, w2) == sum(term) over raw
    # occurrences (DECIMAL addition is exact and order-free, and tf·term IS
    # term added tf times), and count(*) == sum(tf); so scoring each
    # occurrence map-side and folding once by doc_id is bit-identical while
    # the only corpus-sized exchange now carries (doc_id, partial count,
    # partial DECIMAL sum) after map-side combine — narrower bytes and one
    # corpus exchange fewer (guide §2.3/§2.4).
    term_tbl = (
        bg.join(ctx_nf, "w1")
        .join(cont, "w2")
        .crossJoin(F.broadcast(types))
        .select("w1", "w2", F.expr(_KN_TERM).cast("decimal(20,6)").alias("__term"))
    )
    nll = (
        bigrams.join(term_tbl, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_bigrams"),
            F.sum("__term").alias("nll_sum"),
        )
    )
    # avg = half-up integer division in micro-nats: the 6-digit DECIMAL sum
    # divided by small n lands on exact 7th-digit midpoints ~1/n of the time,
    # where the engines' double-rounding procedures disagree (observed at
    # sf0.1); (2M + n) DIV (2n) is exact integer arithmetic on both.
    avg_nll = F.expr(
        "CAST((2 * CAST(nll_sum * 1000000 AS BIGINT) + n_bigrams)"
        " DIV (2 * n_bigrams) AS DOUBLE) / 1000000.0"
    )
    return nll.select(
        "doc_id",
        F.col("n_bigrams").cast("int").alias("n_bigrams"),
        avg_nll.alias("avg_nll"),
        F.round(F.exp(avg_nll), 4).cast("double").alias("kn_perplexity"),
    )


# ---------------------------------------------------------------------------
# Held-out perplexity: the leakage-safe LM evaluation. The in-corpus
# perplexity filters above train and score on the same documents (right for
# outlier screening, wrong as a quality METRIC — memorization scores 0);
# this one trains the add-k bigram LM on the deterministic train split only
# and scores the test split, with unseen contexts/bigrams smoothed to
# alpha/(alpha*V). The number a data-mixture experiment actually reports.
# ---------------------------------------------------------------------------


def _heldout_oracle() -> str:
    from csv_parquet_s3_spark.operators.sampling import (
        TRAIN_PCT,
        VALID_PCT,
        _bucket_expr,
    )

    bucket = _bucket_expr("md5(CAST(d.doc_id AS VARCHAR))")
    return f"""
    WITH {_BG_TOKS_ORACLE},
    split AS (
        SELECT d.doc_id, {bucket} AS b FROM documents d
    ),
    tr_bigrams AS (
        SELECT a.tok AS w1, c.tok AS w2
        FROM toks a
        JOIN toks c ON c.doc_id = a.doc_id AND c.ord = a.ord + 1
        JOIN split s ON s.doc_id = a.doc_id AND s.b < {TRAIN_PCT}
    ),
    bg AS (SELECT w1, w2, COUNT(*) AS c12 FROM tr_bigrams GROUP BY 1, 2),
    ctx AS (SELECT w1, SUM(c12) AS c1 FROM bg GROUP BY 1),
    vocab AS (
        SELECT COUNT(DISTINCT a.tok) AS v
        FROM toks a JOIN split s ON s.doc_id = a.doc_id AND s.b < {TRAIN_PCT}
    ),
    te_bigrams AS (
        SELECT a.doc_id, a.tok AS w1, c.tok AS w2
        FROM toks a
        JOIN toks c ON c.doc_id = a.doc_id AND c.ord = a.ord + 1
        JOIN split s ON s.doc_id = a.doc_id AND s.b >= {TRAIN_PCT + VALID_PCT}
    ),
    doc_bg AS (
        SELECT doc_id, w1, w2, COUNT(*) AS tf FROM te_bigrams GROUP BY 1, 2, 3
    ),
    nll AS (
        SELECT d.doc_id,
               CAST(SUM(d.tf) AS BIGINT) AS n_bigrams,
               SUM(d.tf * CAST(ROUND(LN(
                       (CAST(COALESCE(c.c1, 0) AS DOUBLE) + {BG_ALPHA} * v.v)
                       / (CAST(COALESCE(b.c12, 0) AS DOUBLE) + {BG_ALPHA})), 6)
                   AS DECIMAL(20,6))) AS nll_sum
        FROM doc_bg d
        LEFT JOIN bg b ON b.w1 = d.w1 AND b.w2 = d.w2
        LEFT JOIN ctx c ON c.w1 = d.w1
        CROSS JOIN vocab v
        GROUP BY d.doc_id
    )
    SELECT doc_id, CAST(n_bigrams AS INT) AS n_bigrams,
           CAST((2 * CAST(nll_sum * 1000000 AS BIGINT) + n_bigrams)
                // (2 * n_bigrams) AS DOUBLE) / 1000000.0 AS avg_nll,
           CAST(ROUND(EXP(CAST((2 * CAST(nll_sum * 1000000 AS BIGINT)
                + n_bigrams) // (2 * n_bigrams) AS DOUBLE) / 1000000.0), 4)
               AS DOUBLE) AS heldout_perplexity
    FROM nll
    """


@register("text_heldout_perplexity", oracle=_heldout_oracle())
def text_heldout_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-test-document perplexity under an add-k bigram LM trained ONLY on
    the deterministic train split (`hash_split` buckets, the same md5
    arithmetic as `split_documents_train_test` — so train membership is
    content-stable across engines and appends). Test-only bigrams/contexts
    fall back to the smoothed floor alpha/(alpha*V) via LEFT joins instead
    of being silently dropped — dropping them would report memorization as
    quality, the exact leakage this operator exists to avoid.

    Scale shape: same as `text_bigram_perplexity` (bigrams assemble
    map-side via `_doc_bigrams` — no positional self-join; LM tables are
    vocabulary-bounded aggregates; scoring is a keyed join, AQE picks the
    strategy); the train/test split adds a map-side hash predicate, not a
    shuffle. Tokenize + split is map-only lineage, so the three consumers
    (train LM counts, vocab size, test scoring table) re-derive it from the
    scan instead of checkpointing a corpus-sized token stream; only the
    SHUFFLED bg count table is materialized (referenced by ctx and the
    scoring join)."""
    from csv_parquet_s3_spark.operators.sampling import hash_split

    docs = hash_split(load_table(spark, sf_dir, "documents"), "doc_id")
    tr_docs = docs.filter(F.col("split") == "train").drop("split")
    te_docs = docs.filter(F.col("split") == "test").drop("split")
    bg = (
        _doc_bigrams(tr_docs)
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("c12"))
        .transform(materialize)
    )
    ctx = bg.groupBy("w1").agg(F.sum("c12").alias("c1"))
    vocab = tr_docs.select(
        F.explode(F.filter(F.split("text", " "), lambda x: x != "")).alias("tok")
    ).agg(F.countDistinct("tok").alias("v"))
    term = F.round(
        F.log(
            (F.coalesce(F.col("c1"), F.lit(0)).cast("double") + BG_ALPHA * F.col("v"))
            / (F.coalesce(F.col("c12"), F.lit(0)).cast("double") + BG_ALPHA)
        ),
        6,
    ).cast("decimal(20,6)")
    # Score each TEST bigram occurrence directly instead of first
    # aggregating a (doc_id, w1, w2, tf) frame — the term is a pure function
    # of (c12, c1, v) so it is identical for every occurrence of a bigram,
    # and sum(tf·term) == sum(term per occurrence) exactly (DECIMAL),
    # count(*) == sum(tf); the corpus-scaled doc_bg exchange disappears.
    # The two LEFT joins stay keyed apart (bg on (w1,w2), ctx on w1): an
    # unseen test bigram with a SEEN context must smooth against its real
    # c1, which a single (w1, w2) term table cannot represent.
    nll = (
        _doc_bigrams(te_docs)
        .join(bg, ["w1", "w2"], "left")
        .join(ctx, "w1", "left")
        .crossJoin(F.broadcast(vocab))
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_bigrams"),
            F.sum(term).alias("nll_sum"),
        )
    )
    # tie-proof average: see text_bigram_kn_perplexity (integer half-up
    # division in micro-nats instead of rounding a DECIMAL/int quotient).
    avg_nll = F.expr(
        "CAST((2 * CAST(nll_sum * 1000000 AS BIGINT) + n_bigrams)"
        " DIV (2 * n_bigrams) AS DOUBLE) / 1000000.0"
    )
    return nll.select(
        "doc_id",
        F.col("n_bigrams").cast("int").alias("n_bigrams"),
        avg_nll.alias("avg_nll"),
        F.round(F.exp(avg_nll), 4).cast("double").alias("heldout_perplexity"),
    )


# ---------------------------------------------------------------------------
# RAKE keyword extraction (Rose et al. '10): candidate phrases are maximal
# runs of non-stopword tokens; a word scores deg(w)/freq(w) where deg sums
# the lengths of every phrase it appears in (its within-phrase co-occurrence
# count, self included); a phrase scores the sum of its words' scores. The
# phrase-level complement to TF-IDF (unigram) and PMI (bigram) keywording.
# ---------------------------------------------------------------------------
RAKE_TOP_K = 20


@register(
    "text_rake_keywords",
    oracle=f"""
    WITH toks AS (
        SELECT t.doc_id, s.i AS pos, t.ftoks[s.i] AS tok
        FROM (SELECT doc_id,
                     list_filter(string_split(lower(text), ' '),
                                 x -> x <> '') AS ftoks
              FROM documents) t,
             UNNEST(generate_series(1, len(t.ftoks))) AS s(i)
    ),
    content AS (
        SELECT doc_id, pos, tok,
               pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos)
                   AS grp
        FROM toks WHERE tok NOT IN ({_STOP_SQL})
    ),
    phr AS (
        SELECT doc_id, grp,
               string_agg(tok, ' ' ORDER BY pos) AS phrase,
               COUNT(*) AS plen
        FROM content GROUP BY doc_id, grp
    ),
    wstat AS (
        SELECT c.tok, COUNT(*) AS freq, SUM(p.plen) AS deg
        FROM content c
        JOIN phr p ON p.doc_id = c.doc_id AND p.grp = c.grp
        GROUP BY c.tok
    ),
    wscore AS (
        SELECT tok,
               CAST(ROUND(CAST(deg AS DOUBLE) / freq, 6)
                    AS DECIMAL(20,6)) AS wsc
        FROM wstat
    ),
    pscore AS (
        SELECT p.phrase, p.plen,
               SUM(w.wsc) AS sc
        FROM content c
        JOIN phr p ON p.doc_id = c.doc_id AND p.grp = c.grp
        JOIN wscore w ON w.tok = c.tok
        GROUP BY p.doc_id, p.grp, p.phrase, p.plen
    ),
    agg AS (
        SELECT phrase, CAST(MAX(plen) AS INT) AS n_words,
               COUNT(*) AS n_occurrences,
               CAST(MAX(sc) AS DOUBLE) AS rake_score
        FROM pscore GROUP BY phrase
    )
    SELECT phrase, n_words, CAST(n_occurrences AS BIGINT) AS n_occurrences,
           rake_score, CAST(rn AS INT) AS rnk
    FROM (
        SELECT *, ROW_NUMBER() OVER (ORDER BY rake_score DESC, phrase) AS rn
        FROM agg
    ) t WHERE rn <= {RAKE_TOP_K}
    """,
)
def text_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus top-{RAKE_TOP_K} RAKE keyphrases: stopword-delimited candidate
    phrases scored by summed word degree/frequency ratios. Multi-word
    phrases whose members co-occur in long candidates outrank bare frequent
    unigrams — the property TF-IDF lacks.

    Phrase identity is (doc, island) during scoring — identical texts in
    different docs score identically (deg/freq are corpus-global), so the
    final per-text aggregate is exact, not an average. Per-word scores
    round to 6 digits into DECIMAL before the phrase sum (order-independent
    ⇒ hash-replayable).

    Scale shape: islands via one window over content tokens; all joins are
    keyed on (doc, island) or the word — vocabulary-sized stats frames,
    corpus-sized frames touched a bounded number of times, and a final
    phrase-type aggregate + global top-k ({RAKE_TOP_K} rows through the
    single-partition window after per-partition pre-top-k)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.posexplode(
            F.filter(F.split(F.lower("text"), " "), lambda x: x != "")
        ).alias("p0", "tok"),
    ).select("doc_id", (F.col("p0") + 1).alias("pos"), "tok")
    # localCheckpoint the two shared frames: content feeds the island
    # aggregate and both scoring joins, phr feeds the word stats and the
    # phrase scoring — un-checkpointed, each reference replays the
    # tokenize + stopword-island window (4 scans in a plan audit).
    content = (
        toks.filter(~F.col("tok").isin(*STOPWORDS))
        .withColumn(
            "grp",
            F.col("pos")
            - F.row_number().over(W.partitionBy("doc_id").orderBy("pos")),
        )
        .transform(materialize)
    )
    phr = content.groupBy("doc_id", "grp").agg(
        F.expr(
            "array_join(transform(array_sort(collect_list(struct(pos, tok))),"
            " x -> x.tok), ' ')"
        ).alias("phrase"),
        F.count("*").alias("plen"),
    ).transform(materialize)
    wstat = (
        content.join(phr, ["doc_id", "grp"])
        .groupBy("tok")
        .agg(F.count("*").alias("freq"), F.sum("plen").alias("deg"))
    )
    wscore = wstat.select(
        "tok",
        F.round(F.col("deg").cast("double") / F.col("freq"), 6)
        .cast("decimal(20,6)")
        .alias("wsc"),
    )
    pscore = (
        content.join(phr, ["doc_id", "grp"])
        .join(wscore, "tok")
        .groupBy("doc_id", "grp", "phrase", "plen")
        .agg(F.sum("wsc").alias("sc"))
    )
    agg = pscore.groupBy("phrase").agg(
        F.max("plen").cast("int").alias("n_words"),
        F.count("*").cast("bigint").alias("n_occurrences"),
        F.max("sc").cast("double").alias("rake_score"),
    )
    # Distributed top-k (TakeOrderedAndProject) + rank over the K
    # survivors — not a global rank window over the corpus-sized phrase
    # table.
    wr = W.orderBy(F.desc("rake_score"), "phrase")
    return (
        agg.orderBy(F.desc("rake_score"), "phrase")
        .limit(RAKE_TOP_K)
        .withColumn("rnk", F.row_number().over(wr).cast("int"))
        .select("phrase", "n_words", "n_occurrences", "rake_score", "rnk")
    )
