"""BPE merge learning — tokenizer TRAINING as a distributed query.

`textstats.text_bpe_token_stats` estimates the COST of a fixed pre-tokenizer;
this module learns the merge table itself: the byte-pair-encoding loop
(Sennrich et al. '16) that every modern tokenizer (GPT-2 BPE, SentencePiece
BPE mode) runs over the training corpus. Each round counts adjacent symbol
pairs (weighted by word frequency), picks the most frequent pair, and merges
its non-overlapping left-to-right occurrences; after K rounds the ranked
merge list IS the tokenizer artifact.

The sequential greedy-merge semantics inside a word ("aaa" + merge (a,a) →
["aa","a"], not ["a","aa"] or overlap) is the part engines get wrong: it
looks like a per-word loop, and on the Spark side it IS one — each word is
an array of symbols and a merge is one `aggregate` fold over it, whose state
(out, prev) holds the symbols emitted so far and the one still pending; a
pending `a` followed by `b` emits `a||b` and leaves nothing pending. The
DuckDB oracle states the same rewrite with windows: within each maximal run
of CONSECUTIVE match positions it takes every other position from the first
(odd row-number parity inside the island, islands via the pos − row_number()
gaps-and-islands trick). The two agree: for a ≠ b two matches can never be
adjacent, so every island has one element and both take every match; for
a = b an island is a run of a's and both take every other pair from its
left end. No UDF, no collect; the oracle replays K unrolled rounds of
identical SQL.

Scale shape: pair counting is the only corpus-proportional step (one keyed
aggregate per round, map-side combined; at real scale the word-frequency
table is Zipf-truncated exactly as here). The merge rewrite is a projection
over the word table, one row per word; the top pair attaches via a one-row
broadcast, never a collect. Lineage is localCheckpoint-truncated per round
(house discipline for iterative plans, cf. components.connected_components).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from csv_parquet_s3_spark.operators.registry import register
from csv_parquet_s3_spark.sources.tables import load_table
from csv_parquet_s3_spark.plans.materialize import materialize

BPE_TOP_WORDS = 128  # train on the top-W vocabulary (Zipf truncation)
BPE_MERGES = 5       # merge rounds to learn


def _bpe_words_oracle() -> str:
    return f"""
    words AS (
        SELECT tok AS word, COUNT(*) AS wn
        FROM (SELECT unnest(list_filter(string_split(text, ' '),
                                        x -> x <> '')) AS tok
              FROM documents)
        GROUP BY tok
        ORDER BY wn DESC, word
        LIMIT {BPE_TOP_WORDS}
    ),
    s0 AS (
        SELECT word, wn, CAST(u.i AS BIGINT) AS pos,
               substr(word, CAST(u.i AS INT), 1) AS sym
        FROM words, UNNEST(range(1, length(word) + 1)) AS u(i)
    )"""


def _bpe_round_oracle(r: int) -> str:
    """CTE block for merge round r: pair counts over s{r-1}, the top pair
    t{r}, greedy non-overlapping merge sites via island parity, and the
    rewritten symbol table s{r}."""
    p = r - 1
    return f"""
    pc{r} AS (
        SELECT sym AS a, nxt AS b, SUM(wn) AS cnt
        FROM (SELECT word, wn, sym,
                     lead(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt
              FROM s{p})
        WHERE nxt IS NOT NULL
        GROUP BY sym, nxt
    ),
    t{r} AS (
        SELECT a, b, cnt FROM pc{r}
        ORDER BY cnt DESC, a, b LIMIT 1
    ),
    m{r} AS (
        SELECT s.word, s.wn, s.pos, s.sym,
               lead(s.sym) OVER (PARTITION BY s.word ORDER BY s.pos) AS nxt
        FROM s{p} s
    ),
    mk{r} AS (
        SELECT m.word, m.wn, m.pos, m.sym, t.a, t.b,
               CASE WHEN m.sym = t.a AND m.nxt = t.b THEN 1 ELSE 0 END
                   AS hit
        FROM m{r} m CROSS JOIN t{r} t
    ),
    g{r} AS (
        SELECT word, wn, pos, sym, a, b, hit,
               pos - ROW_NUMBER() OVER (PARTITION BY word, hit ORDER BY pos)
                   AS grp
        FROM mk{r}
    ),
    isl{r} AS (
        SELECT word, wn, pos, sym, a, b, hit,
               CASE WHEN hit = 1 THEN
                   ROW_NUMBER() OVER (PARTITION BY word, grp, hit
                                      ORDER BY pos) % 2
               ELSE 0 END AS take
        FROM g{r}
    ),
    s{r} AS (
        SELECT word, wn,
               ROW_NUMBER() OVER (PARTITION BY word ORDER BY pos) AS pos,
               CASE WHEN take = 1 THEN a || b ELSE sym END AS sym
        FROM isl{r} i
        WHERE NOT EXISTS (
            SELECT 1 FROM isl{r} x
            WHERE x.word = i.word AND x.pos = i.pos - 1 AND x.take = 1)
    )"""


def _bpe_oracle() -> str:
    blocks = [_bpe_words_oracle()]
    blocks += [_bpe_round_oracle(r) for r in range(1, BPE_MERGES + 1)]
    finals = "\n    UNION ALL\n".join(
        f"SELECT {r} AS merge_rank, a AS left_sym, b AS right_sym,"
        f" CAST(cnt AS BIGINT) AS pair_count FROM t{r}"
        for r in range(1, BPE_MERGES + 1)
    )
    return "WITH" + ",".join(blocks) + "\n    " + finals


def _chars(word: str) -> Column:
    """The word column as an array of one-character symbols."""
    return F.expr(
        f"transform(sequence(1, length({word})), i -> substr({word}, i, 1))"
    )


def _top_pair(s: DataFrame) -> DataFrame:
    """The most frequent adjacent symbol pair (a, b, cnt) over the word table
    (wn, syms), weighted by word frequency: a 1-row frame, ties broken on
    (a, b)."""
    pairs = F.zip_with(
        "syms",
        F.slice("syms", 2, F.size("syms")),
        lambda x, y: F.struct(x.alias("a"), y.alias("b")),
    )
    return (
        s.select("wn", F.explode(pairs).alias("p"))
        .filter(F.col("p.b").isNotNull())
        .groupBy("p.a", "p.b")
        .agg(F.sum("wn").alias("cnt"))
        .orderBy(F.desc("cnt"), "a", "b")
        .limit(1)
    )


def _merge_pair(syms: Column, a: Column, b: Column) -> Column:
    """`syms` with every (a, b) pair merged greedily, left to right, without
    overlap: a fold whose state is the output so far plus the one pending
    symbol `prev`; a pending `a` followed by `b` emits `a||b`."""
    none = F.lit(None).cast("string")

    def flush(st: Column) -> Column:
        return F.when(st["prev"].isNull(), st["out"]).otherwise(
            F.concat(st["out"], F.array(st["prev"]))
        )

    def step(st: Column, x: Column) -> Column:
        return F.when(
            (st["prev"] == a) & (x == b),
            F.struct(
                F.concat(st["out"], F.array(F.concat(a, b))).alias("out"),
                none.alias("prev"),
            ),
        ).otherwise(F.struct(flush(st).alias("out"), x.alias("prev")))

    start = F.struct(F.array().cast("array<string>").alias("out"), none.alias("prev"))
    return F.aggregate(syms, start, step, flush)


@register("text_bpe_learn_merges", oracle=_bpe_oracle())
def text_bpe_learn_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learn the first {BPE_MERGES} BPE merges from the corpus vocabulary
    (top {BPE_TOP_WORDS} words by frequency, frequency-weighted pair
    counts): output is the ranked merge table (merge_rank, left_sym,
    right_sym, pair_count) — the artifact a tokenizer ships. Round r's
    counts see round r-1's merges, so learned symbols compose (e.g. 'e'+'s'
    then 'es'+'t'). Ties break by (count DESC, pair lexicographic) —
    deterministic on both engines; the oracle unrolls the same {BPE_MERGES}
    rounds as chained CTEs, stating the same greedy merge as island parity.
    """
    docs = load_table(spark, sf_dir, "documents")
    words = (
        docs.select(
            F.explode(F.filter(F.split("text", " "), lambda x: x != "")).alias(
                "word"
            )
        )
        .groupBy("word")
        .agg(F.count("*").alias("wn"))
        .orderBy(F.desc("wn"), "word")
        .limit(BPE_TOP_WORDS)
    )
    s = words.select("wn", _chars("word").alias("syms")).transform(materialize)
    merges = None
    for r in range(1, BPE_MERGES + 1):
        top = _top_pair(s)
        row = top.select(
            F.lit(r).alias("merge_rank"),
            F.col("a").alias("left_sym"),
            F.col("b").alias("right_sym"),
            F.col("cnt").cast("bigint").alias("pair_count"),
        )
        merges = row if merges is None else merges.unionByName(row)
        if r < BPE_MERGES:  # the last round's rewrite would have no reader
            merged = _merge_pair(F.col("syms"), F.col("a"), F.col("b"))
            s = (
                s.crossJoin(F.broadcast(top))
                .select("wn", merged.alias("syms"))
                .transform(materialize)
            )
    return merges


# ---------------------------------------------------------------------------
# Apply the learned merges: encode the corpus with the trained tokenizer.
# Real tokenizers encode per DISTINCT WORD and cache (Zipf makes the
# vocabulary tiny next to the corpus), so the merges are applied to the
# distinct-word table and a final join prices every document —
# the corpus itself is touched exactly twice (tokenize, then join+sum).
# ---------------------------------------------------------------------------


def _apply_round_oracle(r: int) -> str:
    """CTE block applying trained merge t{r} to the vocab table v{r-1}
    (same island-parity greedy rewrite as training, pair fixed by t{r})."""
    p = r - 1
    return f"""
    vm{r} AS (
        SELECT v.word, v.pos, v.sym, t.a, t.b,
               CASE WHEN v.sym = t.a
                         AND lead(v.sym) OVER (PARTITION BY v.word
                                               ORDER BY v.pos) = t.b
                    THEN 1 ELSE 0 END AS hit
        FROM v{p} v CROSS JOIN t{r} t
    ),
    vg{r} AS (
        SELECT word, pos, sym, a, b, hit,
               pos - ROW_NUMBER() OVER (PARTITION BY word, hit ORDER BY pos)
                   AS grp
        FROM vm{r}
    ),
    vi{r} AS (
        SELECT word, pos, sym, a, b,
               CASE WHEN hit = 1 THEN
                   ROW_NUMBER() OVER (PARTITION BY word, grp, hit
                                      ORDER BY pos) % 2
               ELSE 0 END AS take
        FROM vg{r}
    ),
    v{r} AS (
        SELECT word,
               ROW_NUMBER() OVER (PARTITION BY word ORDER BY pos) AS pos,
               CASE WHEN take = 1 THEN a || b ELSE sym END AS sym
        FROM vi{r} i
        WHERE NOT EXISTS (
            SELECT 1 FROM vi{r} x
            WHERE x.word = i.word AND x.pos = i.pos - 1 AND x.take = 1)
    )"""


def _bpe_apply_oracle() -> str:
    blocks = [_bpe_words_oracle()]
    blocks += [_bpe_round_oracle(r) for r in range(1, BPE_MERGES + 1)]
    blocks.append("""
    doc_toks AS (
        SELECT doc_id, tok AS word
        FROM (SELECT doc_id,
                     unnest(list_filter(string_split(text, ' '),
                                        x -> x <> '')) AS tok
              FROM documents)
    ),
    v0 AS (
        SELECT word, CAST(u.i AS BIGINT) AS pos,
               substr(word, CAST(u.i AS INT), 1) AS sym
        FROM (SELECT DISTINCT word FROM doc_toks) w,
             UNNEST(range(1, length(word) + 1)) AS u(i)
    )""")
    blocks += [_apply_round_oracle(r) for r in range(1, BPE_MERGES + 1)]
    blocks.append(f"""
    wlen AS (
        SELECT word, COUNT(*) AS n_syms, MAX(pos) AS _mx
        FROM v{BPE_MERGES} GROUP BY word
    )""")
    return (
        "WITH"
        + ",".join(blocks)
        + """
    SELECT d.doc_id,
           CAST(SUM(length(d.word)) AS BIGINT) AS n_chars,
           CAST(SUM(w.n_syms) AS BIGINT) AS n_bpe_tokens,
           CAST(ROUND(CAST(SUM(w.n_syms) AS DOUBLE)
                / SUM(length(d.word)), 6) AS DOUBLE) AS tokens_per_char
    FROM doc_toks d JOIN wlen w ON w.word = d.word
    GROUP BY d.doc_id
    """
    )


@register("text_bpe_apply_merges", oracle=_bpe_apply_oracle())
def text_bpe_apply_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encode every document with the merges learned by
    `text_bpe_learn_merges`: per doc, character count, BPE token count
    after the {BPE_MERGES} ranked merges, and tokens-per-char — the
    fertility number that decides whether a tokenizer is worth shipping
    for a corpus.

    Scale shape: the merges rewrite the DISTINCT-WORD table (Zipf-bounded,
    not corpus-bounded) — the encode-with-cache trick every production
    tokenizer uses; the corpus appears only in the initial tokenize and the
    final word→doc join+sum (two shuffles on word/doc). The ranked merges
    attach as one broadcast row and all {BPE_MERGES} apply in one projection:
    an outer fold over the merge list whose step is training's greedy fold.
    Fewer than {BPE_MERGES} learned merges give no rows, as in the oracle.
    """
    docs = load_table(spark, sf_dir, "documents")
    ms = text_bpe_learn_merges(spark, sf_dir).agg(
        F.sort_array(
            F.collect_list(F.struct("merge_rank", "left_sym", "right_sym"))
        ).alias("ms")
    )
    doc_toks = docs.select(
        "doc_id",
        F.explode(F.filter(F.split("text", " "), lambda x: x != "")).alias("word"),
    )
    encoded = F.aggregate(
        "ms",
        _chars("word"),
        lambda syms, m: _merge_pair(syms, m["left_sym"], m["right_sym"]),
    )
    wlen = (
        doc_toks.select("word")
        .distinct()
        .crossJoin(F.broadcast(ms))
        .filter(F.size("ms") == BPE_MERGES)
        .select("word", F.size(encoded).alias("n_syms"))
    )
    return (
        doc_toks.join(wlen, "word")
        .groupBy("doc_id")
        .agg(
            F.sum(F.length("word")).cast("bigint").alias("n_chars"),
            F.sum("n_syms").cast("bigint").alias("n_bpe_tokens"),
            F.round(
                F.sum("n_syms").cast("double") / F.sum(F.length("word")), 6
            )
            .cast("double")
            .alias("tokens_per_char"),
        )
    )
