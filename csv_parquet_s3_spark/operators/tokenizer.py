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

Scale shape: word counting is the only corpus-proportional step (one keyed
aggregate, map-side combined; at real scale the word-frequency table is
Zipf-truncated exactly as here). The top-W words then fit in one row: they
are collected into one array of (wn, syms), and all K rounds run as one
`aggregate` fold over `sequence(1, K)` inside that row. Each round sorts the
frequency-weighted pairs, finds the top pair with one run-length fold, and
rewrites the word array with the greedy merge fold. No round runs a Spark
job of its own and none checkpoints; the merge list attaches downstream via
a one-row broadcast, never a collect.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from csv_parquet_s3_spark.operators.registry import register
from csv_parquet_s3_spark.sources.tables import load_table

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


def _chars(word: str) -> str:
    """SQL: the word column as an array of one-character symbols."""
    return f"transform(sequence(1, length({word})), i -> substr({word}, i, 1))"


# The folds below are SQL text, parsed once by F.expr: built with the Column
# API, every sub-expression is a driver-to-JVM round trip, about 2,800 of
# them per text_bpe_apply_merges build (0.6 s of its 0.8 s on 4 cores). Each
# fold names its lambda variables apart from the others', so nested folds
# never shadow a variable their bodies read.


def _merge_pair(syms: str, a: str, b: str) -> str:
    """SQL: ``syms`` with every (a, b) pair merged greedily, left to right,
    without overlap: a fold whose state is the output so far plus the one
    pending symbol ``prev``; a pending ``a`` followed by ``b`` emits
    ``a||b``."""
    flush = "IF(mp.prev IS NULL, mp.out, concat(mp.out, array(mp.prev)))"
    return f"""aggregate({syms},
        named_struct('out', CAST(array() AS array<string>),
                     'prev', CAST(NULL AS string)),
        (mp, mx) -> IF(mp.prev = {a} AND mx = {b},
            named_struct('out', concat(mp.out, array(concat({a}, {b}))),
                         'prev', CAST(NULL AS string)),
            named_struct('out', {flush}, 'prev', mx)),
        mp -> {flush})"""


def _top_pair(tbl: str) -> str:
    """SQL: the most frequent adjacent symbol pair over the word table
    ``tbl`` (an array of (wn, syms)), weighted by word frequency: a struct
    (a, b, cnt), ties broken on (a, b); ``a`` is null when no word has two
    symbols. The flattened pairs are sorted, so equal pairs form runs and
    come in (a, b) order: one fold sums each run and keeps a run only if it
    beats the best so far, so the first of equal counts wins."""
    pairs = f"""flatten(transform({tbl}, tw -> filter(
        zip_with(tw.syms, slice(tw.syms, 2, size(tw.syms)),
                 (pa, pb) -> named_struct('a', pa, 'b', pb, 'wn', tw.wn)),
        tp -> tp.b IS NOT NULL)))"""
    none = (
        "named_struct('a', CAST(NULL AS string), 'b', CAST(NULL AS string),"
        " 'cnt', CAST(0 AS bigint))"
    )
    best = "IF(tr.run.cnt > tr.top.cnt, tr.run, tr.top)"
    return f"""aggregate(array_sort({pairs}),
        named_struct('top', {none}, 'run', {none}),
        (tr, tq) -> IF(tr.run.a = tq.a AND tr.run.b = tq.b,
            named_struct('top', tr.top, 'run', named_struct(
                'a', tq.a, 'b', tq.b, 'cnt', tr.run.cnt + tq.wn)),
            named_struct('top', {best}, 'run', named_struct(
                'a', tq.a, 'b', tq.b, 'cnt', tq.wn))),
        tr -> {best})"""


_MERGES_TYPE = (
    "array<struct<merge_rank: int, left_sym: string, right_sym: string,"
    " pair_count: bigint>>"
)


def _learn(tbl: str) -> str:
    """SQL: the ranked merge list learned from the word table ``tbl``: all
    ``BPE_MERGES`` rounds as one fold whose state is the rewritten table and
    the merges so far. Each round's top pair is computed once, bound to a
    lambda variable by ``transform(array(top), lt -> ...)[0]``: written
    inline, the pair expression would be copied into every later round. A
    round with no pair empties the table, so no later round learns one."""
    merged = f"""transform(ls.tbl, lw -> named_struct(
        'wn', lw.wn, 'syms', {_merge_pair("lw.syms", "lt.a", "lt.b")}))"""
    ranked = (
        "named_struct('merge_rank', lr, 'left_sym', lt.a, 'right_sym', lt.b,"
        " 'pair_count', lt.cnt)"
    )
    return f"""aggregate(sequence(1, {BPE_MERGES}),
        named_struct('tbl', {tbl}, 'ms', CAST(array() AS {_MERGES_TYPE})),
        (ls, lr) -> transform(array({_top_pair("ls.tbl")}), lt -> IF(lt.a IS NULL,
            named_struct('tbl', filter(ls.tbl, lw -> false), 'ms', ls.ms),
            named_struct('tbl', {merged}, 'ms', concat(ls.ms, array({ranked})))
        ))[0],
        ls -> ls.ms)"""


def _learned_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row, one column ``ms``: the ranked merges learned from the top
    ``BPE_TOP_WORDS`` words of the corpus vocabulary."""
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
    return words.agg(
        F.expr(f"collect_list(named_struct('wn', wn, 'syms', {_chars('word')}))")
        .alias("tbl")
    ).select(F.expr(_learn("tbl")).alias("ms"))


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
    return _learned_merges(spark, sf_dir).select(F.inline("ms"))


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
    ms = _learned_merges(spark, sf_dir)
    doc_toks = docs.select(
        "doc_id",
        F.explode(F.filter(F.split("text", " "), lambda x: x != "")).alias("word"),
    )
    encoded = F.expr(
        f"aggregate(ms, {_chars('word')}, (es, em) -> "
        f"{_merge_pair('es', 'em.left_sym', 'em.right_sym')})"
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
