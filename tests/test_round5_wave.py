"""Semantic pins for the round-5 closing wave — properties the differential
oracle can't express (it proves Spark==DuckDB, not that either is RIGHT).

- SRP codes: identical vectors collide at Hamming 0, negated vectors land at
  Hamming 64, and orthogonal vectors sit in between — the θ/π collision law
  of Charikar'02 at its three anchor points.
- Point-in-time join: a fact dated inside version v's validity picks v (not
  the current version), and a fact predating the first version gets NULL —
  the no-look-ahead contract.
- Payload aHash: equal payloads collide; a payload with a brighter second
  half gets exactly the high-half bits.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest


def _hamming(row_a, row_b):
    return (
        bin((row_a["code_hi"] ^ row_b["code_hi"]) & 0xFFFFFFFF).count("1")
        + bin((row_a["code_lo"] ^ row_b["code_lo"]) & 0xFFFFFFFF).count("1")
    )


def test_srp_collision_anchors(spark):
    from csv_parquet_s3_spark.operators.projection import PROJ_IN, srp_codes

    base = [(i % 7) * 0.25 - 0.75 + (i * 0.01) for i in range(PROJ_IN)]
    rows = [
        (0, [float(v) for v in base]),
        (1, [float(v) for v in base]),          # identical
        (2, [float(-v) for v in base]),         # negated
    ]
    emb = spark.createDataFrame(rows, "vec_id: long, embedding: array<float>")
    codes = {r["vec_id"]: r for r in srp_codes(emb, spark).collect()}
    assert _hamming(codes[0], codes[1]) == 0
    # sign(r·(−x)) = −sign(r·x): every bit flips (exact-zero dots excepted;
    # this vector has none — both map to bit 0 would break antipodality)
    assert _hamming(codes[0], codes[2]) == 64


def test_srp_rank_tracks_angle(spark):
    """Among a similar vector (small perturbation) and an unrelated one,
    the similar one must land at smaller Hamming distance."""
    from csv_parquet_s3_spark.operators.projection import PROJ_IN, srp_codes

    base = [((i * 37) % 11) - 5.0 for i in range(PROJ_IN)]
    near = list(base)
    near[0] += 0.5
    near[11] -= 0.5
    far = [((i * 53 + 7) % 13) - 6.0 for i in range(PROJ_IN)]
    emb = spark.createDataFrame(
        [(0, base), (1, near), (2, far)],
        "vec_id: long, embedding: array<float>",
    )
    codes = {r["vec_id"]: r for r in srp_codes(emb, spark).collect()}
    assert _hamming(codes[0], codes[1]) < _hamming(codes[0], codes[2])


def test_pit_join_no_lookahead(spark):
    """Version history: priority A from 2020-01-01, B from 2020-06-01.
    A fact on 2020-03-01 must see A; on 2020-06-01 exactly, B; before
    2020-01-01, NULL — never the current version."""
    from pyspark.sql import Window as W

    from csv_parquet_s3_spark.operators.scd import scd2_from_changes

    changes = spark.createDataFrame(
        [
            (1, "A", "2020-01-01", 10),
            (1, "A", "2020-02-01", 11),
            (1, "B", "2020-06-01", 12),
        ],
        "k: long, attr: string, d: string, tb: long",
    ).select("k", "attr", F.to_date("d").alias("d"), "tb")
    hist = scd2_from_changes(changes, key="k", attr="attr", ts="d", tiebreak="tb")
    probes = spark.createDataFrame(
        [(1, "2019-12-31"), (1, "2020-03-01"), (1, "2020-06-01"), (1, "2021-01-01")],
        "k: long, d: string",
    ).select(
        "k",
        F.to_date("d").alias("t"),
        F.lit(1).alias("kind"),
        F.lit(None).cast("bigint").alias("version"),
        F.lit(None).cast("string").alias("attr"),
    )
    vrows = hist.select(
        F.col("k"),
        F.col("valid_from").alias("t"),
        F.lit(0).alias("kind"),
        "version",
        "attr",
    )
    w = (
        W.partitionBy("k")
        .orderBy("t", "kind", F.col("version").asc_nulls_last())
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    got = {
        str(r["t"]): r["at_time"]
        for r in vrows.unionByName(probes)
        .withColumn("at_time", F.last("attr", ignorenulls=True).over(w))
        .filter(F.col("kind") == 1)
        .collect()
    }
    assert got["2019-12-31"] is None
    assert got["2020-03-01"] == "A"
    assert got["2020-06-01"] == "B"
    assert got["2021-01-01"] == "B"


def test_payload_ahash_blocks(spark):
    """Equal payloads collide; a payload whose second half is strictly
    brighter than its first half sets exactly bits 32..63 (the high word)."""
    from csv_parquet_s3_spark.operators.multimodal import payload_ahash

    bright_tail = ("a" * 64) + ("z" * 64)  # ord z > mean > ord a
    rows = [(0, bright_tail), (1, bright_tail), (2, "q" * 128)]
    docs = spark.createDataFrame(rows, "doc_id: long, text: string").select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )
    codes = {r["doc_id"]: r for r in payload_ahash(docs).collect()}
    assert (codes[0]["ahash_hi"], codes[0]["ahash_lo"]) == (
        codes[1]["ahash_hi"],
        codes[1]["ahash_lo"],
    )
    assert codes[0]["ahash_lo"] == 0
    assert codes[0]["ahash_hi"] == 0xFFFFFFFF
    # constant payload: no block exceeds the mean -> all-zero hash
    assert (codes[2]["ahash_hi"], codes[2]["ahash_lo"]) == (0, 0)


def test_heldout_scores_only_test_split(spark):
    from tests.conftest import SF_CORRECTNESS

    from csv_parquet_s3_spark.operators.sampling import hash_split
    from csv_parquet_s3_spark.operators.textstats import text_heldout_perplexity
    from csv_parquet_s3_spark.sources.tables import load_table

    scored = text_heldout_perplexity(spark, SF_CORRECTNESS)
    docs = hash_split(load_table(spark, SF_CORRECTNESS, "documents"), "doc_id")
    leaked = scored.join(
        docs.filter(F.col("split") != "test").select("doc_id"), "doc_id"
    ).count()
    assert leaked == 0
    assert scored.count() > 0
    bad = scored.filter(
        (F.col("heldout_perplexity") <= 0) | F.col("avg_nll").isNull()
    ).count()
    assert bad == 0


def test_bpe_greedy_merge_semantics(spark):
    """'aaa' + merge (a,a) must yield ['aa','a'] (greedy left-to-right,
    non-overlapping) — the merge fold's contract — and pair counting must
    weigh adjacent pairs by word frequency, skipping one-symbol words."""
    from csv_parquet_s3_spark.operators.tokenizer import _merge_pair, _top_pair

    words = ["aaa", "abab", "aaaa", "aba", "abcd", "a"]
    s = spark.createDataFrame(
        [(w, 1, list(w)) for w in words[:2]] + [("z", 9, ["z"])],
        "word: string, wn: long, syms: array<string>",
    )
    tbl = s.agg(F.collect_list(F.struct("wn", "syms")).alias("tbl"))
    t = tbl.select(F.expr(_top_pair("tbl")).alias("t")).select("t.*").collect()
    # pair counts: (a,a)=2 from 'aaa'; (a,b)=2 from 'abab'; (b,a)=1; the
    # one-symbol word 'z' (wn 9) has no pair despite outweighing the rest.
    # tie (a,a) vs (a,b) breaks lexicographically on b: 'a' < 'b'.
    assert [(r["a"], r["b"], r["cnt"]) for r in t] == [("a", "a", 2)]
    # no word with two symbols: no pair, so learning stops
    no_pair = F.expr(_top_pair("filter(tbl, w -> size(w.syms) = 1)"))
    assert tbl.select(no_pair.alias("t")).first()["t"]["a"] is None

    w = spark.createDataFrame(
        [(x, list(x)) for x in words], "word: string, syms: array<string>"
    )

    def merged(a, b):
        return {
            r["word"]: r["m"]
            for r in w.select(
                "word", F.expr(_merge_pair("syms", f"'{a}'", f"'{b}'")).alias("m")
            ).collect()
        }

    aa, ab = merged("a", "a"), merged("a", "b")
    assert aa["aaa"] == ["aa", "a"]
    assert aa["abab"] == ["a", "b", "a", "b"]
    assert aa["aaaa"] == ["aa", "aa"]
    assert aa["a"] == ["a"]
    assert ab["aba"] == ["ab", "a"]
    # symbols after a merge are kept, in order
    assert ab["abcd"] == ["ab", "c", "d"]
    assert ab["a"] == ["a"]


def test_bpe_merges_compose(spark):
    """Round r's pair counts must see round r-1's merges: learned symbols
    compose into longer units instead of re-counting raw chars."""
    from tests.conftest import SF_CORRECTNESS

    from csv_parquet_s3_spark.operators.tokenizer import text_bpe_learn_merges

    rows = text_bpe_learn_merges(spark, SF_CORRECTNESS).orderBy("merge_rank").collect()
    assert len(rows) == 5
    assert all(r["pair_count"] > 0 for r in rows)
    merged = {r["left_sym"] + r["right_sym"] for r in rows}
    # at least one later merge must consume an earlier merge's output
    assert any(
        (r["left_sym"] in merged or r["right_sym"] in merged)
        and len(r["left_sym"] + r["right_sym"]) > 2
        for r in rows
    ) or all(len(m) == 2 for m in merged)


def test_bpe_single_char_corpus_learns_and_applies_nothing(spark, tmp_path):
    """A corpus whose every word is one character has no pair to merge: both
    BPE queries return no rows in Spark and in their DuckDB oracles (apply
    needs all five ranked merges, on both engines)."""
    import duckdb

    from tests.conftest import SF_CORRECTNESS

    from csv_parquet_s3_spark.operators import ORACLES, QUERIES

    docs = f"{tmp_path}/documents.parquet"
    con = duckdb.connect()
    # DuckDB's optimizer spends about 30 s on the apply oracle's inlined CTE
    # chain; results do not depend on it, and without it the query takes 5 s.
    con.sql("PRAGMA disable_optimizer")
    con.sql(
        "COPY (SELECT * REPLACE (array_to_string(list_transform("
        "string_split(text, ' '), x -> left(x, 1)), ' ') AS text) "
        f"FROM '{SF_CORRECTNESS}/documents.parquet') TO '{docs}' (FORMAT parquet)"
    )
    con.sql(f"CREATE VIEW documents AS SELECT * FROM '{docs}'")
    n_words = con.sql(
        "SELECT count(*) FROM (SELECT unnest(string_split(text, ' ')) AS w "
        "FROM documents) WHERE w <> ''"
    ).fetchone()[0]
    assert n_words > 0
    for name in ("text_bpe_learn_merges", "text_bpe_apply_merges"):
        assert QUERIES[name](spark, str(tmp_path)).count() == 0, name
        assert con.sql(ORACLES[name]).fetchall() == [], name
    con.close()
