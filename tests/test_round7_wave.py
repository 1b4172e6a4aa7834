"""Round-7 additions: BM25 stored-index serving and truncated-RRF fusion.

The oracle parity of both registered entries is covered by the
parameterized test_queries_oracle sweep; these tests pin the BEHAVIOR the
entries claim — index lifecycle (fingerprint guard, serving ≡ end-to-end)
and physical plan shape (WindowGroupLimit partial top-N).
"""

from __future__ import annotations

import json
import os

import pytest

from tests.conftest import SF_SMOKE


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


class TestBM25FromIndex:
    def test_serving_equals_end_to_end(self, spark):
        from csv_parquet_s3_spark.operators.retrieval import (
            retrieval_bm25_from_index,
            retrieval_bm25_topk,
        )

        assert _rows(retrieval_bm25_from_index(spark, SF_SMOKE)) == _rows(
            retrieval_bm25_topk(spark, SF_SMOKE)
        )

    def test_fingerprint_guard_skips_rebuild(self, spark):
        from csv_parquet_s3_spark.operators.retrieval import (
            _bm25_index_root,
            ensure_bm25_index,
        )

        root = ensure_bm25_index(spark, SF_SMOKE)
        # versioned layout: ensure returns the ACTIVE VERSION dir under
        # the warehouse root (maintenance.ensure_published)
        assert os.path.dirname(root) == _bm25_index_root(SF_SMOKE)
        marker = os.path.join(root, "_INDEX_META.json")
        before = os.stat(marker).st_mtime_ns
        assert ensure_bm25_index(spark, SF_SMOKE) == root
        assert os.stat(marker).st_mtime_ns == before, "matching fingerprint rebuilt"

    def test_stale_fingerprint_triggers_rebuild(self, spark):
        from csv_parquet_s3_spark.operators.retrieval import ensure_bm25_index

        root = ensure_bm25_index(spark, SF_SMOKE)
        marker = os.path.join(root, "_INDEX_META.json")
        with open(marker) as fh:
            meta = json.load(fh)
        meta["mtime_ns"] = 0
        with open(marker, "w") as fh:
            json.dump(meta, fh)
        root2 = ensure_bm25_index(spark, SF_SMOKE)
        # a rebuild publishes a NEW version dir; the stale one is KEPT one
        # generation (keep-one vacuum, r09 advisory) for in-flight readers
        assert root2 != root and os.path.dirname(root2) == os.path.dirname(root)
        assert os.path.exists(root), "previous generation vacuumed too early"
        with open(os.path.join(root2, "_INDEX_META.json")) as fh:
            assert json.load(fh)["mtime_ns"] != 0, "stale fingerprint not rebuilt"

    @pytest.mark.slow
    def test_incremental_equals_full_build(self, spark, tmp_path):
        """update_bm25_index merging the odd half into an even-half index
        must serve exactly the full-corpus ranking (and exercise both the
        insert path and the collection-statistics refresh)."""
        from csv_parquet_s3_spark.operators.retrieval import (
            retrieval_bm25_incremental,
            retrieval_bm25_topk,
        )

        assert _rows(retrieval_bm25_incremental(spark, SF_SMOKE)) == _rows(
            retrieval_bm25_topk(spark, SF_SMOKE)
        )

        # re-ingest path: updating with docs already in the index must
        # REPLACE their tf rows, not duplicate them
        import pyspark.sql.functions as F

        from csv_parquet_s3_spark.operators.retrieval import (
            _bm25_serve_from,
            build_bm25_index,
            update_bm25_index,
        )
        from csv_parquet_s3_spark.sources.tables import load_table

        docs = load_table(spark, SF_SMOKE, "documents")
        idx = str(tmp_path / "bm25_reingest")
        build_bm25_index(spark, docs, idx)
        baseline = _rows(_bm25_serve_from(spark, idx))
        n_upd, n_ins = update_bm25_index(
            spark, docs.filter(F.col("doc_id") < 10), idx
        )
        assert n_upd == 10 and n_ins == 0
        assert _rows(_bm25_serve_from(spark, idx)) == baseline

    def test_index_layout(self, spark):
        """The four artifacts the serving plan reads must exist as parquet."""
        from csv_parquet_s3_spark.operators.retrieval import ensure_bm25_index

        root = ensure_bm25_index(spark, SF_SMOKE)
        for part in ("doc_tf", "dl", "df", "stats"):
            assert os.path.isdir(os.path.join(root, part)), part
        stats = spark.read.parquet(f"{root}/stats").collect()
        assert len(stats) == 1 and stats[0]["n_docs"] > 0
        assert stats[0]["avgdl"] > 0


class TestMinhashBatchVsIndex:
    def test_probe_pairs_are_the_mixed_parity_slice(self, spark):
        """Probing the even-half index with the odd batch must find exactly
        the odd↔even pairs of the full-corpus run — no pair invented, none
        lost at the index boundary."""
        from csv_parquet_s3_spark.operators.dedup import dedup_minhash_lsh_pairs
        from csv_parquet_s3_spark.operators.minhash_index import (
            dedup_minhash_batch_vs_index,
        )

        full = {
            (r.doc_id_a, r.doc_id_b, r.jaccard)
            for r in dedup_minhash_lsh_pairs(spark, SF_SMOKE).collect()
        }
        expected = {
            (a, b, j) if a % 2 == 1 else (b, a, j)
            for (a, b, j) in full
            if (a % 2) != (b % 2)
        }
        got = {
            (r.new_doc_id, r.index_doc_id, r.jaccard)
            for r in dedup_minhash_batch_vs_index(spark, SF_SMOKE).collect()
        }
        assert got == expected


class TestStreamLeftOuter:
    @pytest.mark.slow
    def test_null_rows_and_eviction_cutoff(self, spark):
        """The drained outer join must contain NULL-padded unconverted
        clicks, no sentinel rows, and — the semantics under test — NO
        null-padded click whose no-more-matches bound (click_ts + 1h)
        reaches the final watermark (max ts − 30 min): those are still in
        state when the drain terminates."""
        from csv_parquet_s3_spark.operators.streaming_batch import (
            stream_click_purchase_left_outer,
        )
        from csv_parquet_s3_spark.sources.tables import load_table
        import pyspark.sql.functions as F

        out = stream_click_purchase_left_outer(spark, SF_SMOKE)
        rows = out.collect()
        assert rows
        assert all(r.user_id >= 0 for r in rows), "sentinel row leaked"
        nulls = [r for r in rows if r.purchase_ts is None]
        matched = [r for r in rows if r.purchase_ts is not None]
        assert nulls and matched, "both outer and inner rows expected"
        for r in nulls:
            assert r.purchase_value is None
        hi = (
            load_table(spark, SF_SMOKE, "events")
            .agg(F.max("ts").alias("hi"))
            .collect()[0]["hi"]
        )
        import datetime

        wm = hi - datetime.timedelta(minutes=30)
        for r in nulls:
            assert r.click_ts + datetime.timedelta(hours=1) < wm, (
                "null row emitted although its bound had not passed the "
                "final watermark"
            )


class TestRRFTopN:
    def test_plan_has_window_group_limit(self, spark):
        """The rank-filter must rewrite both ranker windows into partial
        top-N (WindowGroupLimit) so full-corpus rows never cross the window
        exchange — the physical property that makes truncation a win."""
        from csv_parquet_s3_spark.operators.retrieval import retrieval_hybrid_rrf_topn

        plan = (
            retrieval_hybrid_rrf_topn(spark, SF_SMOKE)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "overlap" in plan and "cos_sim" in plan
        # one Partial+Final pair per ranker leg plus the fusion window
        assert plan.count("WindowGroupLimit") >= 4

    def test_truncation_scores_missing_ranker_as_zero(self, spark, monkeypatch):
        """With a tiny N the two top-N sets diverge: docs present in only
        one ranker must carry a NULL rank on the other and a score equal to
        the single present 1/(K+rank) term."""
        import csv_parquet_s3_spark.operators.retrieval as R

        monkeypatch.setattr(R, "RRF_TOP_N", 3)
        rows = R.retrieval_hybrid_rrf_topn(spark, SF_SMOKE).collect()
        assert rows, "no fused rows"
        one_sided = [r for r in rows if r.lex_rank is None or r.vec_rank is None]
        assert one_sided, "N=3 should leave some candidates in only one ranker"
        for r in rows:
            expect = 0.0
            if r.lex_rank is not None:
                assert 1 <= r.lex_rank <= 3
                expect += 1.0 / (R.RRF_K + r.lex_rank)
            if r.vec_rank is not None:
                assert 1 <= r.vec_rank <= 3
                expect += 1.0 / (R.RRF_K + r.vec_rank)
            assert r.rrf_score == pytest.approx(round(expect, 6), abs=1e-9)

    def test_topn_agrees_with_exact_when_n_covers_corpus(self, spark, monkeypatch):
        """With N raised above the corpus size truncation is a no-op and the
        fused ranking must equal the exact entry's (ranks align; every
        candidate appears in both rankers, so no NULL ranks)."""
        import csv_parquet_s3_spark.operators.retrieval as R

        monkeypatch.setattr(R, "RRF_TOP_N", 10_000_000)
        exact = _rows(R.retrieval_hybrid_rrf(spark, SF_SMOKE))
        topn = _rows(R.retrieval_hybrid_rrf_topn(spark, SF_SMOKE))
        assert exact == topn
