"""Round-8 additions: BM25 index maintenance hardening.

Oracle parity of `retrieval_bm25_compacted` is covered by the
parameterized test_queries_oracle sweep; these tests pin the PHYSICAL and
OPERATIONAL properties the r07 verdict/advice demanded:

- compaction restores the doc_id range-sorted doc_tf layout an
  incremental merge rewrite loses (checked via parquet footer min/max —
  the actual pruning property, not a plan string);
- `update_bm25_index` refreshes df/stats monoidally yet lands exactly the
  full rebuild's values (including the new exact `sum_dl`);
- a crash mid-update is DETECTABLE (pending marker → bm25_index_consistent
  False; ensure_bm25_index rebuilds; compact_bm25_index heals);
- every small-table refresh is a staged write + rename-aside swap — the
  table directory never vanishes mid-overwrite.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _docs(spark):
    from csv_parquet_s3_spark.sources.tables import load_table

    return load_table(spark, SF_SMOKE, "documents")


def _doc_id_file_ranges(doc_tf_dir: str) -> list[tuple[int, int]]:
    """(min, max) doc_id per parquet file, off the footer statistics —
    exactly what Spark's file pruning consults."""
    import pyarrow.parquet as pq

    ranges = []
    for f in sorted(os.listdir(doc_tf_dir)):
        if not f.endswith(".parquet") or f.startswith("."):
            continue
        md = pq.ParquetFile(os.path.join(doc_tf_dir, f)).metadata
        idx = {md.schema.column(i).name: i for i in range(md.num_columns)}["doc_id"]
        lo = min(md.row_group(g).column(idx).statistics.min for g in range(md.num_row_groups))
        hi = max(md.row_group(g).column(idx).statistics.max for g in range(md.num_row_groups))
        ranges.append((lo, hi))
    return sorted(ranges)


def _build_half_update_half(spark, tmp_path):
    from csv_parquet_s3_spark.operators.retrieval import (
        build_bm25_index,
        update_bm25_index,
    )

    docs = _docs(spark)
    idx = str(tmp_path / "bm25_half")
    build_bm25_index(spark, docs.filter(F.col("doc_id") % 2 == 0), idx)
    update_bm25_index(spark, docs.filter(F.col("doc_id") % 2 == 1), idx)
    return idx


class TestCompaction:
    def test_compaction_restores_disjoint_doc_id_files(self, spark, tmp_path):
        from csv_parquet_s3_spark.operators.retrieval import compact_bm25_index

        idx = _build_half_update_half(spark, tmp_path)
        compact_bm25_index(spark, idx)
        ranges = _doc_id_file_ranges(f"{idx}/doc_tf")
        assert ranges, "no parquet files after compaction"
        for (_, hi_prev), (lo_next, _) in zip(ranges, ranges[1:]):
            assert hi_prev <= lo_next, f"overlapping doc_id ranges: {ranges}"

    @pytest.mark.slow
    def test_compaction_preserves_served_ranking(self, spark, tmp_path):
        from csv_parquet_s3_spark.operators.retrieval import (
            _bm25_serve_from,
            compact_bm25_index,
        )

        idx = _build_half_update_half(spark, tmp_path)
        before = _rows(_bm25_serve_from(spark, idx))
        compact_bm25_index(spark, idx)
        assert _rows(_bm25_serve_from(spark, idx)) == before

    @pytest.mark.slow
    def test_compaction_exact_stats_equal_monoidal_stats(self, spark, tmp_path):
        """The per-batch monoidal df/stats deltas must land exactly what the
        compaction-time full re-aggregate computes — if these ever diverge,
        either the delta math or the exact refresh is wrong."""
        from csv_parquet_s3_spark.operators.retrieval import compact_bm25_index

        idx = _build_half_update_half(spark, tmp_path)
        df_before = _rows(spark.read.parquet(f"{idx}/df"))
        stats_before = _rows(spark.read.parquet(f"{idx}/stats"))
        compact_bm25_index(spark, idx)
        assert _rows(spark.read.parquet(f"{idx}/df")) == df_before
        assert _rows(spark.read.parquet(f"{idx}/stats")) == stats_before


class TestCrashDetectability:
    def test_pending_marker_flags_inconsistency(self, spark, tmp_path):
        from csv_parquet_s3_spark.operators.retrieval import (
            _BM25_PENDING,
            bm25_index_consistent,
            compact_bm25_index,
        )

        idx = _build_half_update_half(spark, tmp_path)
        assert bm25_index_consistent(idx)
        # simulate a crash between the doc_tf merge and the stats refresh
        with open(os.path.join(idx, _BM25_PENDING), "w") as fh:
            fh.write("crash\n")
        assert not bm25_index_consistent(idx)
        compact_bm25_index(spark, idx)  # exact refresh subsumes the lost delta
        assert bm25_index_consistent(idx)

    def test_ensure_rebuilds_inconsistent_root(self, spark):
        from csv_parquet_s3_spark.operators.retrieval import (
            _BM25_PENDING,
            ensure_bm25_index,
        )

        root = ensure_bm25_index(spark, SF_SMOKE)
        pending = os.path.join(root, _BM25_PENDING)
        with open(pending, "w") as fh:
            fh.write("crash\n")
        root2 = ensure_bm25_index(spark, SF_SMOKE)
        # the inconsistent version is replaced by a freshly published one
        # (and lingers one generation under the keep-one vacuum policy —
        # readers mid-scan on it keep working; the next publish reaps it)
        assert root2 != root and os.path.dirname(root2) == os.path.dirname(root)
        assert os.path.exists(root), "previous generation vacuumed too early"
        assert not os.path.exists(os.path.join(root2, _BM25_PENDING))

    def test_update_requires_layout3_stats(self, spark, tmp_path):
        from csv_parquet_s3_spark.operators.retrieval import update_bm25_index

        import shutil

        idx = _build_half_update_half(spark, tmp_path)
        # a layout-2 index has no sum_dl column
        legacy = spark.read.parquet(f"{idx}/stats").select("n_docs", "avgdl")
        tmp = idx + ".legacy"
        os.makedirs(tmp)
        for t in ("doc_tf", "dl", "df"):
            shutil.copytree(f"{idx}/{t}", f"{tmp}/{t}")
        legacy.write.mode("overwrite").parquet(f"{tmp}/stats")
        with pytest.raises(ValueError, match="sum_dl"):
            update_bm25_index(spark, _docs(spark).limit(3), tmp)


class TestStagedSwaps:
    def test_small_table_refresh_never_removes_target_first(
        self, spark, monkeypatch, tmp_path
    ):
        """_staged_overwrite must build the replacement BESIDE the live
        table: at the moment the swap begins, both staging and target
        exist (rename-aside), so a reader never sees the directory gone."""
        import csv_parquet_s3_spark.maintenance as maintenance

        observed = []
        real_swap = maintenance._atomic_swap

        def spying_swap(staging, final):
            observed.append((os.path.exists(staging), os.path.exists(final)))
            real_swap(staging, final)

        monkeypatch.setattr(maintenance, "_atomic_swap", spying_swap)
        idx = _build_half_update_half(spark, tmp_path)
        assert observed, "update path did not route through _atomic_swap"
        assert all(s and f for s, f in observed)


class TestMapOnlyBigrams:
    """`_doc_bigrams` replaced the (doc_id, ord) positional self-join with a
    map-side array zip in all three bigram-LM operators; the LM entries'
    oracle parity is covered by the sweep — these pin the zip itself against
    a positional-self-join reference on the edge shapes (1-token docs, empty
    text, runs of separators) plus Spark's descending-sequence trap."""

    CASES = [
        (0, "a b c d"),
        (1, "solo"),
        (2, ""),
        (3, "  "),
        (4, "x  y"),          # double space -> empty token filtered out
        (5, "a a a"),         # repeated tokens keep their multiplicity
        (6, " lead trail "),
    ]

    def test_matches_positional_self_join(self, spark):
        from csv_parquet_s3_spark.operators.textstats import _doc_bigrams
        from pyspark.sql import functions as F

        docs = spark.createDataFrame(self.CASES, "doc_id bigint, text string")
        got = sorted(tuple(r) for r in _doc_bigrams(docs).collect())

        toks = docs.select(
            "doc_id",
            F.posexplode(
                F.filter(F.split("text", " "), lambda x: x != "")
            ).alias("ord", "tok"),
        )
        a = toks.select("doc_id", "ord", F.col("tok").alias("w1"))
        b = toks.select(
            "doc_id", (F.col("ord") - 1).alias("ord"), F.col("tok").alias("w2")
        )
        ref = sorted(
            tuple(r)
            for r in a.join(b, ["doc_id", "ord"])
            .select("doc_id", "w1", "w2")
            .collect()
        )
        assert got == ref
        assert (0, "a", "b") in got and (5, "a", "a") in got
        # the n<2 guard: sequence(1, 0) DESCENDS in Spark — without the
        # filter a 1-token doc would emit a phantom pair
        assert not any(r[0] in (1, 2, 3) for r in got)


class TestIndexDelete:
    @pytest.mark.slow
    def test_delete_absent_ids_is_noop(self, spark, tmp_path):
        from csv_parquet_s3_spark.operators.retrieval import delete_from_bm25_index

        idx = _build_half_update_half(spark, tmp_path)
        before = {
            t: _rows(spark.read.parquet(f"{idx}/{t}"))
            for t in ("doc_tf", "dl", "df", "stats")
        }
        ghosts = spark.range(10_000_000, 10_000_005).select(
            F.col("id").alias("doc_id")
        )
        assert delete_from_bm25_index(spark, ghosts, idx) == 0
        for t, rows in before.items():
            assert _rows(spark.read.parquet(f"{idx}/{t}")) == rows

    def test_delete_then_serve_equals_rebuild(self, spark, tmp_path):
        from csv_parquet_s3_spark.operators.retrieval import (
            _bm25_serve_from,
            build_bm25_index,
            delete_from_bm25_index,
        )

        docs = _docs(spark)
        full = str(tmp_path / "bm25_del")
        build_bm25_index(spark, docs, full)
        n = delete_from_bm25_index(
            spark, docs.filter(F.col("doc_id") % 3 == 0).select("doc_id"), full
        )
        assert n == docs.filter(F.col("doc_id") % 3 == 0).count()
        survivors = str(tmp_path / "bm25_del_ref")
        build_bm25_index(spark, docs.filter(F.col("doc_id") % 3 != 0), survivors)
        assert _rows(_bm25_serve_from(spark, full)) == _rows(
            _bm25_serve_from(spark, survivors)
        )


class TestStreamOuterJoinCutoffs:
    """Deterministic pin of the two outer-eviction cutoffs (r07 verdict
    item 6). The registered entries hash-check against real events data,
    where boundary-EXACT timestamps are vanishingly unlikely — this
    fixture plants them, and the two sides came back ASYMMETRIC on this
    build: a click whose no-more-matches bound (click_ts + window) EQUALS
    the final watermark stays in state (strict), but a purchase sitting
    exactly AT the watermark emits (inclusive) — the strict
    ``purchase_ts > click_ts`` half of the condition shifts the right
    side's eviction bound by one unit. The oracles replay exactly these
    inequalities; this test is what keeps them honest."""

    T0 = "2024-03-01 00:00:00"

    @pytest.fixture()
    def synth_sf_dir(self, spark, tmp_path):
        import datetime

        base = datetime.datetime.fromisoformat(self.T0)

        def at(**kw):
            return base + datetime.timedelta(**kw)

        hi = at(hours=10)
        wm = at(hours=9, minutes=30)  # hi − 30 min
        rows = [
            # matched pair: purchase 30 min after the click, same user
            (1, at(hours=1), 100, "click", 0.0),
            (2, at(hours=1, minutes=30), 100, "purchase", 42.5),
            # unmatched purchase exactly AT the watermark → emits
            # (inclusive bound, the asymmetry under test)
            (3, wm, 200, "purchase", 7.0),
            # unmatched purchase 1 s inside → must emit NULL-click
            (4, wm - datetime.timedelta(seconds=1), 201, "purchase", 8.0),
            # unmatched click whose bound (ts + 1 h) == wm → must NOT emit
            (5, wm - datetime.timedelta(hours=1), 300, "click", 0.0),
            # unmatched click 1 s inside the bound → must emit NULL-purchase
            (6, wm - datetime.timedelta(hours=1, seconds=1), 301, "click", 0.0),
            # watermark anchor: a non-click/purchase event at max ts
            (7, hi, 999, "view", 0.0),
        ]
        df = spark.createDataFrame(
            rows, "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, "
            "event_type STRING, value DOUBLE"
        )
        df.coalesce(1).write.parquet(str(tmp_path / "events.parquet"))
        return str(tmp_path)

    @pytest.mark.slow
    def test_right_outer_cutoff_is_strict_at_purchase_ts(
        self, spark, synth_sf_dir
    ):
        from csv_parquet_s3_spark.operators.streaming_batch import (
            stream_click_purchase_right_outer,
        )

        rows = stream_click_purchase_right_outer(spark, synth_sf_dir).collect()
        matched = {(r.user_id, r.purchase_value) for r in rows if r.click_ts}
        nulls = {r.user_id for r in rows if r.click_ts is None}
        assert matched == {(100, 42.5)}
        assert 201 in nulls, "in-cutoff unattributed purchase must emit"
        assert 200 in nulls, (
            "purchase exactly at the watermark did NOT emit — the eviction "
            "cutoff turned strict on this build; flip the oracle back to <"
        )

    @pytest.mark.slow
    def test_full_outer_emits_both_null_populations(self, spark, synth_sf_dir):
        from csv_parquet_s3_spark.operators.streaming_batch import (
            stream_click_purchase_full_outer,
        )

        rows = stream_click_purchase_full_outer(spark, synth_sf_dir).collect()
        matched = {(r.user_id, r.purchase_value) for r in rows
                   if r.click_ts is not None and r.purchase_ts is not None}
        null_purchase = {r.user_id for r in rows if r.purchase_ts is None}
        null_click = {r.user_id for r in rows if r.click_ts is None}
        assert matched == {(100, 42.5)}
        assert null_purchase == {301}, (
            "unconverted-click feed: only the strictly-inside click emits "
            "(the bound==watermark click stays in state)"
        )
        assert null_click == {200, 201}, (
            "unattributed-purchase feed: the at-watermark purchase emits "
            "too (inclusive bound)"
        )


class TestIvfIndexDelete:
    """The IVF mirror of TestIndexDelete: deleting vectors from the stored
    inverted lists must serve exactly what a fresh build over the
    survivors serves (same seed quantizer — centroids are untouched by
    delete, and the survivors include every seed so a rebuild can reuse
    them)."""

    def test_delete_equals_rebuild_over_survivors(self, spark, tmp_path):
        from csv_parquet_s3_spark.operators.similarity_index import (
            _SEEDS,
            _TAIL_START,
            _serve_plain_ivf,
            build_ivf_index,
            delete_from_ivf_index,
        )
        from csv_parquet_s3_spark.sources.tables import load_table

        emb = load_table(spark, SF_SMOKE, "embeddings")
        tail = (F.col("vec_id") % 2 == 1) & (F.col("vec_id") >= _TAIL_START)

        full = str(tmp_path / "ivf_full")
        build_ivf_index(spark, emb, _SEEDS, full)
        n = delete_from_ivf_index(spark, emb.filter(tail), full)
        assert n == emb.filter(tail).count() and n > 0

        surv = str(tmp_path / "ivf_surv")
        build_ivf_index(spark, emb.filter(~tail), _SEEDS, surv)

        got = _rows(_serve_plain_ivf(spark, emb, full))
        assert got == _rows(_serve_plain_ivf(spark, emb, surv))
        assert len(got) > 0

    def test_absent_ids_are_ignored(self, spark, tmp_path):
        from csv_parquet_s3_spark.maintenance import delete_rows

        path = str(tmp_path / "t")
        spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c")], "k BIGINT, v STRING"
        ).write.parquet(path)
        victims = spark.createDataFrame([(2,), (99,)], "k BIGINT")
        assert delete_rows(spark, path, victims, key="k") == 1
        assert _rows(spark.read.parquet(path)) == [(1, "a"), (3, "c")]


class TestLabelPropagation:
    """LPA must keep weakly-bridged dense families apart — the behavior
    that distinguishes it from connected components on the same edges."""

    def test_two_cliques_with_bridge_stay_separate(self, spark):
        from csv_parquet_s3_spark.operators.components import (
            LPA_ROUNDS,
            connected_components,
        )

        # 4-cliques {1..4} and {11..14} joined by the single bridge 4—11.
        def clique(ids):
            return [(a, b) for a in ids for b in ids if a < b]

        edges = clique([1, 2, 3, 4]) + clique([11, 12, 13, 14]) + [(4, 11)]
        pairs = spark.createDataFrame(edges, "doc_id_a BIGINT, doc_id_b BIGINT")

        # CC merges everything into one component…
        cc = connected_components(pairs, "doc_id_a", "doc_id_b")
        assert cc.select("component").distinct().count() == 1

        # …while synchronous LPA converges each clique onto its own min
        # label. Replay the registered operator's exact update rule inline
        # (neighbors-only argmax, (count DESC, label ASC) tie-break).
        sym = pairs.selectExpr("doc_id_a AS src", "doc_id_b AS dst").unionAll(
            pairs.selectExpr("doc_id_b AS src", "doc_id_a AS dst")
        )
        labels = sym.selectExpr("src AS node").distinct().selectExpr(
            "node", "node AS lbl"
        )
        for _ in range(LPA_ROUNDS):
            counts = (
                sym.join(labels, sym.dst == labels.node)
                .groupBy("src", "lbl")
                .agg(F.count("*").alias("cnt"))
            )
            labels = (
                counts.groupBy("src")
                .agg(F.max(F.struct("cnt", (-F.col("lbl")).alias("neg"))).alias("m"))
                .selectExpr("src AS node", "-m.neg AS lbl")
                .localCheckpoint()
            )
        out = {r.node: r.lbl for r in labels.collect()}
        assert {out[i] for i in (1, 2, 3)} == {1}
        assert {out[i] for i in (12, 13, 14)} == {11}
        assert len(set(out.values())) == 2


class TestSnapshotDiff:
    def test_classification_on_planted_rows(self, spark, tmp_path):
        """Each change class lands exactly where the derivation rules put
        it: key%10==3 → insert, key%13==5 → delete, key%7==0 → update
        (when present in both snapshots), everything else silent."""
        from csv_parquet_s3_spark.operators.scd import q_snapshot_diff_orders

        out = q_snapshot_diff_orders(spark, SF_SMOKE).collect()
        by_key = {r.o_orderkey: r for r in out}
        for r in out:
            k = r.o_orderkey
            if r.change_type == "insert":
                assert k % 10 == 3 and r.old_totalprice is None
            elif r.change_type == "delete":
                assert k % 13 == 5 and r.new_totalprice is None
            else:
                assert r.change_type == "update" and k % 7 == 0
                assert r.old_totalprice == r.new_totalprice + 1
        # every known-class key present in the source appears
        from csv_parquet_s3_spark.sources.tables import load_table

        keys = [
            r.o_orderkey
            for r in load_table(spark, SF_SMOKE, "orders")
            .select("o_orderkey")
            .collect()
        ]
        for k in keys:
            if k % 10 == 3 and k % 13 != 5:
                assert by_key[k].change_type == "insert"
            elif k % 13 == 5 and k % 10 != 3:
                assert by_key[k].change_type == "delete"
            elif k % 7 == 0 and k % 10 != 3 and k % 13 != 5:
                assert by_key[k].change_type == "update"
            elif k % 10 != 3 and k % 13 != 5:
                assert k not in by_key


class TestIvfIndexLayout:
    """The inverted lists must BE inverted on disk: post-build (and
    post-compaction after a merge) each list owns its own ``list_id=N/``
    directory (format 4), and the serving plan prunes unprobed lists'
    directories at FILE-LISTING time through join-triggered dynamic
    partition pruning — together these make probe cost Σ|probed lists|,
    not corpus."""

    @staticmethod
    def _list_dirs(root: str) -> dict[str, int]:
        """{hive partition dir: parquet file count} — empty for a flat
        (post-upsert/post-delete, pre-compaction) table."""
        out = {}
        for d in sorted(os.listdir(root)):
            p = os.path.join(root, d)
            if d.startswith("list_id=") and os.path.isdir(p):
                out[d] = sum(
                    1
                    for f in os.listdir(p)
                    if f.endswith(".parquet") and not f.startswith(".")
                )
        return out

    def test_build_and_compaction_cluster_lists(self, spark, tmp_path):
        from csv_parquet_s3_spark.operators.similarity_index import (
            _SEEDS,
            _TAIL_START,
            _serve_plain_ivf,
            build_ivf_index,
            compact_ivf_index,
            update_ivf_index,
        )
        from csv_parquet_s3_spark.sources.tables import load_table

        emb = load_table(spark, SF_SMOKE, "embeddings")
        idx = str(tmp_path / "ivf")
        tail = (F.col("vec_id") % 2 == 1) & (F.col("vec_id") >= _TAIL_START)
        build_ivf_index(spark, emb.filter(~tail), _SEEDS, idx)

        dirs = self._list_dirs(f"{idx}/assign")
        assert len(dirs) > 1 and all(n == 1 for n in dirs.values()), dirs

        # the merge rewrite loses the clustering (flat, no partition dirs)…
        update_ivf_index(spark, emb.filter(tail), idx)
        assert self._list_dirs(f"{idx}/assign") == {}
        before = _rows(_serve_plain_ivf(spark, emb, idx))

        # …and compaction restores it without changing a single result
        compact_ivf_index(spark, idx)
        dirs2 = self._list_dirs(f"{idx}/assign")
        assert len(dirs2) > 1 and all(n == 1 for n in dirs2.values()), dirs2
        assert _rows(_serve_plain_ivf(spark, emb, idx)) == before

    def test_probe_prunes_unprobed_list_dirs(self, spark, tmp_path):
        from csv_parquet_s3_spark.operators.similarity import N_PROBE, N_QUERIES
        from csv_parquet_s3_spark.operators.similarity_index import (
            _SEEDS,
            build_ivf_index,
            topk_from_index,
        )
        from csv_parquet_s3_spark.sources.tables import load_table

        emb = load_table(spark, SF_SMOKE, "embeddings")
        idx = str(tmp_path / "ivf")
        build_ivf_index(spark, emb, _SEEDS, idx)
        queries = emb.filter(F.col("vec_id") < N_QUERIES)

        def plan() -> str:
            return (
                topk_from_index(spark, queries, idx, N_PROBE)
                ._jdf.queryExecution()
                .executedPlan()
                .toString()
            )

        p = plan()
        assert "dynamicpruningexpression" in p, p[:2000]

    def test_unprobed_list_files_are_never_read(self, spark, tmp_path):
        """RUNTIME proof of list pruning, stronger than any plan string:
        overwrite every parquet file of the lists the probe does NOT touch
        with garbage bytes — serving must still return the exact same
        rows, because those directories' contents are never opened. The control corrupts a probed list too and expects the
        scan to blow up (so the test cannot pass vacuously)."""
        import glob
        import math

        from csv_parquet_s3_spark.operators.similarity import N_PROBE, N_QUERIES
        from csv_parquet_s3_spark.operators.similarity_index import (
            _SEEDS,
            build_ivf_index,
            topk_from_index,
        )
        from csv_parquet_s3_spark.sources.tables import load_table

        emb = load_table(spark, SF_SMOKE, "embeddings")
        idx = str(tmp_path / "ivf")
        build_ivf_index(spark, emb, _SEEDS, idx)
        queries = emb.filter(F.col("vec_id") < N_QUERIES)
        before = _rows(topk_from_index(spark, queries, idx, N_PROBE))

        # replicate the probe routing (nprobe nearest stored centroids per
        # query: 6-digit rounded cosine desc, list_id asc tie-break)
        cent = spark.read.parquet(f"{idx}/centroids").collect()
        probed: set[int] = set()
        for q in queries.collect():
            qn = math.sqrt(sum(x * x for x in q.embedding))
            sims = sorted(
                (
                    (
                        -round(
                            sum(a * b for a, b in zip(q.embedding, c.cv))
                            / (qn * c.cnorm),
                            6,
                        ),
                        c.list_id,
                    )
                    for c in cent
                ),
            )[:N_PROBE]
            probed.update(lid for _s, lid in sims)
        unprobed = {c.list_id for c in cent} - probed
        assert unprobed, "every list probed — fixture can't prove pruning"

        def corrupt(list_id: int) -> None:
            files = glob.glob(f"{idx}/assign/list_id={list_id}/*.parquet")
            assert files, list_id
            for f in files:
                with open(f, "wb") as fh:
                    fh.write(b"not parquet at all")

        for lid in unprobed:
            corrupt(lid)
        assert _rows(topk_from_index(spark, queries, idx, N_PROBE)) == before

        corrupt(next(iter(probed)))  # control: a PROBED list must be read
        with pytest.raises(Exception):
            topk_from_index(spark, queries, idx, N_PROBE).collect()


class TestIvfPqIndexLayout:
    """Format-4 stored IVF×PQ index: code tables carry list_id and are
    written directory-per-list, and serving prunes EVERY per-list artifact
    scan to the probed lists — codes live INSIDE the inverted lists."""

    @pytest.mark.slow
    def test_codes_clustered_and_probe_pruning(self, spark, tmp_path):
        from csv_parquet_s3_spark.operators.similarity import N_QUERIES
        from csv_parquet_s3_spark.operators.similarity_index import (
            build_ivf_pq_index,
            ivf_pq_topk_from_index,
            sq8_topk_from_index,
        )
        from csv_parquet_s3_spark.sources.tables import load_table

        emb = load_table(spark, SF_SMOKE, "embeddings")
        idx = str(tmp_path / "pq")
        build_ivf_pq_index(spark, emb, idx)

        for table in ("coarse_assign", "codes", "sq8_codes"):
            dirs = TestIvfIndexLayout._list_dirs(f"{idx}/{table}")
            assert len(dirs) > 1 and all(n == 1 for n in dirs.values()), (
                table,
                dirs,
            )

        queries = emb.filter(F.col("vec_id") < N_QUERIES)
        for fn in (ivf_pq_topk_from_index, sq8_topk_from_index):
            p = (
                fn(spark, queries, idx)
                ._jdf.queryExecution()
                .executedPlan()
                .toString()
            )
            assert p.count("dynamicpruningexpression") >= 2, (fn.__name__, p[:1500])


class TestDeleteRowsEdges:
    """Edge semantics of maintenance.delete_rows beyond the happy path:
    composite keys, deleting everything, deleting nothing — each leaves
    the dataset readable and exactly the anti-set."""

    def _seed(self, spark, tmp_path):
        path = str(tmp_path / "t")
        spark.createDataFrame(
            [(1, "a", 10), (1, "b", 11), (2, "a", 12), (2, "b", 13)],
            "k1 BIGINT, k2 STRING, v BIGINT",
        ).write.parquet(path)
        return path

    def test_composite_key(self, spark, tmp_path):
        from csv_parquet_s3_spark.maintenance import delete_rows

        path = self._seed(spark, tmp_path)
        victims = spark.createDataFrame([(1, "b"), (2, "a")], "k1 BIGINT, k2 STRING")
        assert delete_rows(spark, path, victims, key=["k1", "k2"]) == 2
        assert _rows(spark.read.parquet(path)) == [(1, "a", 10), (2, "b", 13)]

    def test_delete_everything_leaves_empty_readable_dataset(self, spark, tmp_path):
        from csv_parquet_s3_spark.maintenance import delete_rows

        path = self._seed(spark, tmp_path)
        victims = spark.createDataFrame([(1,), (2,)], "k1 BIGINT")
        assert delete_rows(spark, path, victims, key="k1") == 4
        out = spark.read.parquet(path)
        assert out.count() == 0
        assert set(out.columns) == {"k1", "k2", "v"}

    def test_empty_victims_is_a_noop(self, spark, tmp_path):
        import os

        from csv_parquet_s3_spark.maintenance import delete_rows

        path = self._seed(spark, tmp_path)
        files_before = sorted(os.listdir(path))
        victims = spark.createDataFrame([], "k1 BIGINT")
        assert delete_rows(spark, path, victims, key="k1") == 0
        # short-circuit: a 0-match delete must not rewrite the dataset —
        # the exact same files remain (no staging write, no swap)
        assert sorted(os.listdir(path)) == files_before
        assert len(_rows(spark.read.parquet(path))) == 4

    def test_absent_keys_is_a_noop(self, spark, tmp_path):
        import os

        from csv_parquet_s3_spark.maintenance import delete_rows

        path = self._seed(spark, tmp_path)
        files_before = sorted(os.listdir(path))
        victims = spark.createDataFrame([(99,), (100,)], "k1 BIGINT")
        assert delete_rows(spark, path, victims, key="k1") == 0
        assert sorted(os.listdir(path)) == files_before
        assert len(_rows(spark.read.parquet(path))) == 4
