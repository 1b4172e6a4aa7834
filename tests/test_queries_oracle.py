"""Differential test: every registered query with an oracle must match DuckDB
at the smoke scale factor — the local mirror of the driver's t2 check."""

from __future__ import annotations

import pytest

from tests.conftest import SF_CORRECTNESS
from tests.oracle_compare import compare


# Queries whose sf0.001 differential runs >5 s each (measured on a full
# run, `git show 4bf9f4e:tools/pytest_durations_r13.txt`): together ~680 s
# of the suite's 36 min.
# They run in the slow tier (SPARK_GRAFT_SLOW_TESTS=1); the fast default
# still differentials the other ~215 queries, and the driver's own window
# hash-check plus tools/verify_local.py cover every query end-to-end.
SLOW_ORACLE_QUERIES = {
    "text_bpe_learn_merges",
    "text_bpe_apply_merges",
    "sim_cosine_topk_ivf_pq_residual",
    "sim_cosine_topk_ivf_pq_refine",
    "sim_cosine_topk_ivf_pq_from_index",
    "sim_cosine_topk_ivf_pq",
    "sim_cosine_topk_pq",
    "stream_click_purchase_full_outer",
    "stream_click_purchase_right_outer",
    "stream_click_purchase_left_outer",
    "stream_click_purchase_attribution",
    "stream_events_late_data_drop",
    "stream_bm25_index_maintenance",
    "stream_ivf_index_maintenance",
    "pack_documents_consolidated",
    "text_langid_confusion",
    "text_rake_keywords",
    "retrieval_bm25_compacted",
    "retrieval_bm25_incremental",
    "retrieval_bm25_after_delete",
    "emb_remove_top_component",
}


def _cases():
    from csv_parquet_s3_spark.operators import ORACLES, QUERIES

    return [
        pytest.param(
            name,
            QUERIES[name],
            ORACLES.get(name),
            marks=[pytest.mark.slow] if name in SLOW_ORACLE_QUERIES else [],
        )
        for name in sorted(QUERIES)
    ]


@pytest.mark.parametrize(
    "name,fn,oracle", _cases(), ids=[c.values[0] for c in _cases()]
)
def test_query_matches_oracle(spark, duck, name, fn, oracle):
    df = fn(spark, SF_CORRECTNESS)
    if oracle is None:
        # rows-only check, mirroring the driver's weaker path
        n = df.count()
        assert n >= 0
        return
    rel = duck.sql(oracle)
    ok, msg = compare(df, rel)
    assert ok, f"{name}: {msg}"
    # 0-row agreement is a trivial (vacuous) match — every oracle query must
    # exercise real rows at the DEFAULT test SF, or the check proves nothing.
    # At other SFs (diagnostic sweeps via SPARK_GRAFT_TEST_SF) a selective
    # query may legitimately return nothing (e.g. the spike detector finds
    # no spikes on 10× smoother data), so only value agreement is asserted.
    import os

    if not os.environ.get("SPARK_GRAFT_TEST_SF"):
        assert len(rel.df()) > 0, f"{name}: oracle returns 0 rows — vacuous check"
