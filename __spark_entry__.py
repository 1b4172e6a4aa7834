"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

All queries live in :mod:`csv_parquet_s3_spark.operators` — one registry
entry per operator from SURVEY.md §2 plus the driver-mandated extensions
(dedup, similarity search, text analysis, multimodal).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

# The driver may import this file by path from any cwd; make the package
# importable regardless.
_REPO_DIR = os.path.dirname(os.path.abspath(__file__))
if _REPO_DIR not in sys.path:
    sys.path.insert(0, _REPO_DIR)

SF0001 = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    Regional supplier revenue (TPC-H Q5 shape): 6-way join with broadcast
    dims + filtered fact scan + hash aggregation — exercises session, scan,
    filter pushdown, join selection, and aggregation end-to-end.
    """
    from csv_parquet_s3_spark.operators.relational import q05_regional_revenue

    return q05_regional_revenue(spark, SF0001)


# Round-robin verification window (see PARITY.md "Driver verification
# rotation"): the driver's correctness check covers the FIRST 50 entries of
# queries(), so each round the entries most in need of a fresh signal are
# listed first: the rotation output PLUS re-pins at the head for the
# queries the latest change touched.
VERIFY_PRIORITY: list[str] = [
    # RE-PINS FIRST — the seven stream_* queries whose micro-batch
    # sequencing now runs through the one staged source, foreachBatch
    # runner and await (operators/streaming_batch.py, streaming/microbatch.py),
    # and retrieval_bm25_compacted, whose sorted compaction now goes through
    # maintenance._clustered_rewrite. Then the verbatim tools/rotate_window.py
    # output against CORRECTNESS_r13 in its printed order. The seven
    # displaced tail entries (sketch_countmin_user_counts, q_open_orders_daily,
    # q_table_content_digest, q_fk_orphan_audit, q_segment_user_bitmap_distinct,
    # q_segment_bitmap_overlap, dedup_sorted_neighborhood_pairs) are hash-green.
    "stream_bm25_index_maintenance",
    "stream_ivf_index_maintenance",
    "stream_click_purchase_left_outer",
    "stream_click_purchase_right_outer",
    "stream_click_purchase_full_outer",
    "stream_events_late_data_drop",
    "stream_scd1_upsert_priority",
    "retrieval_bm25_compacted",
    "dedup_minhash_incremental",
    "mm_byte_histogram_features",
    "q_events_sessionize",
    "q_events_user_daily_activity",
    "q_events_funnel",
    "q_left_join_customer_order_counts",
    "q_full_outer_nation_presence",
    "q_window_lead_ntile",
    "q_events_json_extract",
    "pack_documents_greedy",
    "pack_documents_efficiency",
    "pack_documents_consolidated",
    "split_documents_train_test",
    "sample_documents_stratified",
    "sample_documents_quality_weighted",
    "rebalance_documents_by_lang",
    "emb_random_projection",
    "q_events_trailing_hour",
    "q_unpivot_lineitem_metrics",
    "q_null_safe_join",
    "q_window_value_functions",
    "q_string_agg_statuses",
    "q_events_hourly_gapfill",
    "q_events_weekly_retention",
    "q_order_value_histogram",
    "q_revenue_month_over_month",
    "q_supplier_balance_zscore",
    "q_priority_share_of_total",
    "q_part_size_price_correlation",
    "q_events_dau_wau_stickiness",
    "q_customer_reorder_gaps",
    "q_user_journey_paths",
    "q_supplier_balance_mad",
    "q_events_error_spikes",
    "q_snapshot_diff_orders",
    "sim_cosine_topk_ivf_trained",
    "sim_cosine_topk_ivf_pq_from_index",
    "sim_cosine_topk_ivf_pq_refine",
    "sim_cosine_topk_ivf_incremental",
    "pii_redact_customers",
    "text_bpe_token_stats",
    "q_approx_sketches",
]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator (SURVEY.md §2 + extensions).

    Ordered so the driver's bounded correctness window lands on the entries
    that most need a fresh signal this round (VERIFY_PRIORITY), then every
    remaining query in registration order.
    """
    from csv_parquet_s3_spark.operators import QUERIES

    missing = [n for n in VERIFY_PRIORITY if n not in QUERIES]
    if missing:  # a rename must fail loudly, not silently shrink the window
        raise KeyError(f"VERIFY_PRIORITY names not in registry: {missing}")
    ordered = {n: QUERIES[n] for n in VERIFY_PRIORITY}
    ordered.update((n, fn) for n, fn in QUERIES.items() if n not in ordered)
    return ordered


def oracle_sql() -> dict[str, str]:
    """DuckDB oracle SQL per query; omitted entries get a rows-only check."""
    from csv_parquet_s3_spark.operators import ORACLES

    return dict(ORACLES)
