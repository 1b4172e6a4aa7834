"""Spark job counts per conversion and per query build, read from the
status tracker.

Counts are deterministic where times are not: each call runs under its own
job group and `statusTracker().getJobIdsForGroup` counts what it
submitted. An added eager action (a `count()`, a read-back, a per-file
loop, a schema inference of an unchanged file) shows up here without an
event log or an oracle.
"""

from __future__ import annotations

import uuid

from csv_parquet_s3_spark.ingest import (
    convert_csv_dir,
    convert_csv_to_parquet,
    convert_with_quarantine,
)
from csv_parquet_s3_spark.schema import FieldSpec
from tests.conftest import SF_SMOKE

SPECS = [
    FieldSpec("id", "INT32", None, required=True),
    FieldSpec("day", "INT32", "DATE"),
    FieldSpec("amount", "BINARY", "DECIMAL", precision=10, scale=2),
    FieldSpec("note", "BINARY", "STRING"),
]


def _jobs(spark, fn) -> int:
    sc = spark.sparkContext
    group = f"job-count-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _csv_dir(root, n_files: int, bad_row: str | None = None):
    root.mkdir()
    for i in range(n_files):
        rows = [f"{i * 10 + j},2024-01-0{j + 1},{j}.5,n{j}" for j in range(3)]
        if bad_row and i == 0:
            rows.append(bad_row)
        (root / f"f{i}.csv").write_text("id,day,amount,note\n" + "\n".join(rows) + "\n")
    return str(root)


def test_per_file_conversion_jobs_do_not_grow_with_files(spark, tmp_path):
    counts = []
    for n in (2, 6):
        src = _csv_dir(tmp_path / f"csv{n}", n)
        counts.append(_jobs(spark, lambda: convert_csv_to_parquet(
            spark, src, str(tmp_path / f"out{n}"), specs=SPECS)))
    assert counts[0] == counts[1] <= 2, counts


def test_strict_dir_and_quarantine_jobs(spark, tmp_path):
    clean = _csv_dir(tmp_path / "clean", 3)
    dirty = _csv_dir(tmp_path / "dirty", 3, bad_row="x,2024-01-01,1.0,bad")
    strict = _jobs(spark, lambda: convert_csv_dir(
        spark, clean, str(tmp_path / "strict"), specs=SPECS, strict=True))
    quarantine = _jobs(spark, lambda: convert_with_quarantine(
        spark, dirty, str(tmp_path / "good"), str(tmp_path / "bad"), specs=SPECS))
    assert strict <= 2 and quarantine <= 2, (strict, quarantine)


# Jobs submitted by the second build of each of perfbench's `query` frames in
# one session: the first build infers every table's schema, the second finds
# it in `read_parquet`'s memo. What is left are `materialize` checkpoints.
SECOND_BUILD_JOBS = {
    "q01_pricing_summary": 0,
    "q05_regional_revenue": 0,
    "q07_nation_trade_volume": 0,
    "q18_large_volume_orders": 0,
    "q_window_running_revenue": 0,
    "retrieval_bm25_from_index": 0,
    "dedup_minhash_pairs_from_index": 0,
    # the probes checkpoint: the centroid broadcast, the ranking stage, the checkpoint
    "sim_cosine_topk_ivf_pq_from_index": 3,
    # the bigram-count checkpoint: its aggregation stage and the checkpoint
    "text_bigram_kn_perplexity": 2,
    # the merges are learned by one fold inside the broadcast one-row frame
    "text_bpe_apply_merges": 0,
}


def test_second_build_of_each_query_frame(spark):
    from csv_parquet_s3_spark.operators import QUERIES
    from csv_parquet_s3_spark.plans.materialize import released_after

    counts = {}
    for _ in range(2):
        for name in SECOND_BUILD_JOBS:
            with released_after(spark):
                counts[name] = _jobs(spark, lambda: QUERIES[name](spark, SF_SMOKE))
    assert counts == SECOND_BUILD_JOBS
