"""Spark job counts per conversion, read from the status tracker.

Counts are deterministic where times are not: each call runs under its own
job group and `statusTracker().getJobIdsForGroup` counts what it
submitted. An added eager action (a `count()`, a read-back, a per-file
loop) shows up here without an event log or an oracle.
"""

from __future__ import annotations

import uuid

from csv_parquet_s3_spark.ingest import (
    convert_csv_dir,
    convert_csv_to_parquet,
    convert_with_quarantine,
)
from csv_parquet_s3_spark.schema import FieldSpec

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
