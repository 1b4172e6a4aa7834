"""The package's one Parquet reader infers each dataset's schema once per
file version (``sources.tables.read_parquet``), and its small-table readout
(``sources.tables.read_small_table``) reads a local table with no Spark job.

A hit must submit no Spark job; anything that can change the inferred schema
(a rewrite of the files, an inference conf) must miss; a miss must behave
and fail exactly as ``spark.read.parquet``; and a path that cannot be statted
locally is never memoised.
"""

from __future__ import annotations

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F
from pyspark.sql import types as T

from csv_parquet_s3_spark.maintenance import _staged_overwrite
from csv_parquet_s3_spark.sources import tables
from csv_parquet_s3_spark.sources.tables import read_parquet, read_small_table
from tests.test_job_counts import _jobs


def test_second_read_of_unchanged_path_runs_no_job(spark, tmp_path):
    path = str(tmp_path / "t")
    spark.range(5).write.parquet(path)
    first = _jobs(spark, lambda: read_parquet(spark, path))
    second = _jobs(spark, lambda: read_parquet(spark, path))
    assert (first, second) == (1, 0)
    assert read_parquet(spark, path).count() == 5


def test_staged_overwrite_that_adds_a_column_is_read_with_the_new_schema(spark, tmp_path):
    path = str(tmp_path / "t")
    spark.range(3).write.parquet(path)
    assert read_parquet(spark, path).columns == ["id"]
    _staged_overwrite(read_parquet(spark, path).withColumn("x", F.col("id") * 2), path, "._staging-")
    df = read_parquet(spark, path)
    assert df.columns == ["id", "x"]
    assert sorted(r.x for r in df.collect()) == [0, 2, 4]


def test_binary_as_string_conf_changes_the_returned_type(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    # written without Spark's own schema in the footer, which inference
    # would prefer over the Parquet types
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"b": pa.array([b"x", b"y"], pa.binary())}), path)
    conf = "spark.sql.parquet.binaryAsString"
    before = spark.conf.get(conf)
    try:
        spark.conf.set(conf, "false")
        assert read_parquet(spark, path).schema["b"].dataType == T.BinaryType()
        spark.conf.set(conf, "true")
        assert read_parquet(spark, path).schema["b"].dataType == T.StringType()
    finally:
        spark.conf.set(conf, before)


def test_hive_partitioned_artifact_keeps_its_partition_column(spark, tmp_path):
    path = str(tmp_path / "lists")
    spark.range(6).withColumn("list_id", F.col("id") % 3).write.partitionBy("list_id").parquet(path)
    inferred = spark.read.parquet(path).schema
    read_parquet(spark, path)
    memo = _jobs(spark, lambda: read_parquet(spark, path))
    df = read_parquet(spark, path)
    assert memo == 0
    assert df.schema == inferred
    assert df.schema["list_id"].dataType == T.IntegerType()
    plan = df.filter(F.col("list_id") == 1)._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(list_id" in plan and "(list_id#" in plan
    assert sorted(r.id for r in df.filter(F.col("list_id") == 1).collect()) == [1, 4]


def test_empty_directory_raises_like_spark(spark, tmp_path):
    path = tmp_path / "empty"
    path.mkdir()
    with pytest.raises(AnalysisException) as want:
        spark.read.parquet(str(path))
    for _ in range(2):
        with pytest.raises(AnalysisException) as got:
            read_parquet(spark, str(path))
        assert got.value.getCondition() == want.value.getCondition()
        assert str(got.value) == str(want.value)


def test_small_table_readout_runs_no_job_and_reads_doubles_exactly(spark, tmp_path):
    path = str(tmp_path / "stats")
    values = [1 / 3, 0.1 + 0.2, 2.0**-40, 12345.678901234567]
    spark.createDataFrame(list(enumerate(values)), "dim int, mn double").write.parquet(path)
    want = {r.dim: r.mn for r in spark.read.parquet(path).collect()}
    got = {}
    jobs = _jobs(spark, lambda: got.update(read_small_table(spark, path, ["dim", "mn"])))
    assert jobs == 0
    assert sorted(got) == ["dim", "mn"]
    assert dict(zip(got["dim"], got["mn"])) == want == dict(enumerate(values))


class _RecordingSession:
    """Stands in for a session whose reader would contact a remote store:
    records each read and whether a schema was handed to it."""

    def __init__(self):
        self.reads = []
        self.read = self
        self.conf = self

    def get(self, _key):
        return "false"

    def schema(self, schema):
        self.reads.append(("schema", schema))
        return self

    def parquet(self, path):
        self.reads.append(("parquet", path))
        return object()


def test_remote_uri_is_never_memoised():
    fake = _RecordingSession()
    uri = "s3a://bucket/warehouse/t.parquet"
    read_parquet(fake, uri)
    read_parquet(fake, uri)
    assert fake.reads == [("parquet", uri), ("parquet", uri)]
    assert not any(uri in key or "bucket" in key for key in tables._SCHEMAS)
