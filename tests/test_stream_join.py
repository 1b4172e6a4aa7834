"""Stream-stream interval join pinned against its batch equivalent."""

from __future__ import annotations

from pyspark.sql import functions as F

from csv_parquet_s3_spark.sources.tables import load_table
from csv_parquet_s3_spark.streaming.microbatch import await_stream
from csv_parquet_s3_spark.streaming.stream_join import click_purchase_attribution

SF = "/root/testdata/sf0.001"


def _key(rows):
    return sorted(
        (r.user_id, r.click_ts.isoformat(), r.purchase_ts.isoformat(), r.purchase_value)
        for r in rows
    )


def test_stream_stream_join_equals_batch(spark, tmp_path):
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    try:
        ev = load_table(spark, SF, "events")
        src = str(tmp_path / "events_src")
        ev.coalesce(2).write.parquet(src)
        schema = spark.read.parquet(src).schema

        def stream():
            return spark.readStream.schema(schema).parquet(src)

        clicks_s = stream().filter(F.col("event_type") == "click")
        purchases_s = stream().filter(F.col("event_type") == "purchase")
        q = (
            click_purchase_attribution(clicks_s, purchases_s)
            .writeStream.format("memory")
            .queryName("attrib")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(availableNow=True)
            .start()
        )
        await_stream(q, "attrib", 180)
        got = _key(spark.sql("SELECT * FROM attrib").collect())

        clicks_b = ev.filter(F.col("event_type") == "click")
        purchases_b = ev.filter(F.col("event_type") == "purchase")
        want = _key(click_purchase_attribution(clicks_b, purchases_b).collect())

        assert len(want) > 0
        assert got == want
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
