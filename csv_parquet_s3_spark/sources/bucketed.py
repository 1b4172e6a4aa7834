"""Bucketed table layout: co-located joins and aggregations without shuffle.

At 100 TB the dominant cost of orders ⋈ lineitem is the shuffle of both
facts on the join key. Hash-bucketing both tables on that key at WRITE time
(same bucket count) lets Spark's planner prove co-partitioning and run the
sort-merge join with **zero Exchange** — the shuffle is paid once at layout
time and amortized over every subsequent join/aggregate on the key.

The reference has no comparable concept (its output layout is file-per-input,
`CsvToParquetConverter.java:111-112`); this is the Spark-native answer to the
same "layout determines downstream cost" concern its 128 MiB row groups
address (`Main.java:44`).

Bucketed tables live in the session catalog (``saveAsTable`` — bucket
metadata is catalog state; plain ``.parquet(path)`` cannot carry it).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table: str,
    keys: list[str],
    n_buckets: int,
    sort: bool = True,
    mode: str = "overwrite",
    path: str | None = None,
) -> None:
    """Persist ``df`` as a parquet table bucketed (and bucket-sorted) on
    ``keys``. Joins/aggs between tables bucketed on the same keys with the
    same ``n_buckets`` need no Exchange; pre-sorting also removes the Sort.
    ``path`` makes it an external table (data outside the warehouse dir)."""
    writer = df.write.format("parquet").mode(mode).bucketBy(n_buckets, *keys)
    if sort:
        writer = writer.sortBy(*keys)
    if path is not None:
        writer = writer.option("path", path)
    writer.saveAsTable(table)


def cobucket_for_join(
    spark: SparkSession,
    left: DataFrame,
    right: DataFrame,
    left_table: str,
    right_table: str,
    keys_left: list[str],
    keys_right: list[str],
    n_buckets: int,
    base_path: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Bucket both sides of a recurring equi-join on their join keys and
    return the catalog-backed DataFrames (the shuffle-free join inputs)."""
    lp = f"{base_path}/{left_table}" if base_path else None
    rp = f"{base_path}/{right_table}" if base_path else None
    write_bucketed(left, left_table, keys_left, n_buckets, path=lp)
    write_bucketed(right, right_table, keys_right, n_buckets, path=rp)
    return spark.table(left_table), spark.table(right_table)


# ---------------------------------------------------------------------------
# Bucketed bench layout: the one-time orderkey shuffle, amortized.
# ---------------------------------------------------------------------------
FACT_BUCKET_KEYS = {"orders": "o_orderkey", "lineitem": "l_orderkey"}
N_FACT_BUCKETS = 32

_materialized: set[str] = set()


def materialize_bucketed_facts(
    spark: SparkSession,
    sf_dir: str,
    n_buckets: int = N_FACT_BUCKETS,
) -> dict[str, str]:
    """Write orders + lineitem bucketed (and bucket-sorted) on their join
    key into the warehouse and register ``load_table`` overrides, so every
    subsequent orders ⋈ lineitem (and any groupBy on the orderkey) plans
    with ZERO Exchange on the fact side — the shuffle is paid once here.

    At 100 TB this is the standing table layout (write the facts bucketed
    at ingest; every downstream query inherits the co-partitioning); at
    bench scale we pay it once per process. Returns {name: catalog_table}.
    """
    import os

    from csv_parquet_s3_spark.sources.tables import (
        read_parquet,
        set_bucketed_override,
        table_path,
    )

    tag = os.path.basename(os.path.normpath(sf_dir)).replace(".", "_")
    out: dict[str, str] = {}
    for name, key in FACT_BUCKET_KEYS.items():
        catalog_table = f"bucketed_{name}_{tag}"
        out[name] = catalog_table
        if catalog_table not in _materialized:
            if not spark.catalog.tableExists(catalog_table):
                # the in-memory catalog does not survive process restarts but
                # the warehouse files do; an orphaned location blocks
                # saveAsTable (LOCATION_ALREADY_EXISTS) — clear it first.
                import shutil

                wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
                shutil.rmtree(os.path.join(wh, catalog_table), ignore_errors=True)
            # repartition on the bucket key first: each task then holds a
            # hash-slice of keys, so the writer emits ~one file per bucket
            # instead of n_tasks × n_buckets fragments.
            df = read_parquet(spark, table_path(sf_dir, name)).repartition(
                n_buckets, key
            )
            write_bucketed(df, catalog_table, [key], n_buckets)
            _materialized.add(catalog_table)
        set_bucketed_override(sf_dir, name, catalog_table)
    return out


def release_bucketed_facts() -> None:
    """Drop the load_table overrides (catalog tables and files remain)."""
    from csv_parquet_s3_spark.sources.tables import clear_bucketed_overrides

    clear_bucketed_overrides()
    _materialized.clear()
