"""Parquet table catalog for the driver's synthetic star schema.

A "table" is a directory-or-file of Parquet, mirroring the reference's
dataset-as-directory-of-files model (SURVEY.md §1.1, ``Main.java:34-37``).
Reads go through ``spark.read.parquet`` so Catalyst gets filter pushdown and
column pruning for free; at 100 TB each table is just a bigger directory with
the same code path.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from csv_parquet_s3_spark.config import env_int

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Small dimension tables that should broadcast in joins rather than shuffle.
# At TPC-H-like scale region/nation are constant-size and supplier/part/customer
# grow ~linearly but remain << lineitem; only the constant-size ones are safe
# to force-broadcast at 100 TB.
BROADCAST_TABLES = frozenset({"region", "nation"})


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


# Size gate for broadcast hints on SF-scaling tables (supplier/part/customer
# and frames derived from them). A Spark broadcast *hint* is honored
# unconditionally — there is no AQE size fallback once the hint is attached —
# so hinting a table that grows with SF OOMs the driver/executors at the
# 100 TB design point even though it is harmless at bench scale. The gate
# measures the table's on-disk parquet bytes and only attaches the hint when
# the source is provably small *for this dataset*; above the gate (or when
# the size cannot be measured locally, e.g. an s3a:// root) the join is left
# to CBO/AQE, which flips SMJ->BHJ at runtime when the build side really is
# small (DEPLOYMENT.md "AQE conversion" policy). 64 MiB of snappy parquet is
# ~200-400 MB of in-memory rows — inside the executor comfort zone
# DEPLOYMENT.md sizes for, and far above every SF this repo benches.
# Production knob: SPARK_GRAFT_GATE_BYTES overrides the default (read once
# at import, like every deployment env knob here) — size it to the
# cluster's broadcast budget per DEPLOYMENT.md; 0 disables all gated hints.
BROADCAST_GATE_BYTES = env_int("SPARK_GRAFT_GATE_BYTES", 64 << 20)

_TABLE_BYTES_CACHE: dict[tuple[str, str], int] = {}


def source_table_bytes(sf_dir: str, name: str) -> int:
    """On-disk parquet bytes of a table (file or directory); cached per
    (sf_dir, table). Returns a huge sentinel for paths that cannot be
    statted locally (remote roots) so callers fail toward *not* hinting."""
    key = (os.path.normpath(sf_dir), name)
    cached = _TABLE_BYTES_CACHE.get(key)
    if cached is None:
        path = table_path(sf_dir, name)
        if os.path.isfile(path):
            cached = os.path.getsize(path)
        elif os.path.isdir(path):
            from csv_parquet_s3_spark.maintenance import dataset_bytes

            cached = dataset_bytes(path)
        else:  # remote / unstattable: never claim small
            cached = 1 << 62
        _TABLE_BYTES_CACHE[key] = cached
    return cached


def broadcast_if_small(
    df: DataFrame,
    sf_dir: str,
    source_table: str,
    threshold_bytes: int = BROADCAST_GATE_BYTES,
) -> DataFrame:
    """Attach ``F.broadcast`` only when ``source_table``'s measured bytes
    clear the gate. ``df`` may be a projection/filter/aggregate *derived*
    from ``source_table`` (e.g. a per-part average): derived frames are no
    larger than their source per key, so gating on the source is
    conservative-safe. Constant-size dimensions (region/nation) always hint.
    """
    if source_table in BROADCAST_TABLES:
        return F.broadcast(df)
    if source_table_bytes(sf_dir, source_table) <= threshold_bytes:
        return F.broadcast(df)
    return df


# (sf_dir, name) → catalog table name. When a bucketed copy of a table has
# been materialized (sources/bucketed.py), load_table serves the catalog
# table instead of the raw parquet: its bucket metadata lets the planner
# prove co-partitioning and drop the per-query join/agg Exchange. Results
# are identical — only the physical layout differs — so every oracle check
# holds unchanged under the override.
_BUCKETED_OVERRIDES: dict[tuple[str, str], str] = {}


def set_bucketed_override(sf_dir: str, name: str, catalog_table: str) -> None:
    _BUCKETED_OVERRIDES[(os.path.normpath(sf_dir), name)] = catalog_table


def clear_bucketed_overrides() -> None:
    _BUCKETED_OVERRIDES.clear()


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    override = _BUCKETED_OVERRIDES.get((os.path.normpath(sf_dir), name))
    if override is not None:
        return spark.table(override)
    if name == "events":
        # events.ts has shipped as parquet TIMESTAMP(NANOS) (no Spark type —
        # read raw int64 nanos via the legacy conf and divide to micros) and,
        # since the 2026-08 regeneration, as plain timestamp[us] with no
        # timezone (reads as TIMESTAMP_NTZ). Normalize both to TIMESTAMP
        # (LTZ): with the session timezone pinned to UTC the NTZ→LTZ cast is
        # wall-clock-identity and matches DuckDB's naive read exactly.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(table_path(sf_dir, name))
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            df = df.withColumn(
                "ts", F.timestamp_micros(F.expr("CAST(ts DIV 1000 AS BIGINT)"))
            )
        elif ts_type == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return spark.read.parquet(table_path(sf_dir, name))


def load_tables(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in names}


def register_views(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES) -> None:
    """Register each table as a temp view so ``spark.sql`` queries can run."""
    for name in names:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
