"""Parquet table catalog for the driver's synthetic star schema, and the
package's one Parquet reader.

A "table" is a directory-or-file of Parquet, mirroring the reference's
dataset-as-directory-of-files model (SURVEY.md §1.1, ``Main.java:34-37``).
Every single-path Parquet read in the package goes through
:func:`read_parquet`, so Catalyst gets filter pushdown and column pruning for
free; at 100 TB each table is just a bigger directory with the same code path.

A Parquet read given no schema runs a one-task Spark job that reads a footer
to infer the schema, on every call. :func:`read_parquet` keeps
the inferred schema per path, keyed on the identity of every file under it
and on the session confs that change inference, so a dataset that has not
changed since it was last read is opened with no job. This is metadata read
once per file version, never a result: the rows are read on every execution.
"""

from __future__ import annotations

import os
import stat
import threading
from collections import OrderedDict
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

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


# Session confs whose values change the schema Spark infers from the same
# files; each is part of the memo key.
INFERENCE_CONFS = (
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.sources.partitionColumnTypeInference.enabled",
)
# Paths whose schema is kept; the least recently read is dropped first.
SCHEMA_MEMO_PATHS = 256

# abspath -> (key, inferred schema); one entry per path, replaced when the key
# changes. Shared by every session in the process, hence the lock.
_SCHEMAS: OrderedDict[str, tuple[tuple, StructType]] = OrderedDict()
_SCHEMAS_LOCK = threading.Lock()


def _file_identity(path: str) -> tuple | None:
    """``(relative path, size, st_mtime_ns)`` of every file under ``path``
    (the rule ``_embeddings_fingerprint`` uses for one file), or None when
    ``path`` cannot be statted locally: a remote URI such as ``s3a://...``,
    a missing path, or a file removed while it was walked."""
    try:
        st = os.stat(path)
        if not stat.S_ISDIR(st.st_mode):
            return (("", st.st_size, st.st_mtime_ns),)
        files = []
        for root, _dirs, names in os.walk(path):
            for name in names:
                full = os.path.join(root, name)
                fst = os.stat(full)
                files.append((os.path.relpath(full, path), fst.st_size, fst.st_mtime_ns))
    except OSError:
        return None
    return tuple(sorted(files))


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` that infers the schema once per file
    version.

    On a hit (same files, sizes and mtimes under ``path``, same
    :data:`INFERENCE_CONFS` values) the stored schema is handed to the reader
    and no Spark job runs. On a miss the read is exactly
    ``spark.read.parquet(path)``: a first read, a rewritten dataset, an empty
    directory or a missing path behaves and errors as it always has, and the
    inferred schema is stored only when the files did not change during
    inference. Paths that cannot be statted locally are inferred on every
    read."""
    files = _file_identity(path)
    if files is None:
        return spark.read.parquet(path)
    key = (files, tuple(spark.conf.get(c) for c in INFERENCE_CONFS))
    apath = os.path.abspath(path)
    with _SCHEMAS_LOCK:
        hit = _SCHEMAS.get(apath)
        schema = hit[1] if hit is not None and hit[0] == key else None
        if schema is not None:
            _SCHEMAS.move_to_end(apath)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    if _file_identity(path) == files:
        with _SCHEMAS_LOCK:
            _SCHEMAS[apath] = (key, df.schema)
            _SCHEMAS.move_to_end(apath)
            while len(_SCHEMAS) > SCHEMA_MEMO_PATHS:
                _SCHEMAS.popitem(last=False)
    return df


def read_small_table(
    spark: SparkSession, path: str, columns: list[str]
) -> dict[str, list]:
    """The named columns of a small Parquet table (index stats, per-dimension
    ranges) as Python lists, in file order — a bounded driver-side readout.

    A local path is read with pyarrow and runs no Spark job. Anything else
    (an ``s3a://`` root), or a pyarrow ``ImportError``/``OSError``/
    ``ValueError``, falls back to one ``read_parquet(...).collect()``. The
    path is gated rather than the exception guessed: pyarrow raises
    ``ArrowInvalid`` (a ``ValueError``) on an ``s3a://`` path, not
    ``OSError``. Doubles come back exactly as stored either way."""
    if "://" not in path or path.startswith("file:"):
        try:
            import pyarrow.parquet as papq

            return papq.read_table(path, columns=columns).to_pydict()
        except (ImportError, OSError, ValueError):
            pass
    rows = read_parquet(spark, path).select(*columns).collect()
    return {c: [r[c] for r in rows] for c in columns}


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


def events_with_ltz_ts(
    spark: SparkSession, open_events: Callable[[], DataFrame]
) -> DataFrame:
    """Open the events table with ``open_events`` (a batch or a streaming
    read) and normalize its ``ts`` to TIMESTAMP (LTZ).

    events.ts has shipped as parquet TIMESTAMP(NANOS) (no Spark type — read
    raw int64 nanos via the legacy conf, set before ``open_events`` runs, and
    divide to micros) and, since the 2026-08 regeneration, as plain
    timestamp[us] with no timezone (reads as TIMESTAMP_NTZ). With the session
    timezone pinned to UTC the NTZ→LTZ cast is wall-clock-identity and
    matches DuckDB's naive read exactly."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = open_events()
    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":
        return df.withColumn(
            "ts", F.timestamp_micros(F.expr("CAST(ts DIV 1000 AS BIGINT)"))
        )
    if ts_type == "timestamp_ntz":
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    override = _BUCKETED_OVERRIDES.get((os.path.normpath(sf_dir), name))
    if override is not None:
        return spark.table(override)
    if name == "events":
        return events_with_ltz_ts(
            spark, lambda: read_parquet(spark, table_path(sf_dir, name))
        )
    return read_parquet(spark, table_path(sf_dir, name))


def load_tables(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in names}


def register_views(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES) -> None:
    """Register each table as a temp view so ``spark.sql`` queries can run."""
    for name in names:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
