"""Verify a subset of registered queries against their DuckDB oracles.

Usage:  python tools/verify_some.py <sf_dir> name1 name2 ...

Same hash discipline as tools/verify_local.py, restricted to the named
queries — the fast loop while developing a new operator. Tables may be
single parquet files (the driver's layout) or Spark-written directories
(e.g. the scale-curve synth dirs), so differentials run at any derived
scale.

The session is deliberately VANILLA (driver fidelity), which means the
1 GiB default JVM heap: at 10×-sf0.1-and-up dirs, queries that pin
estimators against exact ground truth (q_approx_sketches' countDistinct +
exact percentile side) can OOM the default heap — run with
PYSPARK_SUBMIT_ARGS="--driver-memory 8g pyspark-shell" there. The sketch
side alone is constant-memory; the exact side exists only for the pin.
"""

from __future__ import annotations

import importlib.util
import os
import sys

import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

sys.path.insert(0, f"{REPO}/tools")
from verify_local import row_hash  # noqa: E402


def main() -> int:
    sf = sys.argv[1]
    names = sys.argv[2:]

    from pyspark.sql import SparkSession

    spec = importlib.util.spec_from_file_location("e", f"{REPO}/__spark_entry__.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import os

    duck = duckdb.connect()
    for t in TABLES:
        path = f"{sf}/{t}.parquet"
        # the driver's tables are single files; Spark-written derivations
        # (e.g. the scale-curve synth dirs) are DIRECTORIES of part files
        src = f"{path}/*.parquet" if os.path.isdir(path) else path
        duck.sql(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")

    queries, oracles = mod.queries(), mod.oracle_sql()
    bad = 0
    for name in names:
        got = queries[name](spark, sf).toPandas()
        if name not in oracles:
            print(f"ROWS-ONLY {name}: {len(got)} rows")
            continue
        want = duck.sql(oracles[name]).df()
        hg, hw = row_hash(got), row_hash(want)
        ok = hg == hw and len(want) > 0
        print(f"{'OK' if ok else 'MISMATCH'} {name}: spark={len(got)} duck={len(want)}")
        if not ok:
            bad += 1
            print("  spark cols:", sorted(got.columns))
            print("  duck  cols:", sorted(want.columns))
            print(got.head(8).to_string())
            print(want.head(8).to_string())
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
