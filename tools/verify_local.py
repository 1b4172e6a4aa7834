"""Driver-equivalent local verification: run every registered query under a
VANILLA SparkSession (none of our get_spark confs — exactly what the round
driver builds) and hash-compare against the DuckDB oracles.

Usage:  python tools/verify_local.py [sf_dir]      (default sf0.01)

Prints one line per failure plus a final summary; exit code 0 iff every
oracle query hash-matches with >0 rows and every rows-only query executes.
"""

from __future__ import annotations

import hashlib
import importlib.util
import os
import sys

import duckdb
import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def row_hash(pdf: pd.DataFrame) -> str:
    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        if pd.api.types.is_datetime64_any_dtype(pdf[c]) and getattr(
            pdf[c].dt, "tz", None
        ) is not None:
            pdf[c] = pdf[c].dt.tz_localize(None)
    body = "\n".join(sorted(pdf.astype(str).apply("|".join, axis=1)))
    return hashlib.md5(body.encode()).hexdigest()


def main() -> int:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

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

    duck = duckdb.connect()
    for t in TABLES:
        duck.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")

    assert len(mod.entry(spark).collect()) >= 1, "entry() returned no rows"

    queries, oracles = mod.queries(), mod.oracle_sql()
    window = set(list(queries)[:50])  # the driver checks exactly this subset
    n_match = n_rows_only = 0
    window_ok: set = set()
    failures: list[tuple] = []
    # 236 queries in one standing session: release each invocation's
    # localCheckpoint blocks after its toPandas completes, like bench.py
    # (plans/materialize.py — RDD-level persists the CacheManager never
    # frees; without this the sweep's block manager grows monotonically).
    sys.path.insert(0, REPO)
    from csv_parquet_s3_spark.plans.materialize import released_after

    for name in sorted(queries):
        try:
            with released_after(spark):
                got = queries[name](spark, sf).toPandas()
            if name in oracles:
                want = duck.sql(oracles[name]).df()
                if row_hash(got) == row_hash(want) and len(want) > 0:
                    n_match += 1
                    window_ok.add(name)
                else:
                    failures.append((name, len(got), len(want)))
                    print(f"MISMATCH {name}: spark={len(got)} duck={len(want)}")
            else:
                n_rows_only += 1
                window_ok.add(name)  # rows-only entries pass the weaker check
        except Exception as exc:  # pragma: no cover - failure path
            failures.append((name, "EXC", str(exc)[:200]))
            print(f"ERROR {name}: {exc}")
    print(
        f"entry OK; hash-match {n_match}/{len(oracles)}; "
        f"rows-only OK {n_rows_only}; failures: {len(failures)}; "
        f"driver window (first 50): {len(window & window_ok)}/50 green"
    )
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
