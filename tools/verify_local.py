"""Driver-equivalent local verification: run registered queries under a
VANILLA SparkSession (none of our get_spark confs — exactly what the round
driver builds) and hash-compare against the DuckDB oracles.

Usage:  python tools/verify_local.py [sf_dir [name ...]]   (default sf0.01)

With no names: ``entry()`` plus every registered query, one line per
failure and a final summary that includes the driver window (the first 50
entries of ``queries()``). With names: only those queries, one
``OK`` / ``MISMATCH`` / ``ROWS-ONLY`` line each — the spot-check loop while
changing an operator.

Tables may be single parquet files (the test-data layout) or Spark-written
directories of part files. Each query runs inside ``released_after`` so a
long sweep in one session does not accumulate checkpoint blocks. Exit code
0 iff every oracle query hash-matches with >0 rows and every rows-only
query executes; an unknown name exits 2 before any Spark work.

The session is deliberately vanilla, so it has the default 1 GiB driver
heap: at 10×-sf0.1 and up, queries that pin estimators against exact ground
truth (q_approx_sketches) can run out of it — run with
PYSPARK_SUBMIT_ARGS="--driver-memory 8g pyspark-shell" there.
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


def main(argv: list[str]) -> int:
    sf = argv[0] if argv else "/root/testdata/sf0.01"
    names = argv[1:]

    spec = importlib.util.spec_from_file_location("e", f"{REPO}/__spark_entry__.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    queries, oracles = mod.queries(), mod.oracle_sql()
    unknown = [n for n in names if n not in queries]
    if unknown:
        print(f"unknown query name(s): {' '.join(unknown)}", file=sys.stderr)
        return 2

    from pyspark.sql import SparkSession

    from csv_parquet_s3_spark.plans.materialize import released_after

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        # console-only: keeps [Stage N] bars out of the OK/MISMATCH lines
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    duck = duckdb.connect()
    for t in TABLES:
        path = f"{sf}/{t}.parquet"
        src = f"{path}/*.parquet" if os.path.isdir(path) else path
        duck.sql(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")

    sweep = not names
    if sweep and not mod.entry(spark).collect():
        print("ERROR entry(): returned no rows")
        return 1

    checked = names or sorted(queries)
    passed: set = set()
    n_match = 0
    for name in checked:
        try:
            with released_after(spark):
                got = queries[name](spark, sf).toPandas()
            if name not in oracles:
                passed.add(name)  # rows-only entries pass the weaker check
                if not sweep:
                    print(f"ROWS-ONLY {name}: {len(got)} rows")
                continue
            want = duck.sql(oracles[name]).df()
            ok = row_hash(got) == row_hash(want) and len(want) > 0
            if ok:
                passed.add(name)
                n_match += 1
            if not (ok and sweep):
                verdict = "OK" if ok else "MISMATCH"
                print(f"{verdict} {name}: spark={len(got)} duck={len(want)}")
            if not ok:
                print("  spark cols:", sorted(got.columns))
                print("  duck  cols:", sorted(want.columns))
                print(got.head(8).to_string())
                print(want.head(8).to_string())
        except Exception as exc:  # pragma: no cover - failure path
            print(f"ERROR {name}: {exc}")
    failures = len(set(checked) - passed)
    if sweep:
        window = set(list(queries)[:50])  # the driver checks exactly this subset
        print(
            f"entry OK; hash-match {n_match}/{len(oracles)}; "
            f"rows-only OK {len(passed) - n_match}; failures: {failures}; "
            f"driver window (first 50): {len(window & passed)}/50 green"
        )
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
