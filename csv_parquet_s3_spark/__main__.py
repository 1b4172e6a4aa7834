"""Pipeline CLI — the reference's ``Main.main`` orchestration, Spark-first.

``python -m csv_parquet_s3_spark pipeline --config application.properties``
reproduces the reference pipeline end-to-end (`Main.java:20-83`):

    load config → load schema → list CSVs → convert to Parquet → upload →
    exit 0/1

with two deliberate improvements recorded in SURVEY.md §3.1:

- conversion failures affect the exit code (the reference logs them and
  still exits 0 if the upload succeeds, `CsvToParquetConverter.java:115-117`);
- only THIS run's outputs upload (the reference re-lists the whole output
  directory and re-uploads stale files, `Main.java:52-55`).

``purge`` and ``compact`` expose the maintenance surface the same way.
"""

from __future__ import annotations

import argparse
import json
import logging
import sys

logging.basicConfig(level=logging.INFO, format="%(levelname)s %(name)s: %(message)s")
logger = logging.getLogger("csv_parquet_s3_spark")


def _pipeline(args: argparse.Namespace) -> int:
    from csv_parquet_s3_spark.config import load_properties, validate
    from csv_parquet_s3_spark.ingest import convert_csv_to_parquet
    from csv_parquet_s3_spark.session import get_spark
    from csv_parquet_s3_spark.sinks.s3 import configure_s3a, sink_path

    props = validate(load_properties(args.config), require_s3=not args.skip_upload)
    spark = get_spark(app_name="csv_parquet_s3_pipeline")

    report = convert_csv_to_parquet(
        spark,
        props["SourceFilePath"],
        props["ParquetFilePath"],
        schema_path=args.schema,
    )
    for path in report.converted:
        logger.info("converted %s", path)
    for src, err in report.failed.items():
        logger.error("conversion failed for %s: %s", src, err)

    if not args.skip_upload:
        configure_s3a(spark, props)
        uri = sink_path(props["bucketName"], props.get("prefix", ""))
        # upload exactly this run's outputs (not a stale directory re-list)
        df = spark.read.parquet(*report.converted)
        df.write.mode("overwrite").option("compression", "snappy").parquet(uri)
        logger.info("uploaded %d files to %s", len(report.converted), uri)

    if report.failed:
        logger.error("pipeline completed with %d failed file(s)", len(report.failed))
        return 1
    logger.info("pipeline completed successfully")  # Main.java:78 parity
    return 0


def _purge(args: argparse.Namespace) -> int:
    from csv_parquet_s3_spark.purge import PurgeConfig, run_purge
    from csv_parquet_s3_spark.session import get_spark

    with open(args.purge_config) as fh:
        configs = [PurgeConfig(**row) for row in json.load(fh)]
    spark = get_spark(app_name="csv_parquet_s3_purge")
    result = run_purge(
        spark,
        configs,
        tables_root=args.tables_root,
        table_list=args.tables,
        dry_run=args.dry_run,
        audit_path=args.audit_path,
    )
    for oc in result.outcomes:
        logger.info(
            "%s: %s (matched=%d kept=%d) %s",
            oc.table_name, oc.status, oc.rows_matched, oc.rows_kept, oc.detail,
        )
    return 0 if all(oc.status != "error" for oc in result.outcomes) else 1


def _corpus(args: argparse.Namespace) -> int:
    """Training-corpus pipeline: CSV → typed parquet → near-dup clusters →
    keep-one-per-cluster → deterministic split → compacted layout."""
    from pyspark.sql import functions as F

    from csv_parquet_s3_spark.ingest import convert_csv_dir
    from csv_parquet_s3_spark.maintenance import compact
    from csv_parquet_s3_spark.operators.components import connected_components
    from csv_parquet_s3_spark.operators.minhash_index import (
        build_index,
        pairs_from_index,
    )
    from csv_parquet_s3_spark.operators.sampling import hash_split
    from csv_parquet_s3_spark.session import get_spark
    from csv_parquet_s3_spark.sources.tables import read_parquet

    spark = get_spark(app_name="csv_parquet_s3_corpus")
    typed = convert_csv_dir(
        spark, args.csv_dir, f"{args.out}/corpus", schema_path=args.schema
    )
    n_raw = typed.count()

    build_index(spark, typed, f"{args.out}/sig_index")
    pairs = pairs_from_index(spark, f"{args.out}/sig_index")
    comp = connected_components(pairs, "doc_id_a", "doc_id_b")
    losers = comp.filter(F.col("vertex") != F.col("component")).select(
        F.col("vertex").alias("doc_id")
    )
    keep = typed.join(losers, "doc_id", "left_anti")

    final_path = f"{args.out}/final"
    hash_split(keep, "doc_id").write.mode("overwrite").parquet(final_path)
    n_files = compact(spark, final_path)

    n_kept = read_parquet(spark, final_path).count()
    logger.info(
        "corpus pipeline: %d raw docs -> %d kept (%d near-dups removed), %d file(s) at %s",
        n_raw, n_kept, n_raw - n_kept, n_files, final_path,
    )
    return 0


def _query(args: argparse.Namespace) -> int:
    """Run any registered analytics operator by name against a dataset dir
    (``--list`` prints the registry). Output: row count + optional preview /
    parquet sink — the ad-hoc front door to the 100+ operator surface."""
    from csv_parquet_s3_spark.operators import QUERIES
    from csv_parquet_s3_spark.session import get_spark
    from csv_parquet_s3_spark.sources.tables import read_parquet

    if args.list:
        for name in sorted(QUERIES):
            print(name)
        return 0
    if args.name not in QUERIES:
        logger.error("unknown query %r (use --list)", args.name)
        return 1
    spark = get_spark(app_name=f"csv_parquet_s3_query_{args.name}")
    df = QUERIES[args.name](spark, args.sf_dir)
    if args.out:
        df.write.mode("overwrite").parquet(args.out)
        n = read_parquet(spark, args.out).count()
        logger.info("%s: %d row(s) written to %s", args.name, n, args.out)
    else:
        rows = df.limit(args.show).collect()
        for r in rows:
            print(r)
        logger.info("%s: showed %d row(s)", args.name, len(rows))
    return 0


def _compact(args: argparse.Namespace) -> int:
    from csv_parquet_s3_spark.maintenance import compact
    from csv_parquet_s3_spark.session import get_spark

    spark = get_spark(app_name="csv_parquet_s3_compact")
    n = compact(
        spark,
        args.path,
        target_file_bytes=args.target_bytes,
        sort_by=args.sort_by.split(",") if args.sort_by else None,
    )
    logger.info("compacted %s to %d file(s)", args.path, n)
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="csv_parquet_s3_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    pp = sub.add_parser("pipeline", help="CSV → Parquet → S3 (reference Main.java)")
    pp.add_argument("--config", required=True, help=".properties file")
    pp.add_argument("--schema", required=True, help="schema.json path")
    pp.add_argument("--skip-upload", action="store_true")
    pp.set_defaults(fn=_pipeline)

    pg = sub.add_parser("purge", help="config-driven retention purge")
    pg.add_argument("--purge-config", required=True, help="JSON list of PurgeConfig rows")
    pg.add_argument("--tables-root", required=True)
    pg.add_argument("--tables", default="all")
    pg.add_argument("--dry-run", action="store_true")
    pg.add_argument("--audit-path", default=None)
    pg.set_defaults(fn=_purge)

    pco = sub.add_parser("corpus", help="CSV → dedup → split → compacted corpus")
    pco.add_argument("--csv-dir", required=True)
    pco.add_argument("--schema", required=True, help="schema.json path")
    pco.add_argument("--out", required=True, help="output root directory")
    pco.set_defaults(fn=_corpus)

    pq = sub.add_parser("query", help="run a registered analytics operator")
    pq.add_argument("name", nargs="?", default=None, help="registry name")
    pq.add_argument("--sf-dir", default="/root/testdata/sf0.01", help="dataset dir")
    pq.add_argument("--out", default=None, help="write result parquet here")
    pq.add_argument("--show", type=int, default=20, help="rows to print (no --out)")
    pq.add_argument("--list", action="store_true", help="list registry names")
    pq.set_defaults(fn=_query)

    pc = sub.add_parser("compact", help="small-file compaction")
    pc.add_argument("--path", required=True)
    pc.add_argument("--target-bytes", type=int, default=128 * 1024 * 1024)
    pc.add_argument("--sort-by", default=None, help="comma-separated sort columns")
    pc.set_defaults(fn=_compact)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())  # exit code parity: Main.java:79-82
