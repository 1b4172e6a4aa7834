"""Schema-declared CSV → Parquet conversion (the reference's core capability).

Reproduces the value semantics of the reference converter
(`/root/reference/src/main/java/com/rbccm/database/tools/CsvToParquetConverter.java`),
re-expressed as declarative Spark column expressions:

- header row consumed but ignored; binding is positional (:151-159)
- empty / whitespace-only cell → null, even for REQUIRED fields (:160-163);
  rows shorter than the schema get trailing nulls (:159)
- INT32/INT64: strict integer syntax (regex ``^[+-]?[0-9]+$`` mirrors
  ``Integer.parseInt``; overflow is an error) (:173, :181)
- DATE: strict ISO ``yyyy-MM-dd`` → DateType (:169-171)
- TIMESTAMP_MICROS: ``yyyy-MM-dd HH:mm:ss`` with optional fraction of
  EXACTLY 3/6/9 digits (shape-guarded to match the reference's exact-width
  formatters), parsed as UTC local datetime, nanos truncated to micros
  (:129-142). Plain seconds are accepted as a documented superset — the
  reference's own sample data uses fraction-less timestamps.
- DECIMAL: lenient — parsed with ``try_cast``, rescaled to **scale 2
  HALF_UP regardless of declared scale** (the reference hard-codes 2),
  unparseable → null, never an error (:188-195)
- any strict-field parse failure fails that FILE's conversion; sibling
  files continue (per-file isolation, :115-117)
- output named ``x.csv → x.parquet`` (:111-112), snappy + 128 MiB row
  groups (:229-230), atomic via Spark's committer (temp + rename, :147,:219)

Every path reads each CSV once: the write itself flags bad strict cells
and reports them (and its row counts) through a ``DataFrame.observe``, so
there is no separate validation scan and no read-back count.

- :func:`convert_csv_to_parquet` — reference-parity: one output file per
  input file (filename fidelity). All files parse and write in ONE job,
  partitioned by source file into a staging directory; each good file's
  single part is renamed to ``x.parquet``, each bad file's partition is
  discarded. Spark's scheduler replaces the 4-thread pool.
- :func:`convert_csv_dir` — the 100 TB path: the whole directory is ONE
  DataFrame (task-per-split parallelism) written as one Parquet dataset to
  a staging sibling, which a strict failure discards and success swaps in.
  Same parse expressions, no filename fidelity.
- :func:`convert_with_quarantine` — row-level disposition: good rows to the
  typed dataset, bad rows to quarantine.
"""

from __future__ import annotations

import logging
import os
import shutil
import uuid
from dataclasses import dataclass, field
from urllib.parse import unquote

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from csv_parquet_s3_spark.maintenance import staged
from csv_parquet_s3_spark.schema import FieldSpec, load_schema, raw_struct_type
from csv_parquet_s3_spark.session import PARQUET_BLOCK_SIZE
from csv_parquet_s3_spark.sources.tables import read_parquet

logger = logging.getLogger(__name__)

INT_RE = "^[+-]?[0-9]+$"  # Integer.parseInt / Long.parseLong syntax
TS_FORMATS = (
    "yyyy-MM-dd HH:mm:ss.SSSSSSSSS",  # CsvToParquetConverter.java:43-45
    "yyyy-MM-dd HH:mm:ss",
)
# The reference's formatters accept a fraction of EXACTLY 3, 6, or 9 digits
# (java's `S` parses an exact digit count, :42-46). Spark's S-pattern is
# lenient within 1-9 digits, so a shape pre-guard enforces the exact widths;
# try_to_timestamp then validates field ranges. Fraction-less timestamps are
# kept as a documented superset — the reference's own sample data
# (src/main/resources/csv/sample1.csv `event_timestamp`) uses them.
TS_RE = r"^\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}(\.(\d{3}|\d{6}|\d{9}))?$"


class IngestError(RuntimeError):
    """A file failed strict conversion (mirrors the reference's per-file error)."""


@dataclass
class IngestReport:
    converted: list[str] = field(default_factory=list)
    failed: dict[str, str] = field(default_factory=dict)


def _nullify_empty(col: F.Column) -> F.Column:
    # `value.trim().isEmpty()` → null (CsvToParquetConverter.java:160-163).
    # Java's String.trim() strips every code point <= U+0020 (tab, FF, VT,
    # NUL, CR, ...), not just the space character that Spark's `trim` strips,
    # so the emptiness test must be "all chars <= U+0020", not `trim(col)=''`.
    return F.when(col.rlike(r"^[\x00-\x20]*$"), F.lit(None)).otherwise(col)


def parse_column(spec: FieldSpec) -> tuple[F.Column, F.Column | None]:
    """Return (parsed_column, violation_flag) for one declared field.

    ``violation_flag`` is non-None for strict types: true where the raw cell
    held a value that failed to parse (→ the file must fail, :204-213).
    """
    raw = _nullify_empty(F.col(spec.name))

    if spec.physical == "INT32" and spec.logical == "DATE":
        parsed = F.try_to_date(raw, "yyyy-MM-dd")
    elif spec.physical == "INT32":
        parsed = F.when(raw.rlike(INT_RE), F.expr(f"try_cast(`{spec.name}` as int)"))
    elif spec.physical == "INT64" and spec.logical == "TIMESTAMP_MICROS":
        parsed = F.when(
            raw.rlike(TS_RE),
            F.coalesce(
                *[F.try_to_timestamp(raw, F.lit(fmt)) for fmt in TS_FORMATS]
            ),
        ).cast("timestamp_ntz")
    elif spec.physical == "INT64":
        parsed = F.when(raw.rlike(INT_RE), F.expr(f"try_cast(`{spec.name}` as bigint)"))
    elif spec.logical == "DECIMAL":
        # Lenient: hard rescale to 2 HALF_UP (reference ignores declared
        # scale, :188-195); garbage → null, never a violation. String →
        # decimal(38,2) in one try_cast: Spark's changePrecision rounds
        # HALF_UP, exactly BigDecimal.setScale(2, HALF_UP), and scale-2 at
        # the full 38 precision admits the widest declared values
        # (DECIMAL(38,2) `total`, schema.json:146-153).
        dec = raw.cast("string").try_cast("decimal(38,2)")
        return dec.cast(f"decimal({max(spec.precision, 3)},2)").alias(spec.name), None
    else:  # STRING / unknown logical: pass-through
        return raw.alias(spec.name), None

    violation = raw.isNotNull() & parsed.isNull()
    return parsed.alias(spec.name), violation


def _specs(schema_path: str | None, specs: list[FieldSpec] | None) -> list[FieldSpec]:
    if specs is not None:
        return specs
    if schema_path is None:
        raise ValueError("need schema_path or specs")
    return load_schema(schema_path)


def _read_csv(spark: SparkSession, path: str | list[str], specs: list[FieldSpec]) -> DataFrame:
    """The raw all-string frame the parse expressions bind to.

    The header row is consumed but its names are ignored — with an explicit
    schema Spark binds columns positionally, mirroring ``csvReader.skip(1)``.
    PERMISSIVE mode pads short rows with trailing nulls (:159).
    """
    return (
        spark.read.schema(raw_struct_type(specs))
        .option("header", "true")
        .option("enforceSchema", "true")
        .option("mode", "PERMISSIVE")
        .option("escape", '"')  # RFC-4180 doubled quotes, matching opencsv (:148)
        .csv(path)
    )


def _parse_flags(specs: list[FieldSpec]) -> tuple[list[F.Column], F.Column]:
    """Return (parsed_columns, bad_fields) over the raw string columns.

    ``bad_fields`` is the array of the strict fields whose cell failed to
    parse, in schema order, and is empty for a clean row. Every conversion
    flags its rows with it, so validation rides along with the write. It is
    a ``concat`` of one- or zero-element arrays rather than an
    ``array_compact``, whose lambda would take the whole projection out of
    whole-stage code generation.
    """
    parsed_cols, bad_flags = [], []
    none = F.array().cast("array<string>")
    for spec in specs:
        col, viol = parse_column(spec)
        parsed_cols.append(col)
        if viol is not None:
            bad_flags.append(F.when(viol, F.array(F.lit(spec.name))).otherwise(none))
    return parsed_cols, F.concat(*bad_flags) if bad_flags else none


def _strict_error(path: str, specs: list[FieldSpec], fields: list[str] | set[str]) -> IngestError:
    """The reference's per-file error, naming the bad fields in schema order."""
    bad = set(fields)
    ordered = [s.name for s in specs if s.name in bad]
    return IngestError(f"{path}: unparseable value(s) in strict field(s) {ordered}")


def parse_csv(
    spark: SparkSession, path: str, specs: list[FieldSpec]
) -> tuple[DataFrame, DataFrame | None]:
    """Schema-directed positional parse of one CSV path (file or glob).

    Returns ``(parsed, violations)``: the typed frame and one boolean
    ``_bad_<field>`` column per strict field (None without strict fields).
    """
    raw = _read_csv(spark, path, specs)
    parsed_cols, violations = [], []
    for spec in specs:
        col, viol = parse_column(spec)
        parsed_cols.append(col)
        if viol is not None:
            violations.append(viol.alias(f"_bad_{spec.name}"))
    return raw.select(*parsed_cols), raw.select(violations) if violations else None


def check_strict(spark: SparkSession, path: str, specs: list[FieldSpec]) -> None:
    """Raise IngestError if any strict-typed cell fails to parse (:204-213).

    A standalone validation scan; the conversions validate inside their own
    write instead.
    """
    _, viol = parse_csv(spark, path, specs)
    if viol is None:
        return
    any_bad = viol.filter(
        F.greatest(*[F.col(c) for c in viol.columns]) if len(viol.columns) > 1 else F.col(viol.columns[0])
    )
    bad = any_bad.limit(1).collect()
    if bad:
        fields = [c.removeprefix("_bad_") for c, v in bad[0].asDict().items() if v]
        raise _strict_error(path, specs, fields)


def _write_parquet(df: DataFrame, out_path: str, partition_by: str | None = None) -> None:
    df.write.mode("overwrite").option("compression", "snappy").option(
        "parquet.block.size", str(PARQUET_BLOCK_SIZE)
    ).parquet(out_path, partitionBy=partition_by)


def _split_bytes(spark: SparkSession) -> int:
    """Spark never splits a file at or below this size: a split is at least
    ``min(maxPartitionBytes, openCostInBytes)`` bytes long."""
    conf = spark._jsparkSession.sessionState().conf()
    return min(conf.filesMaxPartitionBytes(), conf.filesOpenCostInBytes())


def _part(path: str) -> str:
    [part] = [p for p in os.listdir(path) if p.endswith(".parquet") and not p.startswith(".")]
    return os.path.join(path, part)


def _write_per_file(
    spark: SparkSession, srcs: list[str], staging: str, specs: list[FieldSpec]
) -> tuple[dict[str, str], dict[str, set[str]]]:
    """Parse and write every source in one job, into ``staging/_file=<name>/``.

    Returns ``(parts, bad)``: for each good source name, the one Parquet
    file that holds its rows; for each bad source name, the strict fields
    that failed in it. The partition key is Spark's own per-file constant
    ``_metadata.file_name``, so no row looks anything up. Rows are sorted
    on (file, split offset, row id), which keeps CSV order and already
    satisfies the writer's partition ordering, so Spark adds no sort of its
    own.
    """
    parsed_cols, bad_fields = _parse_flags(specs)
    obs = Observation()
    df = (
        _read_csv(spark, srcs, specs)
        .select(
            F.col("_metadata.file_name").alias("_file"),
            F.col("_metadata.file_block_start").alias("_block"),
            F.monotonically_increasing_id().alias("_row"),
            bad_fields.alias("_bad"),
            *parsed_cols,
        )
        .observe(obs, F.collect_set(F.when(F.size("_bad") > 0, F.struct("_file", "_bad"))).alias("bad"))
    )
    split = _split_bytes(spark)
    if any(os.path.getsize(src) > split for src in srcs):
        # a file read as several splits must meet in one task to be written
        # as one file
        df = df.repartition("_file")
    names = [s.name for s in specs]
    _write_parquet(
        df.sortWithinPartitions("_file", "_block", "_row").select("_file", *names),
        staging,
        partition_by="_file",
    )

    # `_metadata.file_name` is URI-encoded, and the partition directory
    # escapes it once more
    bad: dict[str, set[str]] = {}
    for row in obs.get["bad"]:  # only after the write: `get` blocks if it failed
        bad.setdefault(unquote(row._file), set()).update(row._bad)
    parts = {
        unquote(unquote(d[len("_file="):])): _part(os.path.join(staging, d))
        for d in os.listdir(staging)
        if d.startswith("_file=")
    }
    # header-only and zero-byte files have no rows, so no partition: they
    # share one typed empty file
    typed, empty = os.path.join(staging, "_empty"), None
    for name in map(os.path.basename, srcs):
        if name not in parts and name not in bad:
            if empty is None:
                _write_parquet(_read_csv(spark, srcs, specs).select(*parsed_cols).limit(0), typed)
                empty = _part(typed)
            parts[name] = shutil.copyfile(empty, os.path.join(typed, name))
    return parts, bad


def convert_csv_to_parquet(
    spark: SparkSession,
    csv_dir: str,
    out_dir: str,
    schema_path: str | None = None,
    specs: list[FieldSpec] | None = None,
) -> IngestReport:
    """Reference-parity conversion: each ``x.csv`` → ``out_dir/x.parquet``.

    Per-file failures are logged and skipped without failing siblings
    (CsvToParquetConverter.java:115-117); the report records both outcomes.
    """
    specs = _specs(schema_path, specs)
    files = sorted(f for f in os.listdir(csv_dir) if f.endswith(".csv"))
    if not files:
        raise FileNotFoundError(f"No CSV files found in {csv_dir}")  # Main.java:38
    os.makedirs(out_dir, exist_ok=True)

    errors: dict[str, str] = {}
    for fname in files:
        if fname.startswith(("_", ".")):
            errors[fname] = (
                f"{os.path.join(csv_dir, fname)}: names starting with '_' or '.' are "
                "hidden files to Spark's file source, which never reads them"
            )
    readable = [os.path.join(csv_dir, f) for f in files if f not in errors]
    staging = os.path.join(out_dir, "._staging-" + uuid.uuid4().hex[:8])
    report, parts = IngestReport(), {}
    try:
        if readable:
            try:
                parts, bad = _write_per_file(spark, readable, staging, specs)
                for fname, fields in bad.items():
                    errors[fname] = str(_strict_error(os.path.join(csv_dir, fname), specs, fields))
            except Exception as exc:  # the one job failed, and every file with it
                logger.exception("Failed to convert %s", csv_dir)
                errors.update(dict.fromkeys(map(os.path.basename, readable), str(exc)))
        for fname in files:
            src = os.path.join(csv_dir, fname)
            final = os.path.join(out_dir, fname[: -len(".csv")] + ".parquet")
            if fname not in errors:
                try:
                    os.replace(parts[fname], final)  # temp+rename (:147,:219)
                    report.converted.append(final)
                    continue
                except Exception as exc:  # per-file isolation (:115-117)
                    errors[fname] = str(exc)
            logger.error("Failed to convert %s: %s", src, errors[fname])
            report.failed[src] = errors[fname]
    finally:
        shutil.rmtree(staging, ignore_errors=True)
    return report


def convert_csv_dir(
    spark: SparkSession,
    csv_dir: str,
    out_dir: str,
    schema_path: str | None = None,
    specs: list[FieldSpec] | None = None,
    strict: bool = True,
) -> DataFrame:
    """Scale-path conversion: whole directory as one DataFrame → one dataset.

    All files parse and validate in one distributed job (split-per-task)
    that writes a normal multi-part Parquet dataset to a staging sibling of
    ``out_dir``. Under ``strict``, a strict-field failure anywhere discards
    the staging output and raises, leaving ``out_dir`` as it was; otherwise
    the staging output is swapped in. Use this shape at 100 TB.
    """
    specs = _specs(schema_path, specs)
    glob = os.path.join(csv_dir, "*.csv")
    parsed_cols, bad_fields = _parse_flags(specs)
    obs = Observation()
    df = (
        _read_csv(spark, glob, specs)
        .select(*parsed_cols, bad_fields.alias("_bad"))
        .observe(obs, F.collect_set(F.when(F.size("_bad") > 0, F.col("_bad"))).alias("bad"))
        .drop("_bad")
    )
    with staged(out_dir, "._staging-") as staging:
        _write_parquet(df, staging)
        bad = {f for fields in obs.get["bad"] for f in fields}
        if strict and bad:  # raising inside `staged` discards the staging output
            raise _strict_error(glob, specs, bad)
    return read_parquet(spark, out_dir)


def convert_with_quarantine(
    spark: SparkSession,
    csv_dir: str,
    out_dir: str,
    quarantine_dir: str,
    schema_path: str | None = None,
    specs: list[FieldSpec] | None = None,
) -> tuple[int, int]:
    """Convert a CSV directory, routing strict-parse failures to quarantine.

    The reference offers two dispositions for a bad cell: fail the whole
    file (strict types, CsvToParquetConverter.java:204-213) or silently
    null (decimals, :188-195). At pipeline scale the useful middle ground
    is row-level quarantine: good rows flow to the typed dataset, bad rows
    land — in their ORIGINAL string form plus a list of offending fields —
    in a quarantine dataset for repair/replay. Each output is one write,
    which counts its own rows; returns (n_good, n_bad).
    """
    specs = _specs(schema_path, specs)
    parsed_cols, bad_fields = _parse_flags(specs)
    raw = _read_csv(spark, os.path.join(csv_dir, "*.csv"), specs)
    clean = F.size("_bad_fields") == 0
    # each count is observed below its write's filter, which also keeps
    # Spark from pushing the filter under the projection: every cell
    # parses once
    good_obs, bad_obs = Observation(), Observation()
    good = raw.select(*parsed_cols, bad_fields.alias("_bad_fields"))
    _write_parquet(
        good.observe(good_obs, F.count_if(clean).alias("rows")).filter(clean).drop("_bad_fields"),
        out_dir,
    )
    bad = raw.withColumn("_bad_fields", bad_fields)
    _write_parquet(bad.observe(bad_obs, F.count_if(~clean).alias("rows")).filter(~clean), quarantine_dir)
    return good_obs.get["rows"], bad_obs.get["rows"]
