"""Round-trip ingest tests: the executable spec of the reference's type
semantics (SURVEY.md §1.2 value table, FIXTURES.md F1/F2 edge cases)."""

from __future__ import annotations

import datetime
import json
from decimal import Decimal

import pytest

from csv_parquet_s3_spark.ingest import (
    IngestError,
    check_strict,
    convert_csv_dir,
    convert_csv_to_parquet,
    parse_csv,
)
from csv_parquet_s3_spark.schema import load_schema, parse_schema, to_struct_type

MINI_SCHEMA = {
    "name": "mini",
    "fields": [
        {"name": "id", "type": "INT32", "repetition": "REQUIRED"},
        {"name": "name", "type": "BINARY", "logicalType": "STRING"},
        {"name": "age", "type": "INT32"},
    ],
}

F1_SCHEMA = {
    "name": "record",
    "fields": [
        {"name": "id", "type": "INT32", "repetition": "REQUIRED"},
        {"name": "name", "type": "BINARY", "logicalType": "STRING"},
        {"name": "amount", "type": "BINARY", "logicalType": "DECIMAL", "precision": 10, "scale": 2},
        {"name": "birth_date", "type": "INT32", "logicalType": "DATE"},
        {"name": "large_count", "type": "INT64"},
        {"name": "event_timestamp", "type": "INT64", "logicalType": "TIMESTAMP_MICROS"},
        {"name": "total", "type": "BINARY", "logicalType": "DECIMAL", "precision": 38, "scale": 2},
    ],
}


@pytest.fixture
def f1_specs():
    return parse_schema(F1_SCHEMA)


def _write_csv(path, rows, header="id,name,amount,birth_date,large_count,event_timestamp,total"):
    path.write_text(header + "\n" + "\n".join(rows) + "\n")


def test_schema_loader_types_and_nullability(tmp_path):
    p = tmp_path / "schema.json"
    p.write_text(json.dumps(F1_SCHEMA))
    specs = load_schema(str(p))
    st = to_struct_type(specs)
    assert [f.dataType.simpleString() for f in st.fields] == [
        "int", "string", "decimal(10,2)", "date", "bigint", "timestamp_ntz", "decimal(38,2)",
    ]
    assert st["id"].nullable is False and st["name"].nullable is True


def test_schema_loader_rejects_unknown_physical():
    with pytest.raises(ValueError, match="Unsupported type"):
        parse_schema({"fields": [{"name": "x", "type": "FLOAT"}]})


def test_schema_loader_warns_unknown_logical_and_bad_repetition(caplog):
    specs = parse_schema(
        {"fields": [{"name": "x", "type": "BINARY", "logicalType": "JSON",
                     "repetition": "REPEATED"}]}
    )
    assert specs[0].logical is None and specs[0].required is False


def test_roundtrip_value_semantics(spark, tmp_path, f1_specs):
    """Mirror of the reference round-trip test (CsvToParquetConverterTest)."""
    csv_dir, out_dir = tmp_path / "csv", tmp_path / "out"
    csv_dir.mkdir()
    _write_csv(
        csv_dir / "sample.csv",
        [
            # nanos timestamp → truncated to micros; decimal rescale HALF_UP
            "1,Alice,1234.565,1990-01-01,1000000,2023-01-01 12:00:00.123456789,987654.328",
            # empty cells → null; 3-digit fraction
            "2,,,,,2023-02-01 13:00:00.123,",
            # short row → trailing nulls; no-fraction timestamp was col 6
            "3,Bob,55.5,2000-02-29",
        ],
    )
    report = convert_csv_to_parquet(spark, str(csv_dir), str(out_dir), specs=f1_specs)
    assert report.failed == {} and len(report.converted) == 1
    assert report.converted[0].endswith("sample.parquet")
    rows = {r.id: r for r in spark.read.parquet(report.converted[0]).collect()}
    r1 = rows[1]
    assert r1.name == "Alice"
    assert r1.amount == Decimal("1234.57")  # HALF_UP rescale to 2
    assert r1.birth_date == datetime.date(1990, 1, 1)
    assert r1.large_count == 1000000
    assert r1.event_timestamp == datetime.datetime(2023, 1, 1, 12, 0, 0, 123456)  # nanos→micros
    assert r1.total == Decimal("987654.33")
    r2 = rows[2]
    assert r2.name is None and r2.amount is None and r2.birth_date is None
    assert r2.event_timestamp == datetime.datetime(2023, 2, 1, 13, 0, 0, 123000)
    r3 = rows[3]
    assert r3.amount == Decimal("55.50") and r3.event_timestamp is None and r3.total is None


def test_bad_decimal_is_lenient_null(spark, tmp_path, f1_specs):
    csv_dir = tmp_path / "csv"
    csv_dir.mkdir()
    _write_csv(csv_dir / "a.csv", ["1,x,not_a_number,,,,abc"])
    df, _ = parse_csv(spark, str(csv_dir / "a.csv"), f1_specs)
    row = df.collect()[0]
    assert row.amount is None and row.total is None  # lenient, no error


@pytest.mark.parametrize(
    "row,field",
    [
        ("notint,x,,,,,", "id"),  # bad INT32
        ("1,x,,bad-date,,,", "birth_date"),  # bad DATE
        ("1,x,,,12.5,,", "large_count"),  # bad INT64
        ("1,x,,,,2023-13-45 99:00:00,", "event_timestamp"),  # bad TIMESTAMP
        ("99999999999,x,,,,,", "id"),  # int overflow
        (" 1,x,,,,,", "id"),  # whitespace-padded int (parseInt throws)
    ],
)
def test_strict_fields_fail_the_file(spark, tmp_path, f1_specs, row, field):
    csv_dir = tmp_path / "csv"
    csv_dir.mkdir()
    _write_csv(csv_dir / "bad.csv", [row])
    with pytest.raises(IngestError, match=field):
        check_strict(spark, str(csv_dir / "bad.csv"), f1_specs)


def test_per_file_isolation(spark, tmp_path, f1_specs):
    """One bad file doesn't stop siblings (CsvToParquetConverter.java:115-117)."""
    csv_dir, out_dir = tmp_path / "csv", tmp_path / "out"
    csv_dir.mkdir()
    _write_csv(csv_dir / "good.csv", ["1,ok,1.0,2020-01-01,5,2023-01-01 00:00:00,2.0"])
    _write_csv(csv_dir / "bad.csv", ["oops,x,,,,,"])
    report = convert_csv_to_parquet(spark, str(csv_dir), str(out_dir), specs=f1_specs)
    assert [p.split("/")[-1] for p in report.converted] == ["good.parquet"]
    assert list(report.failed) == [str(csv_dir / "bad.csv")]


def test_quoted_fields_and_positional_binding(spark, tmp_path):
    """RFC-4180 quoting; header names are ignored (positional binding)."""
    specs = parse_schema(MINI_SCHEMA)
    csv_dir = tmp_path / "csv"
    csv_dir.mkdir()
    (csv_dir / "m.csv").write_text(
        'completely,wrong,header\n1,"Smith, Jr.",40\n2,"say ""hi""",\n'
    )
    df, _ = parse_csv(spark, str(csv_dir / "m.csv"), specs)
    rows = {r.id: r for r in df.collect()}
    assert rows[1].name == "Smith, Jr." and rows[1].age == 40
    assert rows[2].name == 'say "hi"' and rows[2].age is None


def test_empty_dir_raises(spark, tmp_path, f1_specs):
    (tmp_path / "empty").mkdir()
    with pytest.raises(FileNotFoundError, match="No CSV files"):
        convert_csv_to_parquet(spark, str(tmp_path / "empty"), str(tmp_path / "o"), specs=f1_specs)


def test_bulk_dir_conversion(spark, tmp_path, f1_specs):
    csv_dir, out_dir = tmp_path / "csv", tmp_path / "bulk_out"
    csv_dir.mkdir()
    for i in range(3):
        _write_csv(csv_dir / f"f{i}.csv", [f"{i},n{i},1.5,2020-01-01,{i},2023-01-01 00:00:00,9.99"])
    df = convert_csv_dir(spark, str(csv_dir), str(out_dir), specs=f1_specs)
    assert df.count() == 3
    assert {r.id for r in df.select("id").collect()} == {0, 1, 2}


def test_quarantine_routes_bad_rows(spark, tmp_path):
    from csv_parquet_s3_spark.ingest import convert_with_quarantine
    from csv_parquet_s3_spark.schema import FieldSpec

    specs = [
        FieldSpec("id", "INT32", None, required=True),
        FieldSpec("amount", "BINARY", "DECIMAL", precision=10, scale=2),
        FieldSpec("note", "BINARY", "STRING"),
    ]
    d = tmp_path / "csv"
    d.mkdir()
    (d / "a.csv").write_text(
        "id,amount,note\n1,10.5,ok\nnot_an_int,2.0,bad-id\n3,garbage,ok-lenient-dec\n"
    )
    out, quar = str(tmp_path / "good"), str(tmp_path / "quarantine")
    n_good, n_bad = convert_with_quarantine(spark, str(d), out, quar, specs=specs)

    # bad int row quarantined; garbage decimal is LENIENT (null, stays good)
    assert (n_good, n_bad) == (2, 1)
    good = {r.id: r for r in spark.read.parquet(out).collect()}
    assert str(good[1].amount) == "10.50" and good[3].amount is None
    bad = spark.read.parquet(quar).collect()
    assert bad[0].id == "not_an_int" and bad[0]._bad_fields == ["id"]


def test_gzip_csv_ingest(spark, tmp_path):
    """Compressed CSV reads through the same declared-schema path (Spark
    decompresses by extension; .gz is non-splittable → one task per file,
    which is why the scale path prefers many medium files)."""
    import gzip

    from csv_parquet_s3_spark.ingest import parse_csv
    from csv_parquet_s3_spark.schema import FieldSpec

    specs = [
        FieldSpec("id", "INT32", None, required=True),
        FieldSpec("amount", "BINARY", "DECIMAL", precision=10, scale=2),
    ]
    d = tmp_path / "csvgz"
    d.mkdir()
    with gzip.open(d / "part1.csv.gz", "wt") as fh:
        fh.write("id,amount\n1,1.005\n2,\n")
    df, _ = parse_csv(spark, str(d / "part1.csv.gz"), specs)
    rows = {r.id: r.amount for r in df.collect()}
    assert str(rows[1]) == "1.01" and rows[2] is None


def test_full_28_column_reference_schema_round_trip(spark, tmp_path):
    """The reference's own round-trip test shape (CsvToParquetConverterTest,
    SURVEY.md §5) over the complete canonical 28-column schema (§1.2):
    convert one fully-populated row + one sparse row, read back, assert the
    per-type value semantics."""
    import datetime
    from decimal import Decimal

    from csv_parquet_s3_spark.ingest import convert_csv_to_parquet
    from csv_parquet_s3_spark.schema import parse_schema

    strings = ["name", "description", "code", "currency_code", "notes", "address",
               "email", "phone", "status", "city", "comments", "uuid"]
    int32s = ["age", "flag", "quantity", "order_id"]
    int64s = ["large_count", "account_id", "big_number", "huge_number",
              "massive_count", "balance"]
    fields = [{"name": "id", "type": "INT32", "repetition": "REQUIRED"}]
    fields += [{"name": c, "type": "BINARY", "logicalType": "STRING"} for c in strings]
    fields += [{"name": c, "type": "INT32"} for c in int32s]
    fields += [{"name": c, "type": "INT64"} for c in int64s]
    fields += [{"name": c, "type": "INT32", "logicalType": "DATE"}
               for c in ["birth_date", "transaction_date"]]
    fields += [{"name": "event_timestamp", "type": "INT64",
                "logicalType": "TIMESTAMP_MICROS"}]
    fields += [{"name": "amount", "type": "BINARY", "logicalType": "DECIMAL",
                "precision": 10, "scale": 2},
               {"name": "total", "type": "BINARY", "logicalType": "DECIMAL",
                "precision": 38, "scale": 2}]
    specs = parse_schema({"fields": fields})
    assert len(specs) == 28

    cols = [f["name"] for f in fields]
    full = ["7"] + [f"{c}_v" for c in strings] + ["30", "1", "5", "1001"] + \
           ["9999999999", "42", "123", "456", "789", "-50"] + \
           ["1990-01-02", "2024-02-29"] + ["2023-01-01 12:00:00.123456789"] + \
           ["1234.565", "98765432109876543210987654321098765.125"]
    sparse = ["8"] + [""] * 27

    src = tmp_path / "csv28"
    src.mkdir()
    (src / "rec.csv").write_text(
        ",".join(cols) + "\n" + ",".join(full) + "\n" + ",".join(sparse) + "\n"
    )
    report = convert_csv_to_parquet(spark, str(src), str(tmp_path / "out28"), specs=specs)
    assert not report.failed
    rows = {r.id: r for r in spark.read.parquet(report.converted[0]).collect()}

    r = rows[7]
    assert r.name == "name_v" and r.uuid == "uuid_v"
    assert r.age == 30 and r.flag == 1 and r.order_id == 1001
    assert r.large_count == 9999999999 and r.balance == -50
    assert r.birth_date == datetime.date(1990, 1, 2)
    assert r.transaction_date == datetime.date(2024, 2, 29)
    # nanos truncated to micros (CsvToParquetConverter.java:129-142)
    assert r.event_timestamp == datetime.datetime(2023, 1, 1, 12, 0, 0, 123456)
    # rescale-2 HALF_UP, including the DECIMAL(38,2) wide path
    assert r.amount == Decimal("1234.57")
    assert r.total == Decimal("98765432109876543210987654321098765.13")

    s = rows[8]  # every optional empty cell → null, even REQUIRED-adjacent
    assert all(getattr(s, c) is None for c in cols if c != "id")


def test_control_char_only_cells_null_like_java_trim(spark, tmp_path):
    """Java String.trim() strips every code point <= U+0020, so a cell of
    only control chars (FF, NUL, VT, tab...) is nulled by the reference's
    `value.trim().isEmpty()` check (CsvToParquetConverter.java:160-163).
    Deterministic pin of the r07-judge hypothesis find (O6): Spark's F.trim
    strips only U+0020 and would keep these cells alive."""
    import csv as _csv

    specs = parse_schema(MINI_SCHEMA)
    path = tmp_path / "ctl.csv"
    cells = ["\x0c", "\x00", "\x0b\x1f", " \t ", "\x00 \x08", "kept\x0c"]
    with open(path, "w", newline="") as fh:
        w = _csv.writer(fh)
        w.writerow(["id", "name", "age"])
        for i, c in enumerate(cells):
            w.writerow([str(i), c, ""])

    df, _ = parse_csv(spark, str(path), specs)
    got = {r.id: r.name for r in df.collect()}
    assert got == {0: None, 1: None, 2: None, 3: None, 4: None, 5: "kept\x0c"}


def _f1_row(i: int) -> str:
    return f"{i},n{i},1.5,2020-01-01,{i},2023-01-01 00:00:00,9.99"


def _ids(path) -> list:
    """The `id` column in file order (pyarrow, so no Spark partitioning)."""
    import pyarrow.parquet as pq

    return pq.read_table(str(path)).column("id").to_pylist()


def test_hidden_named_csvs_fail_with_their_cause(spark, tmp_path, f1_specs):
    """Spark's file source never reads a name starting with '_' or '.':
    such a file is reported failed, never converted to an empty output."""
    csv_dir, out_dir = tmp_path / "csv", tmp_path / "out"
    csv_dir.mkdir()
    _write_csv(csv_dir / "_under.csv", [_f1_row(1)])
    _write_csv(csv_dir / ".dot.csv", [_f1_row(2)])
    _write_csv(csv_dir / "seen.csv", [_f1_row(3)])
    report = convert_csv_to_parquet(spark, str(csv_dir), str(out_dir), specs=f1_specs)
    assert report.converted == [str(out_dir / "seen.parquet")]
    assert sorted(report.failed) == [str(csv_dir / ".dot.csv"), str(csv_dir / "_under.csv")]
    for src, msg in report.failed.items():
        assert msg.startswith(src + ": ") and "hidden" in msg
    assert sorted(p.name for p in out_dir.iterdir()) == ["seen.parquet"]


def test_header_only_and_zero_byte_csvs_yield_typed_empty_files(spark, tmp_path, f1_specs):
    csv_dir, out_dir = tmp_path / "csv", tmp_path / "out"
    csv_dir.mkdir()
    (csv_dir / "header_only.csv").write_text("id,name,amount,birth_date,large_count,event_timestamp,total\n")
    (csv_dir / "zero.csv").write_bytes(b"")
    _write_csv(csv_dir / "rows.csv", [_f1_row(1)])
    report = convert_csv_to_parquet(spark, str(csv_dir), str(out_dir), specs=f1_specs)
    assert report.failed == {}
    assert [p.rsplit("/", 1)[1] for p in report.converted] == [
        "header_only.parquet", "rows.parquet", "zero.parquet",
    ]
    want = to_struct_type(f1_specs)
    for name, rows in (("header_only", 0), ("zero", 0), ("rows", 1)):
        df = spark.read.parquet(str(out_dir / f"{name}.parquet"))
        assert df.count() == rows
        assert [(f.name, f.dataType) for f in df.schema] == [(f.name, f.dataType) for f in want]


def test_special_characters_in_names_map_to_their_outputs(spark, tmp_path, f1_specs):
    """`_metadata.file_name` is URI-encoded (`a b.csv` arrives as
    `a%20b.csv`); each output still takes its own source's name and rows."""
    csv_dir, out_dir = tmp_path / "csv", tmp_path / "out"
    csv_dir.mkdir()
    names = ["a b", "p%20q", "50%", "x+y", "a%2Bb", "é"]
    for i, name in enumerate(names):
        _write_csv(csv_dir / f"{name}.csv", [_f1_row(i)])
    report = convert_csv_to_parquet(spark, str(csv_dir), str(out_dir), specs=f1_specs)
    assert report.failed == {}
    assert sorted(report.converted) == sorted(str(out_dir / f"{n}.parquet") for n in names)
    for i, name in enumerate(names):
        assert _ids(out_dir / f"{name}.parquet") == [i]


def test_row_order_is_csv_order_even_across_splits(spark, tmp_path, f1_specs):
    """Each output keeps its CSV's row order, also when a file is read as
    several input splits (lowered split sizes force that here); a bad
    cell in the last split of a file still fails that file."""
    csv_dir, out_dir = tmp_path / "csv", tmp_path / "out"
    csv_dir.mkdir()
    big = [(i * 7919) % 3000 for i in range(3000)]  # a permutation: no sort key
    _write_csv(csv_dir / "big.csv", [_f1_row(i) for i in big])
    _write_csv(csv_dir / "small.csv", [_f1_row(i) for i in (5, 3, 9, 1)])
    _write_csv(csv_dir / "split_bad.csv", [_f1_row(i) for i in range(900)] + ["x,y,,,,,"])
    confs = ("spark.sql.files.maxPartitionBytes", "spark.sql.files.openCostInBytes")
    saved = {k: spark.conf.get(k) for k in confs}
    try:
        for k in confs:
            spark.conf.set(k, "16k")
        splits = spark.read.text(str(csv_dir / "big.csv")).rdd.getNumPartitions()
        assert splits > 4  # the precondition: big.csv spans several splits
        report = convert_csv_to_parquet(spark, str(csv_dir), str(out_dir), specs=f1_specs)
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    bad = str(csv_dir / "split_bad.csv")
    assert report.failed == {bad: f"{bad}: unparseable value(s) in strict field(s) ['id']"}
    assert _ids(out_dir / "big.parquet") == big
    assert _ids(out_dir / "small.parquet") == [5, 3, 9, 1]


def test_bad_file_message_lists_every_bad_strict_field(spark, tmp_path, f1_specs):
    csv_dir, out_dir = tmp_path / "csv", tmp_path / "out"
    csv_dir.mkdir()
    _write_csv(csv_dir / "bad.csv", [
        "1,x,,,,2023-13-45 99:00:00,",  # event_timestamp
        "oops,x,junk,,,,",  # id (amount is lenient)
        "3,x,,1990-02-30,,,",  # birth_date
        _f1_row(4),
    ])
    _write_csv(csv_dir / "good.csv", [_f1_row(5)])
    report = convert_csv_to_parquet(spark, str(csv_dir), str(out_dir), specs=f1_specs)
    src = str(csv_dir / "bad.csv")
    assert report.failed == {
        src: f"{src}: unparseable value(s) in strict field(s) ['id', 'birth_date', 'event_timestamp']"
    }
    assert sorted(p.name for p in out_dir.iterdir()) == ["good.parquet"]


def test_concurrent_per_file_conversions_keep_their_reports(spark, tmp_path, f1_specs):
    """Two calls from two threads in one session: each report and output
    belongs to its own directory."""
    from concurrent.futures import ThreadPoolExecutor

    def job(tag: str, base: int):
        csv_dir = tmp_path / f"csv_{tag}"
        csv_dir.mkdir()
        for i in range(3):
            _write_csv(csv_dir / f"{tag}{i}.csv", [_f1_row(base + i)])
        _write_csv(csv_dir / f"{tag}_bad.csv", [f"{tag},x,,,,,"])
        out = tmp_path / f"out_{tag}"
        return csv_dir, out, convert_csv_to_parquet(spark, str(csv_dir), str(out), specs=f1_specs)

    with ThreadPoolExecutor(2) as pool:
        results = list(pool.map(job, ["a", "b"], [0, 100], timeout=300))
    for (csv_dir, out, report), tag, base in zip(results, ["a", "b"], [0, 100]):
        assert report.converted == [str(out / f"{tag}{i}.parquet") for i in range(3)]
        assert list(report.failed) == [str(csv_dir / f"{tag}_bad.csv")]
        assert "['id']" in report.failed[str(csv_dir / f"{tag}_bad.csv")]
        for i in range(3):
            assert _ids(out / f"{tag}{i}.parquet") == [base + i]


def _tree_bytes(root) -> dict:
    return {
        str(p.relative_to(root)): p.read_bytes() for p in sorted(root.rglob("*")) if p.is_file()
    }


def test_strict_dir_failure_leaves_out_dir_untouched(spark, tmp_path, f1_specs):
    """A strict failure discards its staging output: an existing `out_dir`
    stays byte-identical and no `._staging-*` sibling is left. A later
    clean conversion replaces `out_dir`."""
    csv_dir, out_dir = tmp_path / "csv", tmp_path / "out"
    csv_dir.mkdir()
    _write_csv(csv_dir / "a.csv", [_f1_row(1), _f1_row(2)])
    convert_csv_dir(spark, str(csv_dir), str(out_dir), specs=f1_specs)
    before = _tree_bytes(out_dir)

    _write_csv(csv_dir / "b.csv", [_f1_row(3), "4,x,,2020-02-31,,,"])
    with pytest.raises(IngestError) as err:
        convert_csv_dir(spark, str(csv_dir), str(out_dir), specs=f1_specs, strict=True)
    glob = str(csv_dir / "*.csv")
    assert str(err.value) == f"{glob}: unparseable value(s) in strict field(s) ['birth_date']"
    assert _tree_bytes(out_dir) == before
    assert sorted(p.name for p in tmp_path.iterdir()) == ["csv", "out"]

    _write_csv(csv_dir / "b.csv", [_f1_row(3)])
    df = convert_csv_dir(spark, str(csv_dir), str(out_dir), specs=f1_specs, strict=True)
    assert sorted(r.id for r in df.collect()) == [1, 2, 3]
    assert sorted(p.name for p in tmp_path.iterdir()) == ["csv", "out"]
