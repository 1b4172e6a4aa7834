"""Seeded, fingerprinted inputs for the benchmark workloads.

Everything is written under the benchmark's work area (``.perfbench_work/`` at
the checkout root, gitignored). Each generated directory carries a
``manifest.json`` holding its fingerprint and the expected outputs the checks
compare against; a directory whose fingerprint matches is reused as is.

Two input sets exist:

* ``csv_inputs(seed)``: a lineitem-shaped CSV directory covering every declared
  type (INT32, INT64, DATE, TIMESTAMP_MICROS, DECIMAL, STRING) plus a unique
  ``row_id``, a dirty copy with seeded bad strict cells, the matching
  ``schema.json``, and the ``maintain`` victim sets (date windows and keyed
  row-id sets). Used by ``ingest`` and ``maintain``.
* ``query_tables()``: the ten-table star schema the registered queries read,
  generated from a fixed data seed (the run seed only orders the query mix), so
  the DuckDB oracle hashes are computed once per checkout.

Expected hashes are computed by DuckDB from the generated files, never by the
program under test.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from decimal import Decimal

import numpy as np

GEN_VERSION = 4

# Row counts per scale. "full" has the row counts of the sf0.1 tables the
# program's own bench reads (see perfbench/README.md, "Query tables against
# sf0.1"); the CSV input is kept small enough that a closed-loop run completes
# several operations inside one measurement window.
SCALES = {
    "full": {
        "csv_rows": 150_000,
        "csv_files": 8,
        "dirty_files": 3,
        "bad_rows_per_dirty_file": 7,
        "maintain_cycles": 8,
        "victim_frac": 0.01,
        "lineitem": 600_000,
        "orders": 150_000,
        "customer": 15_000,
        "supplier": 1_000,
        "part": 20_000,
        "documents": 5_000,
        "embeddings": 2_000,
        "events": 100_000,
    },
    "tiny": {
        "csv_rows": 6_000,
        "csv_files": 4,
        "dirty_files": 1,
        "bad_rows_per_dirty_file": 3,
        "maintain_cycles": 4,
        "victim_frac": 0.02,
        "lineitem": 6_000,
        "orders": 1_500,
        "customer": 150,
        "supplier": 10,
        "part": 200,
        "documents": 500,
        "embeddings": 500,
        "events": 1_000,
    },
}

QUERY_DATA_SEED = 20240611

# Length of each maintain purge window, in ship dates (of 2,500).
WINDOW_DAYS = 10

CSV_SCHEMA = {
    "name": "lineitem_csv",
    "fields": [
        {"name": "row_id", "type": "INT64", "repetition": "REQUIRED"},
        {"name": "l_orderkey", "type": "INT64"},
        {"name": "l_linenumber", "type": "INT32"},
        {"name": "l_shipdate", "type": "INT32", "logicalType": "DATE"},
        {"name": "l_commit_ts", "type": "INT64", "logicalType": "TIMESTAMP_MICROS"},
        {"name": "l_quantity", "type": "BINARY", "logicalType": "DECIMAL", "precision": 12, "scale": 2},
        {"name": "l_extendedprice", "type": "BINARY", "logicalType": "DECIMAL", "precision": 12, "scale": 2},
        {"name": "l_discount", "type": "BINARY", "logicalType": "DECIMAL", "precision": 4, "scale": 2},
        {"name": "l_returnflag", "type": "BINARY", "logicalType": "STRING"},
        {"name": "l_comment", "type": "BINARY", "logicalType": "STRING"},
    ],
}

# DuckDB types matching what the program writes for each declared field.
_DUCK_TYPES = {
    "row_id": "BIGINT",
    "l_orderkey": "BIGINT",
    "l_linenumber": "INTEGER",
    "l_shipdate": "DATE",
    "l_commit_ts": "TIMESTAMP",
    "l_quantity": "DECIMAL(12,2)",
    "l_extendedprice": "DECIMAL(12,2)",
    "l_discount": "DECIMAL(4,2)",
    "l_returnflag": "VARCHAR",
    "l_comment": "VARCHAR",
}
CSV_COLUMNS = [f["name"] for f in CSV_SCHEMA["fields"]]

# The 30-word vocabulary of the sf0.1 documents table; a near-duplicate
# document there is an earlier one with " dup" appended.
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()


def work_root(checkout: str) -> str:
    return os.path.join(checkout, ".perfbench_work")


# DuckDB hash of one CSV-shaped row over each column's text form
_ROW_HASH = "CAST(hash({}) AS HUGEINT)".format(
    ", ".join(f"coalesce(CAST({c} AS VARCHAR), '\\N')" for c in CSV_COLUMNS)
)


def row_hash_sql(relation: str) -> str:
    """Order-insensitive content hash of the CSV-shaped rows in ``relation``:
    the sum of per-row hashes."""
    return f"SELECT count(*), CAST(sum({_ROW_HASH}) AS VARCHAR) FROM {relation}"


def csv_relation(path_glob: str, filename: bool = False) -> str:
    types = ", ".join(f"'{c}': '{t}'" for c, t in _DUCK_TYPES.items())
    return (
        f"read_csv('{path_glob}', header=true, columns={{{types}}}, filename={str(filename).lower()}, "
        "quote='\"', escape='\"', timestampformat='%Y-%m-%d %H:%M:%S.%f')"
    )


def parquet_hash(con, path: str) -> tuple[int, str]:
    """(rows, hash) of a Parquet file or directory, via DuckDB."""
    target = os.path.join(path, "**", "*.parquet") if os.path.isdir(path) else path
    n, h = con.sql(row_hash_sql(f"read_parquet('{target}')")).fetchone()
    return int(n), str(h)


def _fingerprint(kind: str, **params) -> str:
    blob = json.dumps({"kind": kind, "version": GEN_VERSION, **params}, sort_keys=True)
    return hashlib.sha256(blob.encode()).hexdigest()[:16]


def _cached(path: str, fp: str) -> dict | None:
    try:
        with open(os.path.join(path, "manifest.json")) as fh:
            manifest = json.load(fh)
    except (OSError, ValueError):
        return None
    return manifest if manifest.get("fingerprint") == fp else None


def _publish(tmp: str, final: str, manifest: dict) -> dict:
    with open(os.path.join(tmp, "manifest.json"), "w") as fh:
        json.dump(manifest, fh, indent=1, sort_keys=True)
    shutil.rmtree(final, ignore_errors=True)
    os.rename(tmp, final)
    return manifest


# ---------------------------------------------------------------------------
# CSV inputs (ingest, maintain)
# ---------------------------------------------------------------------------
def _csv_frame(rng: np.random.Generator, n: int):
    import pyarrow as pa

    day0 = np.datetime64("1995-01-02")
    ship = day0 + rng.integers(0, 2500, n).astype("timedelta64[D]")
    secs = rng.integers(0, 86_400, n).astype("timedelta64[s]")
    micros = rng.integers(0, 1_000_000, n)
    ts = [
        f"{s}.{m:06d}".replace("T", " ")
        for s, m in zip((ship.astype("datetime64[s]") + secs).astype(str), micros)
    ]
    qty = rng.integers(100, 5001, n)  # cents
    price = rng.integers(90_000, 10_500_000, n)
    disc = rng.integers(0, 11, n)
    comment_words = rng.integers(0, len(_WORDS), (n, 4))
    words = np.array(_WORDS, dtype=object)
    comments = [" ".join(r) for r in words[comment_words]]
    # a comma and a quote in some comments exercise RFC-4180 quoting
    for i in np.flatnonzero(rng.random(n) < 0.02):
        comments[i] = comments[i].replace(" ", ', "q" ', 1)
    comment_arr = pa.array(comments, mask=rng.random(n) < 0.01)
    return pa.table(
        {
            "row_id": pa.array(np.arange(n, dtype=np.int64)),
            "l_orderkey": pa.array(rng.integers(0, n // 4 + 1, n)),
            "l_linenumber": pa.array(rng.integers(1, 8, n).astype(np.int32)),
            "l_shipdate": pa.array(ship.astype(str)),
            "l_commit_ts": pa.array(ts),
            "l_quantity": pa.array([f"{q // 100}.{q % 100:02d}" for q in qty]),
            "l_extendedprice": pa.array([f"{p // 100}.{p % 100:02d}" for p in price]),
            "l_discount": pa.array([f"0.{d:02d}" for d in disc]),
            "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n)]),
            "l_comment": comment_arr,
        }
    )


_BAD_CELLS = (
    ("l_orderkey", "12x"),
    ("l_linenumber", "99999999999"),
    ("l_shipdate", "1996-13-45"),
    ("l_commit_ts", "1996-01-01 10:00:00.1234"),
)


def csv_inputs(checkout: str, seed: int, scale: str = "full") -> dict:
    """Generate (or reuse) the seeded CSV inputs; return their manifest.

    Layout: ``clean/`` and ``dirty/`` CSV directories of identical file names,
    ``schema.json``, ``victims.json``. The manifest records the source hash,
    per-file hashes, the injected bad rows and the maintain expectations."""
    import duckdb
    import pyarrow as pa
    import pyarrow.csv as pacsv

    cfg = SCALES[scale]
    root = os.path.join(work_root(checkout), "csv")
    final = os.path.join(root, f"{scale}-seed{seed}")
    fp = _fingerprint("csv", seed=seed, scale=scale, cfg=cfg)
    cached = _cached(final, fp)
    if cached is not None:
        return cached
    # keep one seed per scale on disk
    if os.path.isdir(root):
        for name in os.listdir(root):
            if name.startswith(f"{scale}-seed"):
                shutil.rmtree(os.path.join(root, name), ignore_errors=True)
    tmp = final + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "clean"))
    os.makedirs(os.path.join(tmp, "dirty"))

    rng = np.random.default_rng([seed, 1])
    n, n_files = cfg["csv_rows"], cfg["csv_files"]
    table = _csv_frame(rng, n)
    bounds = np.linspace(0, n, n_files + 1).astype(int)
    files = [f"part-{i:03d}.csv" for i in range(n_files)]
    dirty_idx = sorted(rng.choice(n_files, cfg["dirty_files"], replace=False).tolist())
    bad_rows: list[int] = []
    opts = pacsv.WriteOptions(quoting_style="needed")
    for i, name in enumerate(files):
        part = table.slice(bounds[i], bounds[i + 1] - bounds[i])
        pacsv.write_csv(part, os.path.join(tmp, "clean", name), opts)
        if i not in dirty_idx:
            shutil.copyfile(os.path.join(tmp, "clean", name), os.path.join(tmp, "dirty", name))
            continue
        local = sorted(rng.choice(part.num_rows, cfg["bad_rows_per_dirty_file"], replace=False).tolist())
        cols = {
            c: [None if v is None else str(v) for v in part.column(c).to_pylist()]
            for c in part.column_names
        }
        for j in local:
            col, bad = _BAD_CELLS[int(rng.integers(0, len(_BAD_CELLS)))]
            cols[col][j] = bad
            bad_rows.append(int(bounds[i] + j))
        pacsv.write_csv(
            pa.table({c: pa.array(v, type=pa.string()) for c, v in cols.items()}),
            os.path.join(tmp, "dirty", name),
            opts,
        )
    with open(os.path.join(tmp, "schema.json"), "w") as fh:
        json.dump(CSV_SCHEMA, fh, indent=1)

    # maintain victim sets: a date window per cycle (purge) and a keyed set
    shipdates = np.array(table.column("l_shipdate").to_pylist(), dtype="datetime64[D]")
    windows, keyed = [], []
    for _ in range(cfg["maintain_cycles"]):
        # a fixed-length window keeps the changed-row count, and so every
        # rate, nearly the same from seed to seed
        start = np.datetime64("1995-01-02") + int(rng.integers(0, 2500 - WINDOW_DAYS))
        end = start + WINDOW_DAYS
        matched = int(((shipdates >= start) & (shipdates < end)).sum())
        windows.append({"start": str(start), "end": str(end), "rows": matched})
        k = max(1, int(n * cfg["victim_frac"]))
        keyed.append(sorted(rng.choice(n, k, replace=False).tolist()))
    with open(os.path.join(tmp, "victims.json"), "w") as fh:
        json.dump({"windows": windows, "keyed": keyed}, fh)

    # one scan of the clean copy gives every expected hash and sum
    bad_list = ",".join(str(r) for r in bad_rows) or "-1"
    rel = csv_relation(os.path.join(tmp, "clean", "*.csv"), filename=True)
    con = duckdb.connect()
    try:
        per_file_rows = con.sql(
            f"SELECT filename, CAST(sum(h) AS VARCHAR), CAST(sum(h) FILTER (WHERE row_id NOT IN ({bad_list})) AS VARCHAR), "
            "CAST(sum(l_quantity) AS VARCHAR), CAST(sum(l_extendedprice) AS VARCHAR) "
            f"FROM (SELECT *, {_ROW_HASH} AS h FROM {rel}) GROUP BY filename"
        ).fetchall()
    finally:
        con.close()
    per_file = {os.path.basename(r[0]): r[1] for r in per_file_rows}
    src_hash = sum_hashes(r[1] for r in per_file_rows)
    good_hash = sum_hashes(r[2] for r in per_file_rows if r[2] is not None)
    qty = str(sum(Decimal(r[3]) for r in per_file_rows))
    price = str(sum(Decimal(r[4]) for r in per_file_rows))
    rows, good_rows = n, n - len(bad_rows)
    csv_bytes = sum(os.path.getsize(os.path.join(tmp, "clean", f)) for f in files)
    dirty_bytes = sum(os.path.getsize(os.path.join(tmp, "dirty", f)) for f in files)
    manifest = {
        "fingerprint": fp,
        "seed": seed,
        "scale": scale,
        "dir": final,
        "files": files,
        "rows": int(rows),
        "csv_bytes": csv_bytes,
        "dirty_csv_bytes": dirty_bytes,
        "source_hash": str(src_hash),
        "file_hashes": per_file,
        "file_rows": {f: int(bounds[i + 1] - bounds[i]) for i, f in enumerate(files)},
        "dirty_files": [files[i] for i in dirty_idx],
        "bad_rows": len(bad_rows),
        "good_rows": int(good_rows),
        "good_hash": str(good_hash),
        "sum_quantity": qty,
        "sum_extendedprice": price,
    }
    return _publish(tmp, final, manifest)


def sum_hashes(hashes) -> str:
    return str(sum(int(h) for h in hashes))


# ---------------------------------------------------------------------------
# Query tables (query workload, and the scan anchor of every workload)
# ---------------------------------------------------------------------------
def _money(rng, lo, hi, n):
    return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)


def _days(rng, start: str, span: int, n: int):
    d = np.datetime64(start) + rng.integers(0, span, n).astype("timedelta64[D]")
    return d.astype("datetime64[us]")


def _documents(rng, n: int):
    """Documents shaped as sf0.1's: 10 to 100 words drawn uniformly from
    ``_WORDS``, 5% of them an earlier document plus " dup"."""
    texts: list[str] = []
    for i in range(n):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(_WORDS[w] for w in rng.integers(0, len(_WORDS), int(rng.integers(10, 101)))))
    return texts


def query_tables(checkout: str, scale: str = "full") -> dict:
    """Generate (or reuse) the star-schema tables; the manifest's ``dir`` is
    the ``sf_dir`` the registered queries take."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    cfg = SCALES[scale]
    final = os.path.join(work_root(checkout), f"query_tables_{scale}")
    fp = _fingerprint("query", seed=QUERY_DATA_SEED, scale=scale, cfg=cfg)
    cached = _cached(final, fp)
    if cached is not None:
        return cached
    tmp = final + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    rng = np.random.default_rng(QUERY_DATA_SEED)
    n_li, n_o, n_c, n_s, n_p = (cfg[k] for k in ("lineitem", "orders", "customer", "supplier", "part"))
    n_d, n_e = cfg["documents"], cfg["embeddings"]
    pick = lambda vals, n: np.array(vals)[rng.integers(0, len(vals), n)]  # noqa: E731
    tables = {
        "region": {
            "r_regionkey": np.arange(5, dtype=np.int32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        },
        "nation": {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        },
        "customer": {
            "c_custkey": np.arange(n_c, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_c)],
            "c_nationkey": rng.integers(0, 25, n_c).astype(np.int32),
            "c_acctbal": _money(rng, -999, 9999, n_c),
            "c_mktsegment": pick(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_c),
        },
        "supplier": {
            "s_suppkey": np.arange(n_s, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_s)],
            "s_nationkey": rng.integers(0, 25, n_s).astype(np.int32),
            "s_acctbal": _money(rng, -999, 9999, n_s),
        },
        "part": {
            "p_partkey": np.arange(n_p, dtype=np.int64),
            "p_name": [f"{a} {b}" for a, b in zip(
                pick(["small", "new", "blue", "old", "red", "large", "hot", "cold"], n_p),
                pick(["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"], n_p))],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_p)],
            "p_type": pick(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_p),
            "p_size": rng.integers(1, 51, n_p).astype(np.int32),
            "p_retailprice": 900.0 + (np.arange(n_p) % 1000) / 10.0,
        },
        "orders": {
            "o_orderkey": np.arange(n_o, dtype=np.int64),
            "o_custkey": rng.integers(0, n_c, n_o),
            "o_orderstatus": pick(["F", "O", "P"], n_o),
            "o_totalprice": _money(rng, 1000, 500000, n_o),
            "o_orderdate": _days(rng, "1995-01-01", 2404, n_o),
            "o_orderpriority": pick(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_o),
        },
        "lineitem": {
            "l_orderkey": rng.integers(0, n_o, n_li),
            "l_partkey": rng.integers(0, n_p, n_li),
            "l_suppkey": rng.integers(0, n_s, n_li),
            "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, 900, 105000, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": pick(["A", "N", "R"], n_li),
            "l_linestatus": pick(["F", "O"], n_li),
            "l_shipdate": _days(rng, "1995-01-02", 2498, n_li),
        },
    }
    texts = _documents(rng, n_d)
    tables["documents"] = {
        "doc_id": np.arange(n_d, dtype=np.int64),
        "text": texts,
        "lang": np.array(["en", "es", "fr", "de", "zh"])[rng.choice(5, n_d, p=[0.4, 0.15, 0.15, 0.15, 0.15])],
        "source": [f"src{s}" for s in rng.integers(0, 20, n_d)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }
    emb = rng.standard_normal((n_e, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = {
        "vec_id": np.arange(n_e, dtype=np.int64),
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_e).astype(np.int32),
    }
    rows = {}
    for name, cols in tables.items():
        t = pa.table(cols)
        pq.write_table(t, os.path.join(tmp, f"{name}.parquet"), compression="snappy")
        rows[name] = t.num_rows
    # events is part of the catalog; no query in the mix reads it
    n_ev = cfg["events"]
    ev_ts = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, n_ev))
    ev = {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us") + ev_ts.astype("timedelta64[us]"),
        "user_id": rng.integers(0, 1500, n_ev),
        "event_type": pick(["view", "click", "purchase", "signup", "error"], n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    }
    pq.write_table(pa.table(ev), os.path.join(tmp, "events.parquet"), compression="snappy")
    rows["events"] = n_ev
    content = hashlib.sha256()
    for name in sorted(rows):
        with open(os.path.join(tmp, f"{name}.parquet"), "rb") as fh:
            content.update(fh.read())
    manifest = {"fingerprint": fp, "scale": scale, "dir": final, "rows": rows, "content": content.hexdigest()[:16]}
    return _publish(tmp, final, manifest)


# Oracle hashes computed earlier, keyed by the tables' content digest and the
# oracle SQL's digest, so a new checkout need not spend two minutes in DuckDB
# on them. A key missing here (other table bytes, changed ORACLES) is computed
# and cached in the tables' directory instead.
KNOWN_ORACLES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "oracle_hashes.json")


def oracle_hashes(checkout: str, tables: dict, names: list[str]) -> dict:
    """DuckDB oracle result hash per query over ``tables``."""
    import duckdb

    from csv_parquet_s3_spark.operators import ORACLES
    from csv_parquet_s3_spark.sources.tables import TABLES

    sf = tables["dir"]
    digest = hashlib.sha256("\n".join(ORACLES[n] for n in names).encode()).hexdigest()[:16]
    key = f"{tables['content']}-{digest}"
    with open(KNOWN_ORACLES) as fh:
        known = json.load(fh)
    if key in known:
        return known[key]
    cache = os.path.join(sf, f"oracles-{digest}.json")
    try:
        with open(cache) as fh:
            return json.load(fh)
    except (OSError, ValueError):
        pass
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
        out = {}
        for n in names:
            pdf = con.sql(ORACLES[n]).df()
            out[n] = {"rows": len(pdf), "hash": frame_hash(pdf)}
    finally:
        con.close()
    with open(cache, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
    return out


def frame_hash(pdf) -> str:
    """Order-insensitive hash of a pandas frame: columns sorted by name, rows
    rendered as text and sorted (timezones stripped, as the oracle reads
    naive timestamps)."""
    import pandas as pd

    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        if pd.api.types.is_datetime64_any_dtype(pdf[c]) and getattr(pdf[c].dt, "tz", None) is not None:
            pdf[c] = pdf[c].dt.tz_localize(None)
    body = "\n".join(sorted(pdf.astype(str).apply("|".join, axis=1))) if len(pdf) else ""
    return hashlib.md5(body.encode()).hexdigest()
