"""The three workloads: ``query``, ``ingest`` and ``maintain``.

Each workload is a closed loop with one client. Its constructor makes (or
reuses) the seeded inputs and expected outputs, before the clock starts;
``prepare`` is the program's set-up (timed into ``setup_s``); ``warmup`` runs
checked operations before the measurement window (nothing for ``query``);
``unit`` runs one indivisible round of operations. The runner runs ``ceil(seconds / unit_s)``
units, ``unit_s`` being a unit's nominal duration on a 4-cpu host. A fixed
unit count, rather than "until the time is up", keeps every run measuring the
same operations however fast the host is that day. Every operation goes
through :meth:`Run.op`, which times it, counts it as attempted, and counts it
as failed when it raises or when its untimed output check does not hold.
"""

from __future__ import annotations

import os
import shutil
import sys
import time
import traceback

import numpy as np

import gen

# ---------------------------------------------------------------------------
# shared run state
# ---------------------------------------------------------------------------


class Run:
    """Everything one benchmark run accumulates."""

    def __init__(self, tracer, checkout: str, seed: int, corrupt: bool) -> None:
        self.spark = None  # set once the session is up
        self.tracer = tracer
        self.checkout = checkout
        self.seed = seed
        self.corrupt = corrupt
        self.work = os.path.join(gen.work_root(checkout), "run")
        self.op_times: list[float] = []
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.check_s = 0.0  # untimed checking inside the window
        self.rows = 0  # rows counted by the workload's rows_per_s
        self.bytes_written = 0
        self.bytes_in = 0
        self.extra: dict = {}

    def op(self, layer: str, thunk, check=None):
        """Run one timed operation in a span named ``layer``; returns its
        result (None when it raised). ``check(result)`` runs untimed and
        must return True for the operation to count as correct."""
        self.attempted += 1
        result, ok = None, True
        with self.tracer.span(layer) as sp:
            try:
                result = thunk()
            except Exception:  # an operation error is a counted failure, not a crash
                ok = False
                traceback.print_exc(file=sys.stderr)
        self.op_times.append(sp["dur"])
        if not ok:
            self._failure(layer)
        elif check is not None:
            self.check(layer, lambda: check(result))
        return result

    def _failure(self, name: str) -> None:
        self.failed += 1
        self.failures.append(name)
        print(f"perfbench: {name} failed", file=sys.stderr)

    def start_window(self) -> None:
        """Forget what the warm-up accumulated, except its failures."""
        self.op_times.clear()
        self.rows = 0
        self.bytes_written = self.bytes_in = 0
        self.check_s = 0.0

    def check(self, name: str, fn) -> None:
        """Run the check ``fn()`` untimed; it counts as one failure, named
        ``name``, when it raises or returns False."""
        t = time.perf_counter()
        try:
            ok = bool(fn())
        except Exception:
            traceback.print_exc(file=sys.stderr)
            ok = False
        self.check_s += time.perf_counter() - t
        if not ok:
            self._failure(name)


def _fresh(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    return path


def _duck():
    import duckdb

    return duckdb.connect()


# ---------------------------------------------------------------------------
# query
# ---------------------------------------------------------------------------
QUERY_MIX = (
    "q01_pricing_summary",
    "q05_regional_revenue",
    "q07_nation_trade_volume",
    "q18_large_volume_orders",
    "q_window_running_revenue",
    "retrieval_bm25_from_index",
    "sim_cosine_topk_ivf_pq_from_index",
    "dedup_minhash_pairs_from_index",
    "text_bigram_kn_perplexity",
    "text_bpe_apply_merges",
)

# Source tables each query answers over: the rows counted by rows_per_s.
QUERY_TABLES = {
    "q01_pricing_summary": ("lineitem",),
    "q05_regional_revenue": ("customer", "orders", "lineitem", "supplier", "nation", "region"),
    "q07_nation_trade_volume": ("lineitem", "orders", "supplier", "customer", "nation"),
    "q18_large_volume_orders": ("lineitem", "orders", "customer"),
    "q_window_running_revenue": ("lineitem",),
    "retrieval_bm25_from_index": ("documents",),
    "sim_cosine_topk_ivf_pq_from_index": ("embeddings",),
    "dedup_minhash_pairs_from_index": ("documents",),
    "text_bigram_kn_perplexity": ("documents",),
    "text_bpe_apply_merges": ("documents",),
}


def query_layer(name: str) -> str:
    # metric names are limited to 64 characters, which leaves no room for the
    # query's module (operators.similarity_index.sim_cosine_topk_ivf_pq_...)
    return f"operators.{name}"


class Query:
    """Seed-ordered passes over the query mix, served from stored indexes."""

    unit_s = 20.0

    def __init__(self, run: Run, scale: str) -> None:
        self.run = run
        self.tables = gen.query_tables(run.checkout, scale)
        self.sf = self.tables["dir"]
        if not run.tracer.probing:
            # known hashes come from perfbench/oracle_hashes.json; other
            # tables or oracles cost about 85 s of DuckDB, once per checkout.
            # A probe pass of a traced run only times layers and is not
            # checked.
            self.expected = gen.oracle_hashes(run.checkout, self.tables, list(QUERY_MIX))

    def prepare(self) -> None:
        """Make sure the three stored indexes are published: the program's
        fingerprint guard builds them when missing or stale (the first run
        in a checkout) and validates and reuses them otherwise."""
        from csv_parquet_s3_spark.maintenance import dataset_bytes
        from csv_parquet_s3_spark.operators.minhash_index import ensure_minhash_index
        from csv_parquet_s3_spark.operators.retrieval import ensure_bm25_index
        from csv_parquet_s3_spark.operators.similarity_index import ensure_ivf_pq_index

        spark, sf = self.run.spark, self.sf
        built = 0
        for ensure in (ensure_bm25_index, ensure_minhash_index, ensure_ivf_pq_index):
            with self.run.tracer.span(f"setup.{ensure.__name__}"):
                built += dataset_bytes(ensure(spark, sf))
        src = sum(os.path.getsize(os.path.join(sf, f"{t}.parquet")) for t in ("documents", "embeddings"))
        self.index_bytes = (built, src)

    def probes(self) -> None:
        """Traced run only: build the three stored indexes from scratch, so
        their build time is measured (``prepare`` builds only in the first
        run of a checkout and otherwise validates). The build reads a copy
        of the documents and embeddings tables in a directory of its own,
        whose index roots are empty before the build and removed after."""
        from csv_parquet_s3_spark.operators.minhash_index import _minhash_index_root, ensure_minhash_index
        from csv_parquet_s3_spark.operators.retrieval import _bm25_index_root, ensure_bm25_index
        from csv_parquet_s3_spark.operators.similarity_index import _pq_index_root, ensure_ivf_pq_index

        run = self.run
        sf = _fresh(os.path.join(run.work, "index_build", f"perfbench_build_{os.path.basename(self.sf)}"))
        os.makedirs(sf)
        for t in ("documents", "embeddings"):
            shutil.copyfile(os.path.join(self.sf, f"{t}.parquet"), os.path.join(sf, f"{t}.parquet"))
        for layer, ensure, root in (
            ("operators.retrieval.ensure_bm25_index", ensure_bm25_index, _bm25_index_root(sf)),
            ("operators.minhash_index.ensure_minhash_index", ensure_minhash_index, _minhash_index_root(sf)),
            ("operators.similarity_index.ensure_ivf_pq_index", ensure_ivf_pq_index, _pq_index_root(sf)),
        ):
            _fresh(root)
            try:
                with run.tracer.span(layer):
                    ensure(run.spark, sf)
            finally:
                _fresh(root)
        _fresh(sf)

    def _order(self, i: int) -> list[str]:
        perm = np.random.default_rng([self.run.seed, i + 1]).permutation(len(QUERY_MIX))
        return [QUERY_MIX[j] for j in perm]

    def warmup(self) -> None:
        """Nothing: the measured passes start in the fresh session, so the
        first pass pays the planning and code generation a new session
        pays (every operation is checked, so a separate checking pass would
        cost a pass of its own)."""

    def unit(self, i: int) -> None:
        self.run.bytes_written, self.run.bytes_in = self.index_bytes
        for name in self._order(i):
            self._serve(name)

    def _serve(self, name: str) -> None:
        """Build the query's frame, execute it, collecting the result to the
        driver, and release its pins: one operation. The result is checked,
        untimed, against the hash of the query's DuckDB oracle."""
        from csv_parquet_s3_spark.operators import QUERIES
        from csv_parquet_s3_spark.plans.materialize import released_after

        run, layer = self.run, query_layer(name)

        def thunk():
            bracket = released_after(run.spark)
            bracket.__enter__()
            try:
                with run.tracer.span(f"{layer}.build"):
                    df = QUERIES[name](run.spark, self.sf)
                with run.tracer.span(f"{layer}.exec"):
                    return df.toPandas()
            finally:
                with run.tracer.span("plans.released_after"):
                    bracket.__exit__(None, None, None)

        def matches(pdf) -> bool:
            if run.corrupt and len(pdf):  # self-test: drop a result row
                pdf = pdf.iloc[1:]
            want = self.expected[name]
            return len(pdf) == want["rows"] and gen.frame_hash(pdf) == want["hash"]

        run.op(layer, thunk, None if run.tracer.probing else matches)
        run.rows += sum(self.tables["rows"][t] for t in QUERY_TABLES[name])


# ---------------------------------------------------------------------------
# ingest
# ---------------------------------------------------------------------------
class Ingest:
    """Round-robin of the three conversion paths over the seeded CSV input:
    the per-file pipeline path and quarantine over the dirty copy, strict
    whole-directory conversion over the clean copy."""

    unit_s = 15.0

    def __init__(self, run: Run, scale: str) -> None:
        self.run = run
        self.out = os.path.join(run.work, "ingest")
        self.m = gen.csv_inputs(run.checkout, run.seed, scale)
        self.clean = os.path.join(self.m["dir"], "clean")
        self.dirty = os.path.join(self.m["dir"], "dirty")
        run.extra["csv_bytes"] = self.m["csv_bytes"]

    def prepare(self) -> None:
        from csv_parquet_s3_spark.schema import load_schema

        self.specs = load_schema(os.path.join(self.m["dir"], "schema.json"))
        _fresh(self.out)

    def warmup(self) -> None:
        """Strict and quarantine conversion once each, checked: they load
        and compile the parse, cast, validation and write paths the per-file
        pipeline also takes, for about half the cost of a whole round."""
        self._strict_dir()
        self._quarantine()

    def unit(self, i: int) -> None:
        self._per_file()
        self._strict_dir()
        self._quarantine()

    def _commit(self, rows: int, written: int, csv_bytes: int) -> None:
        self.run.rows += rows
        self.run.bytes_written += written
        self.run.bytes_in += csv_bytes

    def _per_file(self) -> None:
        from csv_parquet_s3_spark.ingest import convert_csv_to_parquet
        from csv_parquet_s3_spark.maintenance import dataset_bytes

        run, m = self.run, self.m
        out = _fresh(os.path.join(self.out, "per_file"))

        def check(report) -> bool:
            failed = sorted(os.path.basename(p) for p in report.failed)
            good = [f for f in m["files"] if f not in m["dirty_files"]]
            with _duck() as con:
                _, h = gen.parquet_hash(con, out)
            return failed == m["dirty_files"] and h == gen.sum_hashes(m["file_hashes"][f] for f in good)

        report = run.op(
            "ingest.convert_csv_to_parquet",
            lambda: convert_csv_to_parquet(run.spark, self.dirty, out, specs=self.specs),
            check,
        )
        if report is not None:
            rows = sum(m["file_rows"][os.path.basename(p)[: -len(".parquet")] + ".csv"] for p in report.converted)
            self._commit(rows, dataset_bytes(out), m["dirty_csv_bytes"])

    def _strict_dir(self) -> None:
        from csv_parquet_s3_spark.ingest import convert_csv_dir
        from csv_parquet_s3_spark.maintenance import dataset_bytes

        run, m = self.run, self.m
        out = _fresh(os.path.join(self.out, "strict_dir"))

        def check(_df) -> bool:
            if run.corrupt:  # self-test: lose one output file
                part = sorted(f for f in os.listdir(out) if f.endswith(".parquet"))[0]
                os.remove(os.path.join(out, part))
            with _duck() as con:
                return gen.parquet_hash(con, out) == (m["rows"], m["source_hash"])

        if run.op(
            "ingest.convert_csv_dir",
            lambda: convert_csv_dir(run.spark, self.clean, out, specs=self.specs, strict=True),
            check,
        ) is not None:
            self._commit(m["rows"], dataset_bytes(out), m["csv_bytes"])

    def _quarantine(self) -> None:
        from csv_parquet_s3_spark.ingest import convert_with_quarantine
        from csv_parquet_s3_spark.maintenance import dataset_bytes

        run, m = self.run, self.m
        out = _fresh(os.path.join(self.out, "quarantine_good"))
        bad = _fresh(os.path.join(self.out, "quarantine_bad"))

        def check(counts) -> bool:
            with _duck() as con:
                good = gen.parquet_hash(con, out)
            return tuple(counts) == (m["good_rows"], m["bad_rows"]) and good == (m["good_rows"], m["good_hash"])

        if run.op(
            "ingest.convert_with_quarantine",
            lambda: convert_with_quarantine(run.spark, self.dirty, out, bad, specs=self.specs),
            check,
        ) is not None:
            self._commit(m["rows"], dataset_bytes(out) + dataset_bytes(bad), m["dirty_csv_bytes"])

    def probes(self) -> None:
        """Traced run only: strict validation, parse and write on their own,
        three times each, so encode+commit = write - parse can be read off."""
        from csv_parquet_s3_spark.ingest import check_strict, parse_csv
        from csv_parquet_s3_spark.sinks.s3 import write_parquet

        run = self.run
        glob = os.path.join(self.clean, "*.csv")
        target = os.path.join(self.out, "sink_probe")
        for _ in range(3):
            with run.tracer.span("ingest.check_strict"):
                check_strict(run.spark, glob, self.specs)
            with run.tracer.span("ingest.parse_csv"):
                parse_csv(run.spark, glob, self.specs)[0].write.format("noop").mode("overwrite").save()
            _fresh(target)
            with run.tracer.span("sinks.write_parquet"):
                write_parquet(parse_csv(run.spark, glob, self.specs)[0], target)
        files = [f for f in os.listdir(target) if f.endswith(".parquet")]
        run.extra["sinks.files_written"] = len(files)
        run.extra["sinks.output_bytes"] = sum(os.path.getsize(os.path.join(target, f)) for f in files)


# ---------------------------------------------------------------------------
# maintain
# ---------------------------------------------------------------------------
COMPACT_EVERY = 3


class Maintain:
    """Writes next to reads on the ingested table: every cycle deletes rows
    two ways, restores them, and checks the table is back to its source."""

    unit_s = 6.0

    def __init__(self, run: Run, scale: str) -> None:
        import json

        self.run = run
        self.root = os.path.join(run.work, "maintain")
        self.m = gen.csv_inputs(run.checkout, run.seed, scale)
        with open(os.path.join(self.m["dir"], "victims.json")) as fh:
            self.victims = json.load(fh)

    def prepare(self) -> None:
        from csv_parquet_s3_spark.ingest import convert_csv_dir
        from csv_parquet_s3_spark.maintenance import dataset_bytes

        run = self.run
        _fresh(self.root)
        self.source = os.path.join(self.root, "source")
        self.tables = os.path.join(self.root, "tables")
        self.table = os.path.join(self.tables, "lineitem")
        convert_csv_dir(
            run.spark,
            os.path.join(self.m["dir"], "clean"),
            self.source,
            schema_path=os.path.join(self.m["dir"], "schema.json"),
        )
        os.makedirs(self.tables)
        shutil.copytree(self.source, self.table)
        self.src = run.spark.read.parquet(self.source)
        self.row_bytes = dataset_bytes(self.source) / self.m["rows"]

    def _rewrote(self, changed_rows: int) -> None:
        from csv_parquet_s3_spark.maintenance import dataset_bytes

        self.run.rows += changed_rows
        self.run.bytes_written += dataset_bytes(self.table)
        self.run.bytes_in += changed_rows * self.row_bytes

    def warmup(self) -> None:
        self.unit(-1)

    def unit(self, i: int) -> None:
        from pyspark.sql import functions as F

        from csv_parquet_s3_spark.maintenance import compact, delete_rows, upsert
        from csv_parquet_s3_spark.purge import PurgeConfig, run_purge

        run, m = self.run, self.m
        spark = run.spark
        win = self.victims["windows"][i % len(self.victims["windows"])]
        keyed = self.victims["keyed"][i % len(self.victims["keyed"])]
        where = f"l_shipdate >= DATE '{win['start']}' AND l_shipdate < DATE '{win['end']}'"
        n, k = win["rows"], len(keyed)

        cfg = PurgeConfig("lineitem", "CRITERIA", f"WHERE {where}", max_record_count=n)

        def purged(res) -> bool:
            (o,) = res.outcomes
            return (o.status, o.rows_matched, o.rows_kept) == ("purged", n, m["rows"] - n)

        if run.op("purge.run_purge", lambda: run_purge(spark, [cfg], self.tables), purged) is not None:
            self._rewrote(n)
        if run.op(
            "maintenance.upsert",
            lambda: upsert(spark, self.table, self.src.filter(F.expr(where)), "row_id"),
            lambda r: tuple(r) == (0, n),
        ) is not None:
            self._rewrote(n)
        victims = spark.createDataFrame([(v,) for v in keyed], "row_id bigint")
        if run.op(
            "maintenance.delete_rows",
            lambda: delete_rows(spark, self.table, victims, "row_id"),
            lambda r: r == k,
        ) is not None:
            self._rewrote(k)
        if run.op(
            "maintenance.upsert",
            lambda: upsert(spark, self.table, self.src.join(victims, "row_id"), "row_id"),
            lambda r: tuple(r) == (0, k),
        ) is not None:
            self._rewrote(k)
        run.op(
            "sources.read_after_write",
            lambda: spark.read.parquet(self.table)
            .agg(F.count("*"), F.sum("l_quantity"), F.sum("l_extendedprice"))
            .collect()[0],
            lambda r: (r[0], str(r[1]), str(r[2])) == (m["rows"], m["sum_quantity"], m["sum_extendedprice"]),
        )
        if i % COMPACT_EVERY == 0:
            if run.op("maintenance.compact", lambda: compact(spark, self.table), lambda r: r >= 1) is not None:
                self._rewrote(0)
        if run.corrupt and i == 0:  # self-test: lose one table file
            part = sorted(f for f in os.listdir(self.table) if f.endswith(".parquet"))[0]
            os.remove(os.path.join(self.table, part))

        def restored() -> bool:
            with _duck() as con:
                return gen.parquet_hash(con, self.table) == (m["rows"], m["source_hash"])

        run.check("maintain.table_hash", restored)


WORKLOADS = {"query": Query, "ingest": Ingest, "maintain": Maintain}
