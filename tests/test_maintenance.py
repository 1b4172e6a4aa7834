"""Compaction: file-count reduction, data fidelity, atomic swap, sorted
rewrite with selective row-group stats."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

from csv_parquet_s3_spark.maintenance import (
    _STAGING_MARKERS,
    compact,
    dataset_bytes,
    input_bytes,
    parquet_file_count,
)


def _fragmented_dataset(spark, path, n_files=24, rows=6000):
    (
        spark.range(rows)
        .select(
            F.col("id"),
            (F.col("id") % 97).alias("k"),
            F.md5(F.col("id").cast("string").cast("binary")).alias("payload"),
        )
        .repartition(n_files)
        .write.mode("overwrite")
        .parquet(path)
    )


def test_input_bytes_sums_the_files_a_frame_reads(spark, tmp_path):
    path = str(tmp_path / "ds")
    _fragmented_dataset(spark, path, n_files=3, rows=300)
    read = spark.read.parquet(path).filter(F.col("k") < 5)
    assert input_bytes(read) == dataset_bytes(path) > 0
    assert input_bytes(spark.range(3)) == 0


def test_compact_reduces_files_preserves_rows(spark, tmp_path):
    path = str(tmp_path / "ds")
    _fragmented_dataset(spark, path)
    before = spark.read.parquet(path)
    n_before = parquet_file_count(path)
    checksum_before = before.agg(F.sum(F.crc32(F.concat_ws("|", "id", "k", "payload")))).collect()[0][0]

    n_after = compact(spark, path, target_file_bytes=256 * 1024 * 1024)

    assert n_after < n_before
    after = spark.read.parquet(path)
    assert after.count() == 6000
    checksum_after = after.agg(F.sum(F.crc32(F.concat_ws("|", "id", "k", "payload")))).collect()[0][0]
    assert checksum_after == checksum_before
    # no staging/backup residue next to the dataset
    parent = os.path.dirname(path)
    assert [d for d in os.listdir(parent) if "._" in d] == []


def test_compact_sorted_clusters_key_ranges(spark, tmp_path):
    path = str(tmp_path / "sorted_ds")
    _fragmented_dataset(spark, path)

    compact(spark, path, target_file_bytes=64 * 1024, sort_by=["id"])

    # every output file must cover a disjoint id range (range partitioning):
    # per-file min/max do not overlap → parquet stats prune point lookups
    per_file = (
        spark.read.parquet(path)
        .groupBy(F.input_file_name().alias("f"))
        .agg(F.min("id").alias("lo"), F.max("id").alias("hi"))
        .collect()
    )
    spans = sorted((r.lo, r.hi) for r in per_file)
    assert len(spans) > 1
    for (_, hi_prev), (lo_next, _) in zip(spans, spans[1:]):
        assert hi_prev < lo_next


def test_upsert_updates_inserts_preserves(spark, tmp_path):
    from csv_parquet_s3_spark.maintenance import upsert

    path = str(tmp_path / "target")
    spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], "id bigint, tag string, v double"
    ).write.parquet(path)

    updates = spark.createDataFrame(
        [(2, "B2", 99.0), (9, "new", 1.0)], "id bigint, tag string, v double"
    )
    n_updated, n_inserted = upsert(spark, path, updates, key="id")
    assert (n_updated, n_inserted) == (1, 1)

    got = {r.id: (r.tag, r.v) for r in spark.read.parquet(path).collect()}
    assert got == {
        1: ("a", 10.0),     # untouched
        2: ("B2", 99.0),    # updated
        3: ("c", 30.0),     # untouched
        9: ("new", 1.0),    # inserted
    }


def test_zorder_improves_two_column_skipping(spark, tmp_path):
    """After Z-order on (x, y), per-file min/max ranges must be selective on
    BOTH columns — a single-column sort can only localize its own column."""
    from csv_parquet_s3_spark.maintenance import compact_zorder

    path = str(tmp_path / "zds")
    (
        spark.range(20000)
        .selectExpr("id", "id % 141 AS x", "CAST(id / 141 AS BIGINT) AS y")
        .repartition(16)
        .write.mode("overwrite")
        .parquet(path)
    )

    def avg_span(col):
        rows = (
            spark.read.parquet(path)
            .groupBy(F.input_file_name())
            .agg((F.max(col) - F.min(col)).alias("span"))
            .collect()
        )
        return sum(r.span for r in rows) / len(rows)

    x_before, y_before = avg_span("x"), avg_span("y")
    n = compact_zorder(spark, path, ["x", "y"], target_file_bytes=16 * 1024)
    assert n > 4  # multiple files → skipping is meaningful
    x_after, y_after = avg_span("x"), avg_span("y")
    # both dimensions localize (range-per-file shrinks materially)
    assert x_after < 0.7 * x_before
    assert y_after < 0.7 * y_before
    # data intact
    assert spark.read.parquet(path).count() == 20000


# ---------------------------------------------------------------------------
# Hilbert clustering (NOTES #4).
# ---------------------------------------------------------------------------
def _hilbert_ref(xs, bits):
    """Reference Skilling transform (transposed coords -> Hilbert index)."""
    X = list(xs)
    n = len(X)
    m = 1 << (bits - 1)
    q = m
    while q > 1:
        p = q - 1
        for i in range(n):
            if X[i] & q:
                X[0] ^= p
            else:
                t = (X[0] ^ X[i]) & p
                X[0] ^= t
                X[i] ^= t
        q >>= 1
    for i in range(1, n):
        X[i] ^= X[i - 1]
    t = 0
    q = m
    while q > 1:
        if X[n - 1] & q:
            t ^= q - 1
        q >>= 1
    for i in range(n):
        X[i] ^= t
    h = 0
    for b in range(bits - 1, -1, -1):
        for i in range(n):
            h = (h << 1) | ((X[i] >> b) & 1)
    return h


def test_hilbert_index_matches_reference_and_is_adjacent(spark):
    """Exhaustive small grids: the SQL transform equals the reference
    bit-for-bit, is a bijection, and consecutive keys are always grid
    neighbors (the Hilbert property Z-order lacks)."""
    import itertools

    from csv_parquet_s3_spark.maintenance import with_hilbert_index

    for n, bits in ((2, 4), (3, 3), (4, 2)):
        cells = list(itertools.product(range(1 << bits), repeat=n))
        df = spark.createDataFrame(
            cells, ", ".join(f"c{j} int" for j in range(n))
        )
        got = {
            tuple(r[j] for j in range(n)): r["_h"]
            for r in with_hilbert_index(df, [f"c{j}" for j in range(n)], bits).collect()
        }
        ref = {c: _hilbert_ref(list(c), bits) for c in cells}
        assert got == ref
        assert len(set(got.values())) == len(cells)  # bijection
        walk = sorted(got.items(), key=lambda kv: kv[1])
        assert all(
            sum(abs(a - b) for a, b in zip(walk[k][0], walk[k + 1][0])) == 1
            for k in range(len(walk) - 1)
        )


def test_compact_hilbert_preserves_data_and_tightens_files(spark, tmp_path):
    """Lifecycle: staged-swap compaction with Hilbert clustering keeps every
    row and yields per-file min/max spans on BOTH cluster columns no wider
    than unclustered layout (the data-skipping payoff)."""
    from csv_parquet_s3_spark.maintenance import compact_hilbert

    path = str(tmp_path / "ds")
    df = spark.range(20000).select(
        F.col("id"),
        (F.col("id") * 37 % 1000).alias("a"),
        (F.col("id") * 91 % 1000).alias("b"),
    )
    df.repartition(8).write.parquet(path)
    before = sorted(r.id for r in spark.read.parquet(path).collect())

    n_files = compact_hilbert(spark, path, ["a", "b"], target_file_bytes=64 * 1024)
    after_df = spark.read.parquet(path)
    assert sorted(r.id for r in after_df.collect()) == before
    assert n_files >= 2

    # per-file spans: with Hilbert clustering each file covers a compact
    # region of (a, b) space, so the mean span is far below the full range
    spans = (
        after_df.withColumn("f", F.input_file_name())
        .groupBy("f")
        .agg(
            (F.max("a") - F.min("a")).alias("sa"),
            (F.max("b") - F.min("b")).alias("sb"),
        )
        .collect()
    )
    mean_span = sum((r.sa + r.sb) / 2 for r in spans) / len(spans)
    assert mean_span < 700, mean_span  # full range would be ~999


# ---------------------------------------------------------------------------
# delete_where — the shared O13 primitive (purge.Purger routes through it)
# ---------------------------------------------------------------------------
def _delete_where_seed(spark, path):
    spark.createDataFrame(
        [(1, 10), (2, 20), (3, None), (4, 40), (5, 50)],
        "id BIGINT, v BIGINT",
    ).write.parquet(path)


def test_delete_where_null_predicate_rows_survive(spark, tmp_path):
    from csv_parquet_s3_spark.maintenance import delete_where

    path = str(tmp_path / "dw")
    _delete_where_seed(spark, path)
    status, matched, kept = delete_where(spark, path, "v >= 40")
    assert (status, matched, kept) == ("purged", 2, 3)
    left = {r.id for r in spark.read.parquet(path).collect()}
    assert left == {1, 2, 3}  # NULL-predicate row (id=3) survives


def test_delete_where_guard_aborts_without_writing(spark, tmp_path):
    import os

    from csv_parquet_s3_spark.maintenance import delete_where

    path = str(tmp_path / "dw")
    _delete_where_seed(spark, path)
    files_before = sorted(os.listdir(path))
    status, matched, kept = delete_where(spark, path, "v >= 20", guard_max=1)
    assert (status, matched, kept) == ("aborted", 3, -1)
    assert sorted(os.listdir(path)) == files_before  # untouched


def test_delete_where_dry_run_counts_but_never_writes(spark, tmp_path):
    import os

    from csv_parquet_s3_spark.maintenance import delete_where

    path = str(tmp_path / "dw")
    _delete_where_seed(spark, path)
    files_before = sorted(os.listdir(path))
    status, matched, kept = delete_where(spark, path, "v >= 40", dry_run=True)
    assert (status, matched, kept) == ("dry_run", 2, -1)
    assert sorted(os.listdir(path)) == files_before


def test_delete_where_zero_match_short_circuits(spark, tmp_path):
    import os

    from csv_parquet_s3_spark.maintenance import delete_where

    path = str(tmp_path / "dw")
    _delete_where_seed(spark, path)
    files_before = sorted(os.listdir(path))
    status, matched, kept = delete_where(spark, path, "v > 1000")
    assert (status, matched, kept) == ("purged", 0, 5)
    # no staging write, no swap — the exact same files remain
    assert sorted(os.listdir(path)) == files_before


def test_delete_where_single_file_table(spark, tmp_path):
    """The per-file ingest mode produces single-FILE tables; the swap's
    backup removal must handle a file target, not just a directory."""
    import shutil

    from csv_parquet_s3_spark.maintenance import delete_where

    staging = str(tmp_path / "stage")
    _delete_where_seed(spark, staging)
    part = next(
        p for p in __import__("os").listdir(staging) if p.endswith(".parquet")
    )
    single = str(tmp_path / "single.parquet")
    shutil.copyfile(f"{staging}/{part}", single)
    n_before = spark.read.parquet(single).count()
    status, matched, kept = delete_where(spark, single, "v >= 40")
    assert status == "purged" and matched >= 0 and kept == n_before - matched
    assert spark.read.parquet(single).count() == kept


# ---------------------------------------------------------------------------
# Versioned publication (manifest indirection): the root is never missing —
# publication is ONE atomic pointer rename, not a rename-aside swap.
# ---------------------------------------------------------------------------
def _stage_version(root, payload: str):
    import os
    import uuid

    staged = os.path.join(root, f"v-{uuid.uuid4().hex}")
    os.makedirs(staged)
    with open(os.path.join(staged, "data.txt"), "w") as fh:
        fh.write(payload)
    return staged


def test_publish_resolve_roundtrip_and_vacuum(tmp_path):
    import os

    from csv_parquet_s3_spark.maintenance import (
        publish_version,
        resolve_published,
    )

    root = str(tmp_path / "idx")
    os.makedirs(root)
    assert resolve_published(root) is None
    assert resolve_published(str(tmp_path / "absent")) is None

    # legacy flat-layout artifacts + a crashed build both vacuum on publish
    os.makedirs(os.path.join(root, "doc_tf"))
    crashed = _stage_version(root, "crashed")

    v1 = publish_version(root, _stage_version(root, "one"))
    assert resolve_published(root) == v1
    assert not os.path.exists(os.path.join(root, "doc_tf"))
    assert not os.path.exists(crashed)

    v2 = publish_version(root, _stage_version(root, "two"))
    assert resolve_published(root) == v2
    # keep-one-generation (r09 advisory): the superseded version survives
    # one publish cycle so a reader that resolved it just before the flip
    # can still execute its lazy plan; the NEXT publish reaps it.
    assert os.path.exists(v1), "previous generation vacuumed too early"
    with open(os.path.join(v2, "data.txt")) as fh:
        assert fh.read() == "two"

    v3 = publish_version(root, _stage_version(root, "three"))
    assert resolve_published(root) == v3
    assert not os.path.exists(v1), "generation N-2 not vacuumed"
    assert os.path.exists(v2), "previous generation vacuumed too early"


def test_ensure_published_guard_rebuild_and_consistency(tmp_path):
    import os

    from csv_parquet_s3_spark.maintenance import (
        ensure_published,
        resolve_published,
    )

    root = str(tmp_path / "idx")
    builds = []

    def build(staged):
        os.makedirs(staged)
        builds.append(staged)

    fp = {"mtime_ns": 1, "format": 1}
    v1 = ensure_published(root, fp, build)
    assert len(builds) == 1 and resolve_published(root) == v1

    # matching fingerprint: no rebuild, same version returned
    assert ensure_published(root, fp, build) == v1
    assert len(builds) == 1

    # changed fingerprint: rebuild into a NEW published version; the
    # superseded one is kept one generation (keep-one vacuum policy)
    v2 = ensure_published(root, {"mtime_ns": 2, "format": 1}, build)
    assert len(builds) == 2 and v2 != v1 and resolve_published(root) == v2
    assert os.path.exists(v1)

    # a failing consistency hook forces a rebuild even on a matching print
    v3 = ensure_published(
        root, {"mtime_ns": 2, "format": 1}, build, consistent=lambda d: False
    )
    assert len(builds) == 3 and v3 != v2
    assert not os.path.exists(v1) and os.path.exists(v2)


def test_publish_concurrent_reader_replay(spark, tmp_path):
    """The ACTUAL reader guarantee behind keep-one-generation (r10 verdict
    #6): a lazy DataFrame resolved against generation N-1 still EXECUTES
    after generation N publishes and N-2 is reaped. Spark captures the file
    listing at ``read.parquet`` time but opens the files at job execution —
    so the superseded version's directory must physically survive one
    publish cycle, which is exactly what the pointer's second line buys."""
    import os

    from csv_parquet_s3_spark.maintenance import (
        publish_version,
        resolve_published,
    )

    root = str(tmp_path / "idx")
    os.makedirs(root)

    def stage(tag: str, n: int) -> str:
        staged = os.path.join(root, f"v-{tag}")
        (
            spark.range(n)
            .selectExpr("id", f"'{tag}' AS tag")
            .write.parquet(os.path.join(staged, "data"))
        )
        return staged

    v1 = publish_version(root, stage("one", 10))
    v2 = publish_version(root, stage("two", 20))

    # a reader resolves the then-current generation (v2) and builds a lazy
    # plan — no action yet (the pre-flip reader of the r09 advisory)
    reader = spark.read.parquet(os.path.join(resolve_published(root), "data"))

    # generation N publishes: v2 becomes N-1 (kept), v1 is N-2 (reaped)
    v3 = publish_version(root, stage("three", 30))
    assert resolve_published(root) == v3
    assert not os.path.exists(v1), "generation N-2 should be reaped"
    assert os.path.exists(v2), "generation N-1 must survive one cycle"

    # the pre-flip reader's lazy plan still executes, against v2's files
    rows = reader.collect()
    assert len(rows) == 20
    assert {r["tag"] for r in rows} == {"two"}


def test_ensure_published_fastpath_pointer_vanished(tmp_path, monkeypatch):
    """r10 advisory (low): the fingerprint-match fast path re-reads the
    pointer before vacuuming; if that second read comes back empty (pointer
    removed between the two reads), keep would be ``{None}`` and the vacuum
    would reap EVERY generation including the active one. The guard skips
    the vacuum in that window instead."""
    import os

    import csv_parquet_s3_spark.maintenance as m

    root = str(tmp_path / "idx")

    def build(staged):
        os.makedirs(staged)

    fp = {"mtime_ns": 1}
    v1 = m.ensure_published(root, fp, build)

    real = m._read_pointer
    calls: list = []

    def flaky(r):
        calls.append(r)
        if len(calls) >= 2:  # the fast path's re-read: pointer vanished
            return None, None
        return real(r)

    monkeypatch.setattr(m, "_read_pointer", flaky)
    got = m.ensure_published(root, fp, build)
    assert got == v1
    assert os.path.exists(v1), "fast-path vacuum reaped the active version"


def test_ensure_published_failure_and_fastpath_hygiene(tmp_path):
    import os

    import pytest

    from csv_parquet_s3_spark.maintenance import ensure_published

    root = str(tmp_path / "idx")

    def build(staged):
        os.makedirs(staged)

    fp = {"mtime_ns": 1, "format": 1}
    v1 = ensure_published(root, fp, build)

    # a THROWING build removes its partial staging dir before re-raising
    def bad_build(staged):
        os.makedirs(staged)
        with open(os.path.join(staged, "partial.parquet"), "w") as fh:
            fh.write("x")
        raise RuntimeError("executor lost")

    with pytest.raises(RuntimeError):
        ensure_published(root, {"mtime_ns": 2, "format": 1}, bad_build)
    versions = [e for e in os.listdir(root) if e.startswith("v-")]
    assert versions == [os.path.basename(v1)], "failed staging dir lingers"

    # a HARD-crashed build (no exception path ran — simulate by planting
    # the dir) is reaped by the fingerprint-match fast path, which keeps
    # only the active version and the pointer-recorded previous generation
    crashed = _stage_version(root, "crashed")
    assert ensure_published(root, fp, build) == v1
    assert not os.path.exists(crashed), "crashed build not reaped on fast path"
    assert os.path.exists(v1)


# ---------------------------------------------------------------------------
# The one staged-commit primitive: a crash at any step of `staged()` leaves
# readers on the complete old or the complete new rows, and `vacuum` heals
# every leftover it can leave.
# ---------------------------------------------------------------------------
OLD_IDS, NEW_IDS = list(range(10)), list(range(100, 120))


def _crash_at(mp, owner, name, crash_at):
    """Make the ``crash_at`` (1-based) calls of ``owner.name`` raise, as a
    crash at that call would."""
    real, calls = getattr(owner, name), []

    def crashing(*args):
        calls.append(args)
        if len(calls) in crash_at:
            raise OSError(f"injected crash at {name} call {len(calls)}")
        return real(*args)

    mp.setattr(owner, name, crashing)


# step -> (function to crash, its 1-based calls that raise): os.rename's
# calls are staged()'s rename aside, rename in and rollback rename; the
# first `_rm_any` is the swap's removal of the replaced root
_CRASHES = {
    "rename_aside": ("rename", {1}),
    "rename_in": ("rename", {2}),
    "rename_in_and_rollback": ("rename", {2, 3}),  # the process dies between renames
    "backup_removal": ("_rm_any", {1}),
}


@pytest.mark.parametrize("step", ["write", *_CRASHES])
def test_staged_crash_points_leave_a_complete_version(spark, tmp_path, monkeypatch, step):
    import csv_parquet_s3_spark.maintenance as m

    path = str(tmp_path / "ds")
    spark.createDataFrame([(i,) for i in OLD_IDS], "id bigint").write.parquet(path)
    new = spark.createDataFrame([(i,) for i in NEW_IDS], "id bigint")
    if step == "write":  # the job fails after some tasks wrote their parts
        new = new.repartition(4).select(
            F.when(F.col("id") == 113, F.raise_error(F.lit("injected crash in write")))
            .otherwise(F.col("id"))
            .alias("id")
        )
    with monkeypatch.context() as mp:
        if step in _CRASHES:
            name, crash_at = _CRASHES[step]
            _crash_at(mp, m.os if name == "rename" else m, name, crash_at)
        with pytest.raises(Exception, match="injected crash"):
            m._staged_overwrite(new, path, "._compact-")

    want = NEW_IDS if step == "backup_removal" else OLD_IDS
    if step != "rename_in_and_rollback":  # the process lived to roll back
        assert sorted(r.id for r in spark.read.parquet(path).collect()) == want
    m.vacuum(path)
    assert [d for d in os.listdir(tmp_path) if "._" in d] == []
    assert sorted(r.id for r in spark.read.parquet(path).collect()) == want


@pytest.mark.parametrize("marker", _STAGING_MARKERS)
def test_vacuum_removes_an_orphan_with_every_staging_marker(tmp_path, marker):
    from csv_parquet_s3_spark.maintenance import vacuum

    path = tmp_path / "ds"
    path.mkdir()
    (path / "part-0.parquet").write_text("live")
    orphan = tmp_path / f"ds{marker}deadbeef"
    orphan.mkdir()
    (orphan / "part-0.parquet").write_text("junk")

    assert vacuum(str(path)) == [str(orphan)]
    assert sorted(os.listdir(tmp_path)) == ["ds"]
    assert (path / "part-0.parquet").read_text() == "live"


def test_staged_bootstraps_a_missing_path_and_rejects_unknown_markers(spark, tmp_path):
    from csv_parquet_s3_spark.maintenance import _staged_overwrite, staged

    path = str(tmp_path / "fresh")
    _staged_overwrite(spark.range(3), path, "._compact-")
    assert spark.read.parquet(path).count() == 3
    assert os.listdir(tmp_path) == ["fresh"]
    with pytest.raises(ValueError, match=r"\._bogus-"):
        with staged(path, "._bogus-"):
            pass


def test_scratch_dirs_exist_while_the_process_runs_and_go_at_exit(tmp_path):
    """Every per-call index, staging and checkpoint directory comes from
    ``scratch_dir``: one per-process root in the temp directory, removed at
    interpreter exit, so a long sweep leaves nothing behind. No Spark."""
    code = (
        "import os\n"
        "from csv_parquet_s3_spark.maintenance import scratch_dir\n"
        "a, b = scratch_dir('idx_'), scratch_dir('ckpt_')\n"
        "assert a != b and os.path.isdir(a) and os.path.isdir(b)\n"
        "assert os.path.dirname(a) == os.path.dirname(b)\n"
        "open(os.path.join(a, 'part-0.parquet'), 'w').write('x')\n"
        "print(os.path.dirname(a))\n"
    )
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {**os.environ, "TMPDIR": str(tmp_path), "PYTHONPATH": repo}
    out = subprocess.run(
        [sys.executable, "-c", code], env=env, capture_output=True, text=True, timeout=120
    )
    assert out.returncode == 0, out.stderr
    assert os.path.dirname(out.stdout.strip()) == str(tmp_path)
    assert os.listdir(tmp_path) == []
