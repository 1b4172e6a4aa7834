"""Dataset maintenance: small-file compaction and sorted rewrite.

The small-files problem is the dominant operational failure of
directory-of-parquet datasets at scale (every file is a task + a NameNode/
object-store entry; 100 TB of 1 MiB files is 100M scheduler rounds). The
reference's only maintenance op is the purge (SURVEY.md O13-O22,
`src/SQL/AutoPurge.sql`); compaction is its natural sibling for an engine
whose ingest (streaming especially) produces per-trigger files.

Every rewrite of a live path in the package commits through
:func:`staged`: write to a staging sibling, then swap — readers never
observe a half-compacted dataset.

Scale notes: compaction is one distributed read → repartition → write; the
file-count target derives from dataset bytes, not row counts, so the same
call works at any SF. The sorted rewrite additionally clusters rows so
parquet row-group min/max stats become selective (data skipping) — the
object-store-native stand-in for indexes.
"""

from __future__ import annotations

import atexit
import contextlib
import os
import shutil
import tempfile
import threading
import uuid
from collections.abc import Iterator
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from csv_parquet_s3_spark.session import PARQUET_BLOCK_SIZE
from csv_parquet_s3_spark.sources.tables import read_parquet

DEFAULT_TARGET_FILE_BYTES = 128 * 1024 * 1024  # one row group per file


def dataset_bytes(path: str) -> int:
    """Total bytes of the parquet parts under ``path`` (local filesystems;
    on s3a:// use the FileSystem API via spark._jvm the same way)."""
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet") and not f.startswith("."):
                total += os.path.getsize(os.path.join(root, f))
    return total


def input_bytes(df: DataFrame) -> int:
    """Total bytes of the local files ``df`` reads (``DataFrame.inputFiles``,
    no Spark job). Files on other filesystems count 0, as in
    :func:`dataset_bytes`."""
    paths = [urlparse(f) for f in df.inputFiles()]
    return sum(
        os.path.getsize(unquote(u.path)) for u in paths if u.scheme in ("", "file")
    )


def parquet_file_count(path: str) -> int:
    return sum(
        1
        for _root, _dirs, files in os.walk(path)
        for f in files
        if f.endswith(".parquet") and not f.startswith(".")
    )


_SCRATCH_ROOT: str | None = None
_SCRATCH_LOCK = threading.Lock()


def scratch_dir(prefix: str) -> str:
    """A new empty directory for one call's index, staging or checkpoint
    files. The frame a query returns reads these files lazily, so they
    cannot go when the call returns; every one lives under a single
    per-process root in the system temp directory, removed at interpreter
    exit."""
    global _SCRATCH_ROOT
    with _SCRATCH_LOCK:
        if _SCRATCH_ROOT is None:
            _SCRATCH_ROOT = tempfile.mkdtemp(prefix="csv_parquet_s3_spark_")
            atexit.register(shutil.rmtree, _SCRATCH_ROOT, ignore_errors=True)
    return tempfile.mkdtemp(prefix=prefix, dir=_SCRATCH_ROOT)


def _rm_any(path: str) -> None:
    """Remove a table artifact whether it is a single file or a directory
    (the per-file ingest mode produces single-file tables)."""
    if os.path.isfile(path):
        os.remove(path)
    else:
        shutil.rmtree(path, ignore_errors=True)


# Every staging and backup sibling a commit can leave beside a live path.
# ``staged`` accepts only these markers, so ``vacuum`` recognises every
# leftover; ``._old-`` is the swap's own backup of the replaced root.
_STAGING_MARKERS = (
    "._compact-", "._upsert-", "._zorder-", "._hilbert-", "._delete-",
    "._refresh-", "._truncate-", "._staging-", "._old-",
)


def _atomic_swap(staging: str, final: str) -> None:
    """Rename-aside swap: the old root moves aside in one rename, the new
    one renames in, then the backup is removed. A missing ``final``
    (bootstrap) is one plain rename. NOT fully atomic — between the two
    renames the final path is briefly absent (true atomicity needs a
    symlink/manifest indirection, see :func:`publish_version`). If the
    rename in fails, the backup is renamed back; a process that dies
    between the renames leaves a ``._old-*`` sibling that :func:`vacuum`
    renames back."""
    if not os.path.exists(final):
        os.rename(staging, final)
        return
    backup = final + "._old-" + uuid.uuid4().hex[:8]
    os.rename(final, backup)
    try:
        os.rename(staging, final)
    except BaseException:
        os.rename(backup, final)
        raise
    _rm_any(backup)


@contextlib.contextmanager
def staged(path: str, marker: str) -> Iterator[str]:
    """The one commit protocol for rewriting a live path: yield a fresh
    ``<path><marker><hex8>`` staging sibling to write into; on a clean exit
    swap it over ``path`` (:func:`_atomic_swap`), on an exception remove
    it and re-raise, so ``path`` keeps its old content. The temp-file +
    rename commit of the reference converter
    (CsvToParquetConverter.java:147, :219) at directory granularity."""
    if marker not in _STAGING_MARKERS:
        raise ValueError(f"staging marker {marker!r} is not in _STAGING_MARKERS")
    path = path.rstrip("/")
    staging = path + marker + uuid.uuid4().hex[:8]
    try:
        yield staging
        _atomic_swap(staging, path)
    except BaseException:
        _rm_any(staging)
        raise


def _staged_overwrite(df: DataFrame, path: str, marker: str) -> None:
    """Commit ``df`` over ``path`` through :func:`staged` (snappy, one
    128 MiB row group per file) — the DataFrame form of the commit."""
    with staged(path, marker) as staging:
        (
            df.write.mode("overwrite")
            .option("compression", "snappy")
            .option("parquet.block.size", str(PARQUET_BLOCK_SIZE))
            .parquet(staging)
        )


CURRENT_MARKER = "_CURRENT"


def _read_pointer(root: str) -> tuple[str | None, str | None]:
    """``(current, previous)`` version names from the ``_CURRENT`` pointer
    file (line 1 = active version, optional line 2 = the generation it
    superseded — see :func:`publish_version`), or ``(None, None)`` if the
    pointer is missing/empty."""
    try:
        with open(os.path.join(root, CURRENT_MARKER)) as fh:
            lines = [ln.strip() for ln in fh.read().splitlines()]
    except OSError:
        return None, None
    cur = lines[0] if lines and lines[0] else None
    prev = lines[1] if len(lines) > 1 and lines[1] else None
    return cur, prev


def resolve_published(root: str) -> str | None:
    """Return the active version directory of a versioned artifact root
    (``<root>/<_CURRENT's content>``), or None if nothing is published
    (missing root, missing pointer, or a pointer naming a vanished dir)."""
    name, _prev = _read_pointer(root)
    if name is None:
        return None
    path = os.path.join(root, name)
    return path if os.path.isdir(path) else None


def _vacuum_root(root: str, keep: set[str]) -> None:
    """Remove every root entry except the pointer file and ``keep``."""
    for entry in os.listdir(root):
        if entry != CURRENT_MARKER and entry not in keep:
            _rm_any(os.path.join(root, entry))


def publish_version(root: str, staged: str) -> str:
    """Atomically publish a COMPLETE staged version directory
    (``<root>/<name>``) as the root's active version and return its path.

    Versioned-root layout — the manifest indirection that closes the
    rename-aside gap (its two-rename swap left an instant with no root at
    all):

        <root>/_CURRENT     line 1: the active version's directory name;
                            line 2 (optional): the version it superseded
        <root>/v-<uuid>/    a complete, immutable-once-published artifact set

    The flip is ONE ``os.replace`` of the pointer file — POSIX rename(2)
    atomicity — so a concurrent reader always resolves either the previous
    complete version or the new one; the root is never missing and never
    partial. Vacuum policy (an immediate unlink of the
    superseded version races a reader that resolved it just before the
    flip — Spark plans are lazy, files open at job execution, so "the OS
    keeps unlinked files readable" does NOT protect a resolved-but-not-yet-
    executed plan): the SUPERSEDED generation is KEPT for one publish cycle
    (its name rides on the pointer's second line) and is vacuumed by the
    NEXT publish; everything else — older generations, crashed ``v-*``
    builds, pre-versioning flat layouts — is removed after the flip. An
    object-store deployment (no atomic rename) would conditional-put the
    manifest object and add a read-timeout grace before the vacuum. Single
    publisher assumed, as with every ensure_* build."""
    name = os.path.basename(staged.rstrip("/"))
    old_cur, _old_prev = _read_pointer(root)
    tmp = os.path.join(root, f".{CURRENT_MARKER}-{uuid.uuid4().hex[:8]}")
    with open(tmp, "w") as fh:
        fh.write(name + "\n")
        if old_cur and old_cur != name:
            fh.write(old_cur + "\n")
    os.replace(tmp, os.path.join(root, CURRENT_MARKER))
    keep = {name} | ({old_cur} if old_cur else set())
    _vacuum_root(root, keep)
    return os.path.join(root, name)


def ensure_published(
    root: str,
    fingerprint: dict,
    build,
    consistent=None,
    meta_name: str = "_INDEX_META.json",
) -> str:
    """Idempotent build-and-publish for a versioned artifact root: return
    the active version if its ``meta_name`` equals ``fingerprint`` (and
    ``consistent(version_dir)`` holds, when given); otherwise call
    ``build(staging_dir)`` on a fresh ``<root>/v-<uuid>`` and
    :func:`publish_version` it. The shared skeleton of every index
    ensure_* (BM25 / MinHash / IVF×PQ): fingerprint guard, crash-marker
    validity hook, staged build, one-atomic-rename publication.

    Hygiene: a build that THROWS removes its partial
    staging dir before re-raising, and the fingerprint-match fast path
    vacuums anything that is neither the active version nor the pointer-
    recorded previous generation — so a hard-crashed build's ``v-<uuid>``
    leftovers are reaped on the next successful call even when the
    fingerprint keeps matching and no publish ever runs."""
    import json

    cur = resolve_published(root)
    if cur is not None and (consistent is None or consistent(cur)):
        try:
            with open(os.path.join(cur, meta_name)) as fh:
                match = json.load(fh) == fingerprint
        except (ValueError, OSError):
            match = False
        if match:
            cur_name, prev_name = _read_pointer(root)
            # cur_name can be None if the pointer vanished between
            # resolve_published and this re-read; vacuuming with keep={None}
            # would reap EVERY version including the active one — skip the
            # fast-path vacuum in that window.
            if cur_name:
                _vacuum_root(root, {cur_name} | ({prev_name} if prev_name else set()))
            return cur
    os.makedirs(root, exist_ok=True)
    staged = os.path.join(root, f"v-{uuid.uuid4().hex}")
    try:
        build(staged)
        with open(os.path.join(staged, meta_name), "w") as fh:
            json.dump(fingerprint, fh)
    except BaseException:
        _rm_any(staged)
        raise
    return publish_version(root, staged)


def delete_rows(
    spark: SparkSession,
    path: str,
    victims: DataFrame,
    key: str | list[str],
) -> int:
    """DELETE-by-key from a parquet dataset: the keep-the-anti-set rewrite
    the purge module applies to tables (`AutoPurge.sql:171-174`), as a
    reusable primitive for per-entity index tables (BM25 doc_tf/dl, IVF
    inverted lists). One anti-join keyed on ``key``, staged-swap
    atomic like :func:`compact`/:func:`upsert`; keys absent from the
    target are ignored (DELETE semantics). A no-op delete (no key matches —
    e.g. a caller probing with possibly-absent ids) skips the staging write
    and swap entirely, so it costs one semi-join count, not a whole-dataset
    rewrite. Returns rows removed.

    The victim set is CALLER-SUPPLIED and unbounded — a bulk retention
    purge can pass millions of keys — so it is never force-broadcast (a
    hint has no AQE size fallback and would OOM the driver); CBO/AQE pick
    broadcast whenever the distinct key set genuinely fits, and degrade to
    a shuffled semi/anti join above that."""
    keys = [key] if isinstance(key, str) else list(key)
    vic = victims.select(*keys).distinct()
    target = read_parquet(spark, path)
    n_gone = target.join(vic, keys, "left_semi").count()
    if n_gone == 0:
        return 0
    kept = target.join(vic, keys, "left_anti")
    _staged_overwrite(kept, path, "._delete-")
    return n_gone


def delete_where(
    spark: SparkSession,
    path: str,
    where: str,
    guard_max: int | None = None,
    dry_run: bool = False,
) -> tuple[str, int, int]:
    """Predicate DELETE over a parquet dataset — the reference's purge
    rewrite (`AutoPurge.sql:139-174`) as ONE shared primitive, so the O13
    semantics (NULL-correct anti-filter, guard count, staged swap) live in
    exactly one place; :class:`purge.Purger` routes its CRITERIA/DELETE
    actions here and :func:`delete_rows` is the keyed sibling.

    SQL DELETE removes rows where the predicate is TRUE; rows where it
    evaluates NULL SURVIVE — the keep-filter is ``NOT coalesce(pred,
    FALSE)``, never a bare ``~pred``. With ``guard_max``, aborts without
    writing when more rows match (`AutoPurge.sql:139-149`); ``dry_run``
    counts and never writes (`:77-79`); a 0-match delete skips the rewrite.

    Returns ``(status, rows_matched, rows_kept)`` with status in
    ``{'purged', 'aborted', 'dry_run'}``; rows_kept is ``-1`` unless a
    delete ran to completion (the 0-match case reports status 'purged'
    with the dataset's full row count kept, without rewriting it).
    """
    df = read_parquet(spark, path)
    pred = F.coalesce(F.expr(where), F.lit(False))
    matched = df.filter(pred).count()
    if guard_max is not None and matched > guard_max:
        return "aborted", matched, -1
    if dry_run:
        return "dry_run", matched, -1
    if matched == 0:
        return "purged", 0, df.count()
    _staged_overwrite(df.filter(~pred), path, "._delete-")
    return "purged", matched, read_parquet(spark, path).count()


def compact(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = DEFAULT_TARGET_FILE_BYTES,
    sort_by: list[str] | None = None,
) -> int:
    """Rewrite ``path`` into ``ceil(bytes/target)`` files; returns new count.

    With ``sort_by``, rows are range-partitioned then sorted within files on
    those columns, so every output file covers a narrow key range and parquet
    footer min/max stats prune file scans for key predicates.
    """
    df: DataFrame = read_parquet(spark, path)
    if sort_by:
        return _clustered_rewrite(df, path, sort_by, target_file_bytes, "._compact-")
    n_files = _file_target(dataset_bytes(path), target_file_bytes)
    df = df.coalesce(n_files) if n_files < df.rdd.getNumPartitions() else df.repartition(n_files)
    _staged_overwrite(df, path, "._compact-")
    return parquet_file_count(path)


def _file_target(nbytes: int, target_file_bytes: int, min_files: int = 1) -> int:
    """``ceil(nbytes/target)`` output files, and at least ``min_files``."""
    return max(min_files, -(-nbytes // target_file_bytes))


def _clustered_rewrite(
    df: DataFrame,
    path: str,
    by: list[str],
    target_file_bytes: int,
    marker: str,
    drop: tuple[str, ...] = (),
) -> int:
    """Swap ``df`` in at ``path`` range-partitioned on ``by`` into
    :func:`_file_target` files, each sorted on ``by``, without the helper
    columns ``drop``. Every output file then covers a narrow range of
    ``by``, so footer min/max stats prune scans. Returns the new file
    count."""
    n_files = _file_target(dataset_bytes(path), target_file_bytes)
    df = df.repartitionByRange(n_files, *[F.col(c) for c in by])
    _staged_overwrite(df.sortWithinPartitions(*by).drop(*drop), path, marker)
    return parquet_file_count(path)


def _rank_bucket(col: str, bits: int) -> F.Column:
    """``col``'s global ``percent_rank`` scaled to a ``bits``-bit integer."""
    return F.expr(
        f"CAST(percent_rank() OVER (ORDER BY {col}) * {(1 << bits) - 1} AS BIGINT)"
    )


def upsert(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    key: str | list[str],
) -> tuple[int, int]:
    """MERGE-style upsert into a parquet dataset: rows in ``updates`` replace
    target rows with the same key; new keys append; untouched rows carry
    over byte-for-byte. Returns (n_updated, n_inserted).

    Plain parquet has no row-level MERGE (that's what table formats add);
    the distributed equivalent is updates ∪ (target ⟕anti updates) with the
    same staged-swap atomicity as :func:`compact` — one anti-join keyed on
    the merge key, no driver materialization. The purge module
    (`purge.Purger._criteria`) is the DELETE of this family
    (`AutoPurge.sql:171-174`); this is the UPSERT.
    """
    keys = [key] if isinstance(key, str) else list(key)
    target = read_parquet(spark, path)
    n_updated = target.join(updates.select(*keys).distinct(), keys, "left_semi").count()
    n_inserted = updates.count() - updates.join(
        target.select(*keys).distinct(), keys, "left_semi"
    ).count()
    merged = updates.unionByName(target.join(updates, keys, "left_anti"))
    _staged_overwrite(merged, path, "._upsert-")
    return n_updated, n_inserted


def _zorder_col(cols: list[str], bits: int = 16) -> F.Column:
    """Morton (Z-order) key: interleave the bits of each column's rank so
    rows close in EVERY dimension land close in the sort order — per-file
    min/max stats then prune scans filtered on ANY of the columns, which a
    single-column sort can only do for its leading column.

    Pure JVM bit arithmetic (shiftleft/and/or over each column's 16-bit
    percent_rank bucket) — no UDF, codegen-friendly.
    """
    ranked = [_rank_bucket(c, bits) for c in cols]
    z = F.lit(0)
    for bit in range(bits):
        for i, r in enumerate(ranked):
            pos = bit * len(ranked) + i
            z = z.bitwiseOR(
                F.shiftleft(F.shiftright(r, bit).bitwiseAND(F.lit(1)), pos)
            )
    return z


def compact_zorder(
    spark: SparkSession,
    path: str,
    zorder_by: list[str],
    target_file_bytes: int = DEFAULT_TARGET_FILE_BYTES,
) -> int:
    """Compact with multi-column Z-order clustering. NOTE: the global
    ``percent_rank`` ranking is a single total sort at layout time — the
    one-off cost that buys stats-based pruning on every subsequent scan
    (same trade as any Z-order OPTIMIZE). Returns the new file count."""
    df = read_parquet(spark, path).withColumn("_z", _zorder_col(zorder_by))
    return _clustered_rewrite(
        df, path, ["_z"], target_file_bytes, "._zorder-", drop=("_z",)
    )


def vacuum(path: str) -> list[str]:
    """Remove the staging and backup siblings (:data:`_STAGING_MARKERS`)
    that a commit through :func:`staged` leaves when its process dies
    mid-commit. If ``path`` itself is missing — a death between the swap's
    two renames — the newest ``._old-*`` backup is renamed back first, so
    readers get the old version. Run it while no writer is committing to
    ``path``. Returns the removed paths."""
    path = path.rstrip("/")
    parent = os.path.dirname(path) or "."
    base = os.path.basename(path)
    leftovers = [
        os.path.join(parent, name)
        for name in os.listdir(parent)
        if any(name.startswith(base + marker) for marker in _STAGING_MARKERS)
    ]
    backups = [p for p in leftovers if p.startswith(path + "._old-")]
    if backups and not os.path.exists(path):
        newest = max(backups, key=os.path.getmtime)
        os.rename(newest, path)
        leftovers.remove(newest)
    for full in leftovers:
        _rm_any(full)
    return leftovers


# ---------------------------------------------------------------------------
# Hilbert-curve clustering: better multi-column locality than
# Morton order at the same bit budget — consecutive Hilbert keys are ALWAYS
# grid-adjacent cells, so per-file min/max ranges stay tight on every
# clustered column even at 3-4 dimensions, where Z-order's diagonal jumps
# dilute them.
# ---------------------------------------------------------------------------
def _skilling_q_lambda(n: int) -> str:
    """SQL lambda body for one Q-step of Skilling's Hilbert transform
    (AIP Conf. Proc. 707, 2004): the inner i-loop unrolled sequentially over
    the struct accumulator ``acc`` with exponent ``e`` (Q = 1<<e)."""
    cur = [f"acc.x{j}" for j in range(n)]
    for i in range(n):
        q = "shiftleft(CAST(1 AS BIGINT), e)"
        p = f"({q} - 1)"
        cond = f"({cur[i]} & {q}) != 0"
        t = f"(({cur[0]} ^ {cur[i]}) & {p})"
        if i == 0:
            # t would be (X0^X0)&P = 0 → else-branch is a no-op
            cur = [f"(CASE WHEN {cond} THEN {cur[0]} ^ {p} ELSE {cur[0]} END)"] + cur[1:]
        else:
            new0 = f"(CASE WHEN {cond} THEN {cur[0]} ^ {p} ELSE {cur[0]} ^ {t} END)"
            newi = f"(CASE WHEN {cond} THEN {cur[i]} ELSE {cur[i]} ^ {t} END)"
            cur = [new0] + cur[1:i] + [newi] + cur[i + 1:]
    fields = ", ".join(f"'x{j}', {cur[j]}" for j in range(n))
    return f"named_struct({fields})"


def with_hilbert_index(
    df: DataFrame, int_cols: list[str], bits: int, out: str = "_h"
) -> DataFrame:
    """Add a Hilbert index column computed from ``int_cols`` (each an
    integer in [0, 2^bits)). Pure built-in expressions: the Q-loop folds via
    the ``aggregate`` higher-order function (a runtime loop — no expression
    blow-up), the rest is static bit arithmetic. Exhaustive-grid tests pin
    it bit-equal to the reference transform with the true adjacency
    property in 2/3/4-D.
    """
    n = len(int_cols)
    if bits * n > 63:
        raise ValueError(f"bits*dims = {bits * n} exceeds a signed 64-bit key")
    init = ", ".join(f"'x{j}', CAST({c} AS BIGINT)" for j, c in enumerate(int_cols))
    qloop = (
        f"aggregate(sequence({bits - 1}, 1, -1), named_struct({init}), "
        f"(acc, e) -> {_skilling_q_lambda(n)})"
    )
    df = df.withColumn("_hs", F.expr(qloop))
    cur = [f"_hs.x{j}" for j in range(n)]
    for i in range(1, n):  # gray-encode step: X[i] ^= X[i-1], sequential
        cur[i] = f"({cur[i]} ^ {cur[i - 1]})"
    fields = ", ".join(f"'x{j}', {cur[j]}" for j in range(n))
    df = df.withColumn("_hg", F.expr(f"named_struct({fields})"))
    df = df.withColumn(
        "_ht",
        F.expr(
            f"aggregate(sequence({bits - 1}, 1, -1), CAST(0 AS BIGINT), "
            f"(t, e) -> CASE WHEN (_hg.x{n - 1} & shiftleft(CAST(1 AS BIGINT), e)) != 0 "
            f"THEN t ^ (shiftleft(CAST(1 AS BIGINT), e) - 1) ELSE t END)"
        ),
    )
    terms = [
        f"shiftleft(shiftright(_hg.x{i} ^ _ht, {b}) & 1, {b * n + (n - 1 - i)})"
        for b in range(bits)
        for i in range(n)
    ]
    return df.withColumn(out, F.expr(" | ".join(terms))).drop("_hs", "_hg", "_ht")


def compact_hilbert(
    spark: SparkSession,
    path: str,
    hilbert_by: list[str],
    target_file_bytes: int = DEFAULT_TARGET_FILE_BYTES,
    bits: int = 16,
) -> int:
    """Compact with Hilbert-curve clustering — ``compact_zorder``'s sibling
    with strictly better locality for 3-4 clustered columns. Same one-off
    global ranking cost, same staged-swap atomicity. Returns the new file
    count."""
    bits = min(bits, 63 // max(1, len(hilbert_by)))
    df = read_parquet(spark, path)
    buckets = [f"_hb{j}" for j in range(len(hilbert_by))]
    for b, c in zip(buckets, hilbert_by):
        df = df.withColumn(b, _rank_bucket(c, bits))
    df = with_hilbert_index(df, buckets, bits).drop(*buckets)
    return _clustered_rewrite(
        df, path, ["_h"], target_file_bytes, "._hilbert-", drop=("_h",)
    )
