"""One choke point for "materialize this shared subframe".

The registry cuts replayed lineage with an eager checkpoint wherever a
frame feeds two or more downstream branches or crosses an iteration
boundary (ARCHITECTURE.md: the shared-subframe rule). Every such site
calls :func:`materialize`, which follows one rule:

- the session has a checkpoint directory (``spark.checkpoint.dir``, or
  ``SparkContext.setCheckpointDir``): ``checkpoint(eager=True)`` writes
  the blocks there, so a query survives executor loss when the directory
  is durable storage;
- otherwise: ``localCheckpoint(eager=True)`` keeps the blocks
  non-replicated on executors — fastest, and fine wherever executors are
  stable (local mode, on-demand nodes), but an executor loss fails the
  query instead of recomputing it.

Which one a deployment gets is a Spark setting, read per call.
"""

from __future__ import annotations

import contextlib
import itertools
import threading
from collections.abc import Iterator

from pyspark.sql import DataFrame

# --------------------------------------------------------------------------
# Pre-checkpoint plan recording. A checkpoint TRUNCATES lineage, so the plan
# audit (tools/plan_audit.py) cannot see the shuffles/scans INSIDE an
# iterative operator (k-core, PageRank, BPE, the streaming twins) from the
# returned frame alone. Recording the plan of each frame AS IT IS
# CHECKPOINTED at this choke point recovers the per-iteration
# (pre-truncation) shape.
# --------------------------------------------------------------------------
_RECORDER: list | None = None


@contextlib.contextmanager
def record_checkpoint_plans(into: list) -> Iterator[list]:
    """While active, every ``materialize()`` call appends a
    ``plans.explain.PlanStats`` for the frame it truncates to ``into``.
    Used by the plan audit; nested use is not supported (last wins)."""
    global _RECORDER
    prev = _RECORDER
    _RECORDER = into
    try:
        yield into
    finally:
        _RECORDER = prev


def current_recorder() -> list | None:
    """The active recording sink, if a ``record_checkpoint_plans`` context
    is open — used by executors of plans the RETURNED frame cannot show
    (streaming drains append their last micro-batch's plan here)."""
    return _RECORDER


def materialize(df: DataFrame) -> DataFrame:
    """Materialize a frame that feeds ≥2 downstream branches (or an
    iteration boundary): a reliable checkpoint when the session has a
    checkpoint directory, a local one otherwise."""
    if _RECORDER is not None:
        from csv_parquet_s3_spark.plans.explain import analyze

        _RECORDER.append(analyze(df))
    if df.sparkSession.sparkContext.getCheckpointDir() is not None:
        out = df.checkpoint(eager=True)
    else:
        out = df.localCheckpoint(eager=True)
    # only track when a released_after bracket is open on THIS thread — the
    # unbracketed path pays nothing
    if getattr(_TLS, "stack", None):
        # exact: the id read from OUT's own LogicalRDD node, so a concurrent
        # thread's pin cannot be mis-attributed to (and freed by) this
        # bracket; if introspection fails the pin stays untracked, as if
        # unbracketed
        rid = _pinned_rdd_id(out)
        with _BRACKET_LOCK:
            # record into the INNERMOST bracket only: when it exits and
            # releases these pins, an enclosing bracket must not try to
            # release (or be credited with) them again
            ids = _BRACKETS.get(_TLS.stack[-1])
            if ids is not None and rid is not None:
                ids.add(rid)
    return out


def _pinned_rdd_id(out: DataFrame) -> int | None:
    """The RDD id a checkpoint-returned frame pinned, read from the frame's
    own plan: ``Dataset.checkpoint``/``localCheckpoint`` return a Dataset
    over a ``LogicalRDD`` wrapping exactly the internal RDD that was
    checkpointed (and, for localCheckpoint, persisted). Reading the id off
    the returned frame makes pin attribution exact — no before/after
    registry diff, no concurrent-thread mis-attribution. Returns None if the
    (internal, py4j-reached) plan shape ever changes."""
    try:
        return int(out._jdf.queryExecution().analyzed().rdd().id())
    except Exception:
        return None


# --------------------------------------------------------------------------
# Releasing what materialize() pins. ``localCheckpoint`` persists its blocks
# at the RDD level (not through the SQL CacheManager), so ``df.unpersist()``
# never frees them — they linger until driver GC + ContextCleaner get around
# to it. In a long-lived session (a standing bench, a 236-query sweep, a
# streaming maintenance loop) that is unbounded block-manager growth. The
# helpers below let a harness bracket each query invocation and explicitly
# unpersist every RDD the invocation pinned, once its terminal action has
# completed. (A reliable checkpoint pins nothing RDD-side; its files stay
# in the checkpoint directory unless the session sets
# ``spark.cleaner.referenceTracking.cleanCheckpoints``.)
#
# IMPORTANT ordering constraint: a checkpointed frame CANNOT recompute (its
# lineage is truncated) — release only after ALL actions on frames derived
# from the invocation have run, never between an operator returning a
# DataFrame and the caller's collect/write of it.
#
# Release is INVOCATION-scoped. ``materialize()`` reads the pinned RDD id
# off the returned Dataset's LogicalRDD node and records it into the
# innermost ``released_after`` bracket open on the calling thread; bracket
# exit frees exactly its own recorded pins. Because attribution does not
# diff the session-global registry, a concurrent thread's pin landing inside
# this call's window can NOT be credited to (and later freed by) this
# bracket. A pin whose id cannot be read, and any pin created WITHOUT going
# through materialize(), is not tracked (in-package there are none that
# outlive their operator: the few direct .persist() calls keep lineage and
# unpersist locally).
# --------------------------------------------------------------------------

_BRACKET_LOCK = threading.Lock()
_BRACKETS: dict[int, set[int]] = {}  # bracket id -> the RDD ids it pinned
_BRACKET_IDS = itertools.count(1)
_TLS = threading.local()  # per-thread stack of open bracket ids


def persistent_rdd_ids(spark) -> set[int]:
    """IDs of every RDD currently persisted in the session's block manager
    (JVM-side registry — covers localCheckpoint/persist from any API)."""
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(k) for k in jmap.keySet().toArray()}


def release_ids(spark, ids: set[int]) -> int:
    """Unpersist exactly ``ids`` (non-blocking); ids no longer in the
    registry are skipped. Returns how many were released."""
    if not ids:
        return 0
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    released = 0
    for key in jmap.keySet().toArray():
        if int(key) in ids:
            jmap.get(key).unpersist(False)
            released += 1
    return released


def release_persistents(spark, keep: set[int] | None = None) -> int:
    """Unpersist every persisted RDD not in ``keep`` (non-blocking); returns
    how many were released. This is the GLOBAL sweep — correct only when
    the caller knows no other invocation is in flight (test teardown, a
    sequential harness draining leftovers). Bracketed per-invocation
    release is :func:`released_after`, which tracks its own pins and never
    touches a concurrent invocation's."""
    keep = keep or set()
    return release_ids(spark, persistent_rdd_ids(spark) - keep)


@contextlib.contextmanager
def released_after(spark) -> Iterator[None]:
    """Context manager: on exit, unpersist exactly the RDDs that
    ``materialize()`` calls on THIS thread pinned inside the block (see the
    release-ordering constraint above — the block must contain the
    terminal action, not just the plan construction). Concurrent brackets
    on other threads are untouched."""
    bid = next(_BRACKET_IDS)
    stack = getattr(_TLS, "stack", None)
    if stack is None:
        stack = _TLS.stack = []
    with _BRACKET_LOCK:
        _BRACKETS[bid] = set()
    stack.append(bid)
    try:
        yield
    finally:
        stack.pop()
        with _BRACKET_LOCK:
            mine = _BRACKETS.pop(bid)
            others: set[int] = set().union(*_BRACKETS.values())
        release_ids(spark, mine - others)
