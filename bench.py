"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}.

Per-query timing measures full plan execution by materializing with
``df.write.format("noop")`` — Spark's sink that executes the whole plan
without writing (a ``count()`` would let Catalyst prune columns/aggregates).

Each query runs ``SPARK_GRAFT_BENCH_REPS`` times (default 5 — raised from 3
in r06 to bound the ±24% environment drift the r05 verdict flagged) and the
headline number is the per-query WARM MEDIAN (rep 1 excluded — see
``warm_median``); ``BENCH_DETAIL.json`` additionally commits each median
normalized by the scan anchor, the only statistic round-over-round
comparisons may use.

Soak guard (r09): each rep releases the RDD blocks its invocation
localCheckpointed (``plans.materialize.released_after``), and after the
bucketed pass the WHOLE headline set runs a SECOND pass in the same
session; ``BENCH_DETAIL.json`` commits anchor-normalized pass2/pass1
``soak_ratio`` per query (flat ≈ 1.0 proves no session-state
accumulation — the r09 driver artifact's monotonic per-rep growth is the
failure this detects). ``tests/test_bench_policy.py`` gates the committed
ratios.

THE COMPARISON STATISTIC (r10 verdict #1): rounds compare on the
SOAK-PASS warm medians normalized by the soak-adjacent scan anchor
(``queries_soak[q] / anchor_soak``), not on pass-1 medians. Five r10-era
runs of identical code spanned 17.5→66 s on pass-1 totals while their
soak passes converged on one level — pass 1 starts cold into whatever
throughput window the host is in, the soak pass runs after ~10 min of
in-session thermalization and is empirically the stable statistic. The
stdout headline carries BOTH: ``value``/``queries`` stay pass-1 (so the
r01–r10 series keeps its meaning and the soak_ratio stays interpretable),
``soak_total``/``queries_soak``/``anchor_soak`` are the numbers
NOTES/verdict comparisons must use, and ``compare_on`` names them. Raw per-rep runs, per-query spread,
and the bucketed-layout second pass go to ``BENCH_DETAIL.json`` beside this
script (committed per round) — NOT into the stdout line: the r05 stdout JSON
carried 21 queries x 3 runs plus the bucketed section and overflowed the
driver's tail capture, so ``BENCH_r05.json`` landed ``parsed: null``. The
stdout line stays headline-only and the bench session disables the console
progress bar so no carriage-return spam precedes it.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

REPO_DIR = os.path.dirname(os.path.abspath(__file__))
if REPO_DIR not in sys.path:
    sys.path.insert(0, REPO_DIR)

# Headline set: one per operator family, weighted toward the scale-relevant
# shapes (fact-fact joins, windows, LSH, vector search). r04 swapped the two
# cheapest map-only entries (text_token_counts, mm_payload_stats) for the two
# most scale-relevant r02 additions: the composed IVF×PQ ANN search and the
# Gopher-style repetition filter. r05 swapped the end-to-end IVF×PQ entry
# (5.66 s of which ~5 s was query-time Lloyd codebook training — an index
# BUILD cost, not a search cost) for `sim_cosine_topk_ivf_pq_from_index`,
# which serves from the stored index: the bench now measures the shape a
# user actually runs per query. The first rep builds the index if absent
# (visible in "runs"); the median reflects amortized serving.
# Late r05: the same swap for MinHash — `dedup_minhash_lsh_pairs` (end-to-end
# re-shingling + 12-permutation signatures per run, ~2.3 s honest median once
# the r05 persist-leak fix stopped the plan cache from sharing signatures
# across reps; r04's 0.69 s median was that leak) is replaced by
# `dedup_minhash_pairs_from_index`, which serves pairs from the stored
# signature index — signatures are an ingest-time artifact at 100 TB, not a
# per-query cost. The end-to-end entry stays in the registry for correctness.
# Queries whose plans contain an orders ⋈ lineitem join (or an orderkey
# aggregation): re-run against the bucketed fact layout after the standard
# pass. Both numbers are reported — "queries" is the cold-layout story,
# "queries_bucketed" is what a standing bucketed warehouse would serve.
BUCKETED_SUBSET = [
    "q03_top_unshipped",
    "q05_regional_revenue",
    "q07_nation_trade_volume",
    "q09_profit_by_nation_year",
    "q10_top_customers",
    "q18_large_volume_orders",
]

HEADLINE = [
    "q01_pricing_summary",
    "q03_top_unshipped",
    "q05_regional_revenue",
    "q06_forecast_revenue",
    "q10_top_customers",
    "q_window_running_revenue",
    "q_rollup_revenue",
    "q_events_sessionize",
    "q07_nation_trade_volume",
    "q09_profit_by_nation_year",
    "q17_small_quantity_revenue",
    "q18_large_volume_orders",
    "q_events_trailing_hour",
    "dedup_exact_documents",
    "dedup_minhash_pairs_from_index",
    "dedup_embedding_cosine_pairs",
    "sim_cosine_topk_bruteforce",
    "q_asof_error_to_purchase",
    "sim_cosine_topk_ivf_pq_from_index",
    "text_repetition_ratio",
    # r05 addition (late): the full serving recipe — stored-index ADC
    # shortlist + exact re-rank. Kept ALONGSIDE the from_index entry so the
    # round-over-round common set stays comparable; the delta between the
    # two is the price of the refine join.
    "sim_cosine_topk_ivf_pq_refine",
    # r06 additions: the two scale-relevant operator families the headline
    # did not yet represent — lexical retrieval (BM25) and language modeling
    # (interpolated Kneser-Ney bigram perplexity, the heaviest text shape:
    # tokenize self-join + four LM tables + per-doc scoring join).
    # Round-over-round comparisons use the common-query intersection, so
    # additions don't skew the trend.
    # r07: the BM25 headline entry is the SERVING shape — scores probe the
    # fingerprint-guarded stored doc-term index (tf/df/dl/avgdl parquet)
    # instead of rebuilding it per query, the same swap MinHash and IVF×PQ
    # already made. The end-to-end `retrieval_bm25_topk` stays registered
    # for correctness; the first rep builds the index (visible in "runs").
    "retrieval_bm25_from_index",
    "text_bigram_kn_perplexity",
]


def detail_path() -> str:
    """Where the full bench detail JSON lands. Defaults to the gitignored
    ``BENCH_DETAIL.latest.json`` so ad-hoc/driver/judge runs never clobber
    the committed calm-window ``BENCH_DETAIL.json`` (r11 verdict #7);
    promote a trusted run explicitly with
    ``SPARK_GRAFT_BENCH_DETAIL=BENCH_DETAIL.json``."""
    return os.path.join(
        REPO_DIR,
        os.environ.get("SPARK_GRAFT_BENCH_DETAIL", "BENCH_DETAIL.latest.json"),
    )


def warm_median(per_run: list[float]) -> float:
    """THE pinned bench statistic: median of the WARM reps (rep 1 excluded).

    Rep 1 carries one-off costs the steady state never pays (index builds,
    file-listing and codegen cold start) and is kept in the raw ``runs``
    for inspection; including it in the comparison statistic flattered the
    r07 anchor ratio and made a real ~25% per-query regression look like an
    improvement (VERDICT r07 #2). Every committed median — queries,
    bucketed pass, calibration anchors — uses this function, and
    round-over-round comparisons must divide by the ``anchor_scan`` the
    detail file computes, never compare raw seconds (host throughput
    wobbles ±15-45% on minute timescales)."""
    warm = per_run[1:] if len(per_run) > 1 else per_run
    return round(statistics.median(warm), 4)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "5"))
    from csv_parquet_s3_spark.operators import QUERIES
    from csv_parquet_s3_spark.session import get_spark

    # No \r progress-bar output: the driver captures the stdout tail and the
    # r05 progress spam helped push the JSON line out of the capture window.
    spark = get_spark(
        app_name="csv_parquet_s3_spark_bench",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    sf_label = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")

    # Warm up JVM/codegen/file-listing once so the first timed query is not
    # charged for session initialization (standard bench hygiene).
    from csv_parquet_s3_spark.sources.tables import TABLES, load_table

    for t in TABLES:
        load_table(spark, sf_dir, t).count()

    runs: dict[str, list[float]] = {}
    medians: dict[str, float] = {}

    # Hardware calibration anchors, immune to this repo's code evolution:
    # (a) a pure-JVM whole-stage-codegen loop (no IO), (b) a raw full scan
    # of the largest table. Run BEFORE and AFTER the query loop: delivered
    # host CPU throughput fluctuates ±15% on minute timescales with zero
    # guest-visible steal (two identical back-to-back bench runs differed
    # ×1.45 with no code change; between rounds ALL unchanged queries moved
    # ×1.25 in lockstep). Query medians divided by the calibration
    # decompose round-over-round drift into machine speed vs plan
    # regressions; pre/post disagreement flags a run that straddled a speed
    # shift.
    def calibrate(tag: str) -> dict[str, float]:
        out: dict[str, float] = {}
        for cname, thunk in (
            (
                "jvm",
                lambda: spark.range(500_000_000)
                .selectExpr("sum(id * 2)")
                .write.format("noop")
                .mode("overwrite")
                .save(),
            ),
            (
                "scan",
                lambda: load_table(spark, sf_dir, "lineitem")
                .write.format("noop")
                .mode("overwrite")
                .save(),
            ),
        ):
            per_run = []
            for _ in range(reps):
                t0 = time.perf_counter()
                thunk()
                per_run.append(round(time.perf_counter() - t0, 4))
            runs[f"calib_{cname}_{tag}"] = per_run
            out[f"{cname}_{tag}"] = warm_median(per_run)
        return out

    # Release-what-you-pin: every query invocation localCheckpoints shared
    # subframes (plans/materialize.py); those blocks are RDD-level persists
    # the SQL CacheManager never frees, so a standing session accumulates
    # them until GC — the r09 driver bench's monotonic per-rep growth
    # signature. Each rep releases its own pins once its noop sink
    # completes (safe: the next rep builds fresh frames from scratch).
    from csv_parquet_s3_spark.plans.materialize import released_after

    def run_set(names: list[str], into_runs: dict, into_medians: dict,
                n_reps: int) -> None:
        for name in names:
            fn = QUERIES[name]
            per_run: list[float] = []
            for _ in range(n_reps):
                t0 = time.perf_counter()
                with released_after(spark):
                    fn(spark, sf_dir).write.format("noop").mode(
                        "overwrite"
                    ).save()
                per_run.append(round(time.perf_counter() - t0, 4))
            into_runs[name] = per_run
            into_medians[name] = warm_median(per_run)

    calib = calibrate("pre")
    run_set(HEADLINE, runs, medians, reps)

    total = round(sum(medians.values()), 4)

    # Second pass: the orderkey-join subset against the bucketed fact layout
    # (orders + lineitem bucketed on the join key — the one-time shuffle a
    # standing warehouse pays at ingest). Layout build time is reported
    # separately so neither pass is charged for it.
    from csv_parquet_s3_spark.sources.bucketed import (
        materialize_bucketed_facts,
        release_bucketed_facts,
    )

    t0 = time.perf_counter()
    materialize_bucketed_facts(spark, sf_dir)
    bucketed_layout_sec = round(time.perf_counter() - t0, 4)
    bucketed_runs: dict[str, list[float]] = {}
    bucketed_medians: dict[str, float] = {}
    try:
        run_set(BUCKETED_SUBSET, bucketed_runs, bucketed_medians, reps)
    finally:
        release_bucketed_facts()

    calib.update(calibrate("post"))

    # Soak guard (r09 verdict #1): re-run the whole headline set a SECOND
    # pass in the SAME session, hours of session state later, and commit
    # pass2/pass1 per-query ratios. A session-state accumulation defect
    # (leaked checkpoint blocks, growing driver structures) shows as
    # ratios drifting above 1; a healthy session is flat. Each pass is
    # normalized by its own adjacent scan anchor so host-speed drift
    # between the passes cancels (the anchors straddle each pass).
    soak_reps = int(os.environ.get("SPARK_GRAFT_BENCH_SOAK_REPS", "3"))
    soak_runs: dict[str, list[float]] = {}
    soak_medians: dict[str, float] = {}
    run_set(HEADLINE, soak_runs, soak_medians, soak_reps)
    calib.update(calibrate("soak"))
    runs.update({f"soak_{n}": r for n, r in soak_runs.items()})

    anchor_pass1 = (calib["scan_pre"] + calib["scan_post"]) / 2
    anchor_soak = (calib["scan_post"] + calib["scan_soak"]) / 2
    soak_ratio = {
        n: round(
            (soak_medians[n] / anchor_soak) / (medians[n] / anchor_pass1), 4
        )
        for n in HEADLINE
        if medians.get(n, 0) > 0 and anchor_soak > 0 and anchor_pass1 > 0
    }

    # The round-over-round comparison statistic, computed HERE so NOTES
    # can't accidentally cherry-pick it (VERDICT r07 #2): each committed
    # warm median divided by the scan anchor (mean of the pre/post warm
    # medians — a straddled run averages out; a large pre/post gap is
    # visible in calib either way).
    anchor_scan = round((calib["scan_pre"] + calib["scan_post"]) / 2, 4)
    normalized = {
        n: round(m / anchor_scan, 4) for n, m in medians.items()
    } if anchor_scan > 0 else {}

    sf = float(sf_label) if sf_label.replace(".", "").isdigit() else sf_label

    # Full detail (raw reps, spread, bucketed pass) goes to a committed file;
    # the stdout line stays small enough for the driver's tail capture.
    def spread(rs: dict[str, list[float]]) -> dict[str, float]:
        return {
            n: round(max(r) - min(r), 4) for n, r in rs.items() if len(r) > 1
        }

    detail = {
        "reps": reps,
        "sf": sf,
        "queries": medians,
        "runs": runs,
        "spread": spread(runs),
        "queries_bucketed": bucketed_medians,
        "runs_bucketed": bucketed_runs,
        "spread_bucketed": spread(bucketed_runs),
        "bucketed_total": round(sum(bucketed_medians.values()), 4),
        "bucketed_layout_sec": bucketed_layout_sec,
        "calib": calib,
        "anchor_scan": anchor_scan,
        "normalized": normalized,
        "queries_soak": soak_medians,
        "soak_reps": soak_reps,
        "soak_ratio": soak_ratio,
        "anchor_soak": round(anchor_soak, 4),
        "soak_total": round(sum(soak_medians.values()), 4),
        # Which statistic round-over-round comparisons use (r10 verdict #1):
        # pass-1 medians span ×4 across host windows on identical code; the
        # soak pass (same session, ~10 min warm) converges. Normalize by
        # anchor_soak, never compare raw seconds.
        "compare_on": "queries_soak / anchor_soak",
    }
    # Default to a gitignored scratch name so ad-hoc/driver/judge runs stop
    # clobbering the committed calm-window detail (r11 verdict #7 — a judge
    # restored the committed file twice). Promote a run you TRUST to the
    # committed name explicitly with SPARK_GRAFT_BENCH_DETAIL=BENCH_DETAIL.json
    # (any path accepted, resolved against the repo root).
    with open(detail_path(), "w") as fh:
        json.dump(detail, fh, indent=1, sort_keys=True)
        fh.write("\n")

    import math

    soak_geomean = (
        round(
            math.exp(
                sum(math.log(r) for r in soak_ratio.values())
                / len(soak_ratio)
            ),
            4,
        )
        if soak_ratio
        else None
    )

    sys.stdout.flush()
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_wall",
                "value": total,
                "unit": "sec",
                "queries": medians,
                "reps": reps,
                "bucketed_total": detail["bucketed_total"],
                "calib": calib,
                "soak_geomean": soak_geomean,
                # the statistic rounds compare on (r10 verdict #1) — the
                # same-session warm pass; pass-1 "queries"/"value" are kept
                # for the soak_ratio and the r01-r10 series
                "queries_soak": soak_medians,
                "soak_total": detail["soak_total"],
                "anchor_soak": detail["anchor_soak"],
                "compare_on": detail["compare_on"],
                "sf": sf,
            }
        ),
        flush=True,
    )


if __name__ == "__main__":
    main()
