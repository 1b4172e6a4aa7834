"""Benchmark entry point.

    python3 perfbench/run.py --workload {query,ingest,maintain} --seed N \
        --seconds S --trace {0,1} [--scale {full,tiny}]

Run from the root of a checkout. One run makes (or reuses) the seeded inputs,
starts one local[nproc] Spark session through the program's
``session.get_spark``, runs the program's set-up calls and the workload's
warm-up, and then the workload as a closed loop with one client for
``--seconds`` seconds of nominal unit time, in whole units (a query pass, an
ingest round, a maintain cycle). Every operation's output is checked. The
last line of standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``, per-layer
metrics with ``--trace 1``). A run record and, when traced, the spans are written under
``.perfbench_work/runs/``. See perfbench/README.md for every metric.
"""

from __future__ import annotations

import argparse
import gc
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
from spans import COUNT_KEYS, Tracer, event_log_counts  # noqa: E402

# the program's set-up calls run this many times; setup_s takes their median
PREPARE_REPS = 3

E2E_UNITS = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "op_p50_s": "s",
    "rows_per_s": "rows/s",
    "bytes_written_per_input_byte": "B/B",
    "peak_rss_mb": "MB",
}


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def _source_digest() -> str:
    h = hashlib.sha256()
    pkg = os.path.join(CHECKOUT, "csv_parquet_s3_spark")
    for root, _dirs, files in sorted(os.walk(pkg)):
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(root, f), "rb") as fh:
                    h.update(f.encode() + fh.read())
    return h.hexdigest()[:16]


def _git_sha() -> str | None:
    if not os.path.exists(os.path.join(CHECKOUT, ".git")):
        return None  # never report the sha of an enclosing repository
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=CHECKOUT, capture_output=True, text=True, timeout=10
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def _jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found")


def _stop(spark) -> None:
    """Stop the session and the gateway JVM it started, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _session(work: str, traced: bool, tracer: Tracer):
    from csv_parquet_s3_spark.session import get_spark

    cpus = _cpus()
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    # The program's default 8g heap lets G1 grow the driver to 2.7-3.8 GB in
    # a query run, by GC timing more than by the program's needs; that is too
    # noisy to bound, and more than a host shared with other work should
    # give. With 1g the resident peak follows how much of the heap the run
    # touches, plus the JVM's native memory.
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    os.environ["TMPDIR"] = tmp
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(CHECKOUT, "spark-warehouse"),
    }
    log_dir = os.path.join(work, "eventlog")
    if traced:
        shutil.rmtree(log_dir, ignore_errors=True)  # one session's log only
        os.makedirs(log_dir)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    with tracer.span("session.get_spark") as sp:
        spark = get_spark(app_name="perfbench", master=f"local[{cpus}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    tracer.attach(spark)
    return spark, sp["dur"], log_dir


def _scan_anchor(spark, tracer: Tracer, sf: str, name: str) -> float:
    """Full lineitem scan into noop: the host-speed anchor. The row hash
    makes the scan decode every column (a bare noop write reads none)."""
    from pyspark.sql import functions as F

    with tracer.span(name) as sp:
        li = spark.read.parquet(os.path.join(sf, "lineitem.parquet"))
        li.select(F.xxhash64(*li.columns)).write.format("noop").mode("overwrite").save()
    return sp["dur"]


def _op_tail(times: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least ten
    samples beyond it; the maximum (p100) when there are ten or fewer."""
    s = sorted(times)
    if len(s) <= 10:
        return s[-1], 100.0
    k = len(s) - 11
    return s[k], 100.0 * (k + 1) / len(s)


def _cross_probes(run, workload: str) -> None:
    """Traced run only: call every layer the workload itself does not call,
    once and on the tiny inputs, after the measurement window, so that each
    per-layer metric is measured on every workload."""
    import workloads

    run.tracer.probing = True
    try:
        if workload != "ingest":
            ingest = workloads.Ingest(run, "tiny")
            ingest.prepare()
            ingest.unit(0)
            ingest.probes()
        if workload != "maintain":
            maintain = workloads.Maintain(run, "tiny")
            maintain.prepare()
            maintain.unit(0)
        if workload != "query":
            query = workloads.Query(run, "tiny")
            query.prepare()
            query.unit(0)
            query.probes()
    finally:
        run.tracer.probing = False


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=sorted(gen.SCALES), default="full")
    ap.add_argument(
        "--corrupt", action="store_true", help="self-test hook: damage one output before its check"
    )
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(CHECKOUT, "csv_parquet_s3_spark", "__init__.py")):
        _fail(f"the csv_parquet_s3_spark package is not in {CHECKOUT}")
    sys.path.insert(0, CHECKOUT)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        _fail(f"unknown workload {args.workload!r}; known: {sorted(workloads.WORKLOADS)}")
    traced = bool(args.trace)
    work = gen.work_root(CHECKOUT)
    runs_dir = os.path.join(work, "runs")
    os.makedirs(runs_dir, exist_ok=True)

    # inputs, expected outputs and the anchor table are the benchmark's own
    # work, made before the clock starts
    t = time.perf_counter()
    tracer = Tracer(traced)
    run = workloads.Run(tracer, CHECKOUT, args.seed, args.corrupt)
    wl = workloads.WORKLOADS[args.workload](run, args.scale)
    anchor_sf = gen.query_tables(CHECKOUT, args.scale)["dir"]
    phases = {"inputs": time.perf_counter() - t}

    spark, session_s, log_dir = _session(work, traced, tracer)
    run.spark = spark
    if traced:
        _patch_nested(tracer)
    try:
        prepare_s = []
        for _ in range(PREPARE_REPS):
            t = time.perf_counter()
            wl.prepare()
            prepare_s.append(time.perf_counter() - t)
        setup_s = session_s + statistics.median(prepare_s)
        phases["setup"] = session_s + sum(prepare_s)

        t = time.perf_counter()
        wl.warmup()
        run.start_window()
        # start the measurement from a collected heap on both sides
        gc.collect()
        spark._jvm.System.gc()
        phases["warmup"] = time.perf_counter() - t
        failed_before = run.failed
        # in a query run this scan is the session's first job, so it pays the
        # scan's code generation; sources.scan_s is the scan after the window
        anchor_pre = _scan_anchor(spark, tracer, anchor_sf, "sources.scan_before")
        t0 = time.perf_counter()
        units = max(1, math.ceil(args.seconds / wl.unit_s))
        for i in range(units):
            wl.unit(i)
        t_end = time.perf_counter()
        phases["window"] = t_end - t0
        check_s = run.check_s
        wall = t_end - t0 - check_s
        anchor_post = _scan_anchor(spark, tracer, anchor_sf, "sources.scan")
        peak_rss = _vm_hwm_mb(_jvm_pid(spark))
        op_times = list(run.op_times)
        ok_ops = len(op_times) - (run.failed - failed_before)
        tail, tail_pct = _op_tail(op_times)
        e2e = {
            "setup_s": setup_s,
            "ops_per_s": ok_ops / wall,
            "op_p50_s": statistics.median(op_times),
            "rows_per_s": run.rows / wall,
            "bytes_written_per_input_byte": run.bytes_written / run.bytes_in,
            "peak_rss_mb": peak_rss,
        }
        if traced:
            t = time.perf_counter()
            if hasattr(wl, "probes"):
                wl.probes()
            _cross_probes(run, args.workload)
            phases["probes"] = time.perf_counter() - t
        conf = dict(spark.sparkContext.getConf().getAll())
        spark_version = spark.version
    finally:
        tracer.restore()
        _stop(spark)

    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "scale": args.scale,
        "cpus": _cpus(),
        "sf_dir": anchor_sf,
        "inputs": wl.m["dir"] if hasattr(wl, "m") else anchor_sf,
        "git_sha": _git_sha(),
        "source_digest": _source_digest(),
        "spark_version": spark_version,
        "confs": conf,
        "units": units,
        "wall_s": wall,
        "phases_s": phases,
        "session_s": session_s,
        "prepare_s": prepare_s,
        "untimed_check_s": check_s,
        "ops": len(op_times),
        "op_times": op_times,
        "op_tail_s": tail,
        "op_tail_pct": tail_pct,
        "anchors": {
            "before_s": anchor_pre,
            "after_s": anchor_post,
            "spread": abs(anchor_post - anchor_pre) / min(anchor_pre, anchor_post),
        },
        "end_to_end": e2e,
        "failed_frac": run.failed / run.attempted,
        "failures": run.failures,
    }
    if traced:
        counts = event_log_counts(log_dir)
        layers = per_layer(tracer, counts, run, (t0, t_end), e2e)
        record["per_layer"] = layers
        spans_path = os.path.join(runs_dir, f"{args.workload}-seed{args.seed}-spans.json")
        tracer.dump(spans_path, counts)
        record["spans"] = spans_path
        untraced = os.path.join(runs_dir, f"{args.workload}-seed{args.seed}-trace0.json")
        if os.path.exists(untraced):
            with open(untraced) as fh:
                base = json.load(fh)["end_to_end"]
            record["trace_overhead"] = {k: e2e[k] / base[k] - 1 for k in ("ops_per_s", "op_p50_s")}
        metrics = {k: {"value": v, "unit": _layer_unit(k)} for k, v in layers.items()}
    else:
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}
    with open(os.path.join(runs_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as fh:
        json.dump(record, fh, indent=1, sort_keys=True)

    for k, v in e2e.items():
        print(f"{args.workload} {k} {v:.6g} {E2E_UNITS[k]}")
    print(f"{args.workload} failed_frac {record['failed_frac']:.6g} 1 ({run.failed}/{run.attempted})")
    # with twenty or fewer operations the tail is p50 or the maximum, so it
    # is printed and recorded but is not a declared metric
    print(f"{args.workload} op_tail_s {tail:.6g} s (p{tail_pct:g} of {len(op_times)} operations)")
    result = {"correct": run.failed == 0, "attempted": run.attempted, "failed": run.failed, "metrics": metrics}
    print(json.dumps(result), flush=True)
    return 0


# ---------------------------------------------------------------------------
# per-layer metrics
# ---------------------------------------------------------------------------
TIMED_LAYERS = (
    "session.get_spark",
    "ingest.check_strict",
    "ingest.parse_csv",
    "ingest.convert_csv_dir",
    "ingest.convert_csv_to_parquet",
    "ingest.convert_with_quarantine",
    "sinks.write_parquet",
    "sources.scan",
    "plans.released_after",
    "maintenance.delete_where",
    "maintenance.delete_rows",
    "maintenance.upsert",
    "maintenance.compact",
    "purge.run_purge",
)
# fresh builds of the query workload's stored indexes
INDEX_BUILD_LAYERS = (
    "operators.retrieval.ensure_bm25_index",
    "operators.minhash_index.ensure_minhash_index",
    "operators.similarity_index.ensure_ivf_pq_index",
)
# the layers that read data; the session and the pin release read none
INPUT_BYTES_LAYERS = tuple(n for n in TIMED_LAYERS if n not in ("session.get_spark", "plans.released_after"))


def _patch_nested(tracer: Tracer) -> None:
    """Time the public functions the program calls from inside the
    operations: strict validation inside the conversions, and the predicate
    delete inside the purge."""
    import csv_parquet_s3_spark.ingest as ingest
    import csv_parquet_s3_spark.maintenance as maintenance

    tracer.timed(ingest, "check_strict", "ingest.check_strict")
    tracer.timed(maintenance, "delete_where", "maintenance.delete_where")


def _call_layers() -> list[str]:
    """Every layer call that gets Spark counts: the timed layers (without
    the session, which runs no job) and each query of the mix."""
    import workloads

    return (
        [n for n in TIMED_LAYERS if n != "session.get_spark"]
        + [workloads.query_layer(q) for q in workloads.QUERY_MIX]
        + list(INDEX_BUILD_LAYERS)
    )


def per_layer_names() -> list[str]:
    """The per-layer metric names, in BENCHMARK.json order."""
    import workloads

    names = []
    for layer in TIMED_LAYERS + INDEX_BUILD_LAYERS:
        names.append(f"{layer}_s")
    names.append("ingest.csv_bytes_read_per_csv_byte")
    names += ["sinks.encode_commit_s", "sinks.files_written", "sinks.output_bytes"]
    for q in workloads.QUERY_MIX:
        layer = workloads.query_layer(q)
        names += [f"{layer}.build_s", f"{layer}.exec_s"]
    for layer in _call_layers():
        names += [f"{layer}.jobs", f"{layer}.tasks"]
    for layer in INPUT_BYTES_LAYERS:
        names.append(f"{layer}.input_bytes")
    for q in workloads.QUERY_MIX:
        names.append(f"{workloads.query_layer(q)}.shuffle_write_bytes")
    names += [f"spark.{k}" for k in COUNT_KEYS]
    names += ["trace.ops_per_s", "trace.op_p50_s"]
    return names


def _layer_unit(name: str) -> str:
    if name == "trace.ops_per_s":
        return "1/s"
    if name.endswith("_per_csv_byte"):
        return "B/B"
    if name.endswith("_s"):
        return "s"
    if name.endswith("bytes"):
        return "B"
    return "count"


def per_layer(tracer: Tracer, counts: dict, run, window: tuple, e2e: dict) -> dict:
    """Per-layer metrics from the spans: per-call medians of span time and
    of inclusive Spark counts, and ``spark.*`` totals over the operations
    of the measurement window. A layer the workload does not call itself is
    read from its cross-probe calls."""
    inclusive = tracer.inclusive(counts)
    by_name: dict[str, list[dict]] = {}
    for s in tracer.spans:
        by_name.setdefault(s["name"], []).append(s)

    def calls(name: str) -> list[dict]:
        # strict validation is reported on whole-directory inputs; the
        # per-file pipeline validates one file per call
        spans = [
            s for s in by_name.get(name, [])
            if s["parent"] is None or tracer.spans[s["parent"]]["name"] != "ingest.convert_csv_to_parquet"
        ]
        return [s for s in spans if not s["probe"]] or spans

    def med_time(name: str) -> float:
        spans = calls(name)
        return statistics.median(s["dur"] for s in spans) if spans else 0.0

    def med_count(name: str, key: str) -> float:
        spans = calls(name)
        return statistics.median(inclusive[s["id"]][key] for s in spans) if spans else 0

    import workloads

    out: dict[str, float] = {}
    for layer in TIMED_LAYERS + INDEX_BUILD_LAYERS:
        out[f"{layer}_s"] = med_time(layer)
    read = med_count("ingest.convert_csv_dir", "input_bytes")
    out["ingest.csv_bytes_read_per_csv_byte"] = read / run.extra["csv_bytes"]
    out["sinks.encode_commit_s"] = out["sinks.write_parquet_s"] - out["ingest.parse_csv_s"]
    out["sinks.files_written"] = run.extra["sinks.files_written"]
    out["sinks.output_bytes"] = run.extra["sinks.output_bytes"]
    for q in workloads.QUERY_MIX:
        layer = workloads.query_layer(q)
        out[f"{layer}.build_s"] = med_time(f"{layer}.build")
        out[f"{layer}.exec_s"] = med_time(f"{layer}.exec")
    for layer in _call_layers():
        out[f"{layer}.jobs"] = med_count(layer, "jobs")
        out[f"{layer}.tasks"] = med_count(layer, "tasks")
    for layer in INPUT_BYTES_LAYERS:
        out[f"{layer}.input_bytes"] = med_count(layer, "input_bytes")
    for q in workloads.QUERY_MIX:
        layer = workloads.query_layer(q)
        out[f"{layer}.shuffle_write_bytes"] = med_count(layer, "shuffle_write_bytes")
    ops = [
        s for s in tracer.spans
        if s["parent"] is None and window[0] <= s["start"] and s["end"] <= window[1]
    ]
    for k in COUNT_KEYS:
        out[f"spark.{k}"] = sum(inclusive[s["id"]][k] for s in ops)
    out["trace.ops_per_s"] = e2e["ops_per_s"]
    out["trace.op_p50_s"] = e2e["op_p50_s"]
    return out


if __name__ == "__main__":
    sys.exit(main())
