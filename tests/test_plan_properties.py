"""Plan-shape assertions: the scan-efficiency claims (SURVEY.md §4.2 /
ARCHITECTURE.md) hold as executable checks, not prose."""

from __future__ import annotations

import re

import pytest

from csv_parquet_s3_spark.operators import QUERIES
from csv_parquet_s3_spark.plans.explain import analyze

SF = "/root/testdata/sf0.001"


def test_filter_pushdown_reaches_scan(spark):
    """q06 (filtered single-table aggregate): the shipdate/discount/quantity
    predicates must appear in PushedFilters on the parquet scan."""
    plan = analyze(QUERIES["q06_forecast_revenue"](spark, SF)).plan
    pushed = re.search(r"PushedFilters: \[([^\]]+)\]", plan)
    assert pushed and "l_shipdate" in pushed.group(1), plan


def test_column_pruning_on_projection(spark):
    """q06 touches 4 of lineitem's 11 columns; ReadSchema must not contain
    the untouched ones (full-width scans are the #1 avoidable IO cost)."""
    plan = analyze(QUERIES["q06_forecast_revenue"](spark, SF)).plan
    schema = re.search(r"ReadSchema: (.+)", plan).group(1)
    assert "l_shipdate" in schema and "l_discount" in schema
    for untouched in ("l_orderkey", "l_returnflag", "l_tax", "l_partkey"):
        assert untouched not in schema, schema


def test_constant_dims_broadcast(spark):
    """q05's region/nation/supplier legs must plan as broadcast joins —
    a sort-merge join against a 5-row dimension is a planning failure."""
    stats = analyze(QUERIES["q05_regional_revenue"](spark, SF))
    assert stats.n_broadcast_joins >= 2, stats.summary()


def test_topk_compiles_to_take_ordered(spark):
    """ORDER BY + LIMIT must become TakeOrderedAndProject (top-k heap),
    never a full global sort."""
    plan = analyze(QUERIES["q_topk_orders_by_value"](spark, SF)).plan
    assert "TakeOrderedAndProject" in plan
    assert "GlobalSort" not in plan


def test_broadcast_gate_hints_only_measured_small_tables(spark):
    """r11 verdict #1: a broadcast *hint* is honored unconditionally (no AQE
    size fallback), so SF-scaling tables (part/supplier) may only be hinted
    through the size gate. Under the gate the hint must appear; above it
    (threshold forced to 0) the plan must carry NO broadcast hint from us;
    an unstattable (remote-looking) root must also fail toward no-hint."""
    from csv_parquet_s3_spark.sources import tables as T

    sf = SF
    part = T.load_table(spark, sf, "part")
    li = T.load_table(spark, sf, "lineitem")

    hinted = li.join(
        T.broadcast_if_small(part, sf, "part"), li.l_partkey == part.p_partkey
    )
    assert "UnresolvedHint" in hinted._jdf.queryExecution().logical().toString() or (
        "ResolvedHint" in hinted._jdf.queryExecution().analyzed().toString()
    ), "under the gate, the hint must be attached"

    unhinted = li.join(
        T.broadcast_if_small(part, sf, "part", threshold_bytes=0),
        li.l_partkey == part.p_partkey,
    )
    assert "ResolvedHint" not in unhinted._jdf.queryExecution().analyzed().toString(), (
        "above the gate no hint may be attached — CBO/AQE decide"
    )

    # constant-size dims always hint, regardless of threshold
    nation = T.load_table(spark, sf, "nation")
    always = li.join(
        T.broadcast_if_small(nation, sf, "nation", threshold_bytes=0),
        li.l_suppkey == nation.n_nationkey,
    )
    assert "ResolvedHint" in always._jdf.queryExecution().analyzed().toString()


def _import_tables_with_gate(value: str):
    """Import ``sources.tables`` in a fresh interpreter with
    ``SPARK_GRAFT_GATE_BYTES=value`` (the knob is read once, at import) and
    print the module constant and ``broadcast_if_small``'s bound default."""
    import os
    import subprocess
    import sys

    code = (
        "from csv_parquet_s3_spark.sources import tables as T; "
        "print(T.BROADCAST_GATE_BYTES, (T.broadcast_if_small.__defaults__ or ())[-1])"
    )
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, SPARK_GRAFT_GATE_BYTES=value)
    return subprocess.run(
        [sys.executable, "-c", code], cwd=repo, env=env,
        capture_output=True, text=True, timeout=120,
    )


def test_broadcast_gate_env_override():
    """`SPARK_GRAFT_GATE_BYTES` is the production broadcast-budget knob
    (DEPLOYMENT.md): it must override both the module constant AND the
    def-time default of ``broadcast_if_small`` (which binds the constant),
    and a malformed value must fail at import with an error naming it."""
    ok = _import_tables_with_gate("12345")
    assert ok.returncode == 0, ok.stderr
    assert ok.stdout.split() == ["12345", "12345"]

    bad = _import_tables_with_gate("64M")
    assert bad.returncode != 0
    assert "ValueError: SPARK_GRAFT_GATE_BYTES='64M'" in bad.stderr, bad.stderr


def test_malformed_cpus_knob_names_itself(monkeypatch):
    from csv_parquet_s3_spark.session import default_parallelism

    monkeypatch.setenv("SPARK_GRAFT_CPUS", "four")
    with pytest.raises(ValueError, match="SPARK_GRAFT_CPUS='four'"):
        default_parallelism()
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert default_parallelism() == 3


def test_broadcast_gate_unstattable_root_never_claims_small(tmp_path):
    """A root we cannot stat locally (s3a://-style) must report a huge size
    so no hint is ever attached on unmeasured data."""
    from csv_parquet_s3_spark.sources import tables as T

    assert T.source_table_bytes("s3a://bucket/prefix", "part") >= (1 << 62)
    # and a real local file reports its true size
    import os

    real = T.source_table_bytes("/root/testdata/sf0.001", "part")
    assert real == os.path.getsize("/root/testdata/sf0.001/part.parquet")


def test_sf_scaling_dims_not_force_broadcast_in_source():
    """Policy gate (DEPLOYMENT.md fact⋈dim row): no bare ``F.broadcast`` on
    frames loaded from the SF-scaling tables inside the TPC-H surface or the
    graph module — every such hint must go through ``broadcast_if_small``.
    Grep-level, so a regression cannot slip in as an innocent-looking edit."""
    import os
    import re

    import glob
    import os

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pkg = os.path.join(repo, "csv_parquet_s3_spark")
    # r13: the grep also covers streaming/ (the r12 verdict's residual
    # forced customer-dim broadcast) and maintenance.py (the caller-supplied
    # unbounded victim set), plus frames named for them (dim/vic/victims).
    scaling_vars = r"(supp|part|part_avg|excluded|cust|dim|vic|victims)\b"
    paths = [
        os.path.join(pkg, "operators", "tpch_ext.py"),
        os.path.join(pkg, "operators", "components.py"),
        os.path.join(pkg, "maintenance.py"),
        *glob.glob(os.path.join(pkg, "streaming", "*.py")),
    ]
    offenders = []
    for path in paths:
        fname = os.path.relpath(path, pkg)
        with open(path) as fh:
            for i, line in enumerate(fh, 1):
                if re.search(rf"F\.broadcast\(\s*{scaling_vars}", line):
                    offenders.append(f"{fname}:{i}: {line.strip()}")
    assert not offenders, "\n".join(offenders)


def test_repetition_ratio_is_map_only(spark):
    """r12: duplicate-n-gram counts fold inside each document's own gram
    array (``size``/``size(array_distinct(...))``), so the plan must carry
    ZERO exchanges — the former explode + doc_id-keyed countDistinct
    shuffled a corpus-sized (doc_id, gram) stream (guide §2.4)."""
    stats = analyze(QUERIES["text_repetition_ratio"](spark, SF))
    assert stats.n_exchanges == 0, stats.summary()


def test_canonical_docs_single_cluster_shuffle(spark):
    """r12: survivor pick and assignment share ONE cluster-partitioned
    window pass — the former max_by aggregate + join-back consumed the
    corpus-sized all_docs frame twice (two documents scans, two cluster_id
    exchanges, SMJ join-back; guide §2.4). The plan must carry exactly one
    cluster_id-keyed exchange, one Window, and a single documents scan."""
    stats = analyze(QUERIES["dedup_canonical_docs"](spark, SF))
    plan = stats.plan
    # formatted plans put the partitioning on a detail "Arguments:" line
    assert len(re.findall(r"hashpartitioning\(cluster_id#\d+", plan)) == 1, plan
    assert len(re.findall(r"\(\d+\) Window\b", plan)) == 1, plan
    assert len(re.findall(r"Location:.*documents", plan)) == 1, plan


def test_kn_perplexity_context_fanout_share_one_aggregate(spark):
    """r12: the KN context total (sum c12) and fan-out (count) are grouped
    by the same key (w1) and must be computed by ONE aggregation — two
    HashAggregate pairs over bg keyed w1 would pay an extra exchange and an
    extra join in the scoring plan (guide §2.4). The plan may contain at
    most one shuffle keyed on w1 alone."""
    plan = analyze(QUERIES["text_bigram_kn_perplexity"](spark, SF)).plan
    w1_exchanges = re.findall(r"Exchange hashpartitioning\(w1#\d+[^,)]*\)", plan)
    assert len(w1_exchanges) <= 1, plan


def test_perplexity_scoring_folds_occurrences_directly(spark):
    """r13: each perplexity query folds the LM into a per-key term table and
    scores token/bigram OCCURRENCES map-side, so the only doc-keyed exchange
    is the final fold on doc_id ALONE (carrying partial count + DECIMAL sum
    after map-side combine). The former corpus-sized (doc_id, w1, w2) /
    (doc_id, token) pre-aggregation exchange must never come back — it
    shuffled the full string key stream just to weight the same per-key term
    by tf (guide §2.3/§2.4; sum(tf·term) == sum(term per occurrence) in
    exact DECIMAL arithmetic, so the rewrite is bit-identical)."""
    for name in (
        "text_bigram_kn_perplexity",
        "text_bigram_perplexity",
        "text_unigram_perplexity",
        "text_heldout_perplexity",
    ):
        plan = analyze(QUERIES[name](spark, SF)).plan
        bad = re.findall(r"Exchange hashpartitioning\(doc_id#\d+L?, \w+#", plan)
        assert not bad, f"{name}: corpus-sized doc-keyed exchange is back: {bad}"
