"""Two-phase distributed rank (plans/ranking.py) vs the single-partition
window it replaces, plus the materialize() choke-point modes.

The four converted registry queries (supplier rank, deciles, RFM, Gini)
are pinned by the oracle sweep; these tests pin the UTILITY against
Spark's own window functions on a frame that genuinely spans multiple
range partitions, so a boundary/offset bug cannot hide behind a
single-partition test run.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import Window as W
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def frame(spark):
    random.seed(7)
    rows = [(i, random.randint(0, 50)) for i in range(5000)]
    # heavy ties in v (≈100 rows per value) exercise the boundary-splits-
    # equal-keys case; id is the unique tie-breaker the contract requires
    return spark.createDataFrame(rows, "id bigint, v bigint").repartition(13)


def _order():  # Columns need an active SparkContext — build lazily
    return [F.desc("v"), F.asc("id")]


def _multi_partition(df) -> int:
    return df.select(F.spark_partition_id()).distinct().count()


def test_row_number_matches_global_window(spark, frame):
    from csv_parquet_s3_spark.plans.ranking import with_global_row_number

    got = with_global_row_number(frame, _order(), "rn", num_partitions=7)
    assert _multi_partition(got) > 1, "test frame collapsed to one partition"
    ref = frame.select("*", F.row_number().over(W.orderBy(*_order())).alias("rn"))
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, ref.collect()))


@pytest.mark.parametrize("n", [4, 10, 3, 4999, 5001])
def test_ntile_matches_sql_ntile(spark, frame, n):
    from csv_parquet_s3_spark.plans.ranking import (
        ntile_from_rn,
        with_global_row_number,
    )

    sub = frame.limit(4999) if n == 5001 else frame  # n > total edge case
    total = sub.count()
    rnk = with_global_row_number(sub, _order(), "rn", num_partitions=7)
    got = rnk.select("id", ntile_from_rn(F.col("rn"), n, F.lit(total)).alias("b"))
    ref = sub.select("id", F.ntile(n).over(W.orderBy(*_order())).alias("b"))
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, ref.collect()))


def test_ntile_formula_exhaustive_grid(spark):
    """Exhaustive check of the NTILE fill arithmetic: for every total in
    1..60 and n in {1,2,3,4,5,7,10,59,60,61}, every rn in 1..total must
    land in the bucket the SQL standard assigns (first total%n buckets get
    total//n + 1 rows). Independently recomputed in Python, evaluated in
    ONE Spark job — the 5-case parametrized test above can miss an
    off-by-one in the ragged fill; this grid cannot."""
    from csv_parquet_s3_spark.plans.ranking import ntile_from_rn

    ns = [1, 2, 3, 4, 5, 7, 10, 59, 60, 61]
    rows = [
        (total, rn) for total in range(1, 61) for rn in range(1, total + 1)
    ]
    df = spark.createDataFrame(rows, "total bigint, rn bigint").coalesce(4)
    got = df.select(
        "total",
        "rn",
        *[
            ntile_from_rn(F.col("rn"), n, F.col("total")).alias(f"b{n}")
            for n in ns
        ],
    ).collect()

    def buckets(n: int, total: int) -> list[int]:
        # the SQL definition, literally: hand out total rows round-robin-
        # by-block — first (total % n) buckets get one extra row
        q, r = divmod(total, n)
        sizes = [q + 1] * r + [q] * (n - r)
        out = []
        for b, size in enumerate(sizes, start=1):
            out.extend([b] * size)
        return out  # out[rn-1] = NTILE(n) for row rn

    tables = {(n, total): buckets(n, total) for n in ns for total in range(1, 61)}
    for row in got:
        for n in ns:
            assert row[f"b{n}"] == tables[(n, row.total)][row.rn - 1], (
                f"total={row.total} rn={row.rn} n={n}"
            )


def test_lag_matches_global_window(spark, frame):
    from csv_parquet_s3_spark.plans.ranking import with_global_lag

    got = with_global_lag(frame, _order(), "v", "rn", "pv", num_partitions=7)
    ref = frame.select(
        "*",
        F.row_number().over(W.orderBy(*_order())).alias("rn"),
        F.lag("v").over(W.orderBy(*_order())).alias("pv"),
    )
    cols = ["id", "v", "rn", "pv"]
    assert sorted(map(tuple, got.select(cols).collect())) == sorted(
        map(tuple, ref.select(cols).collect())
    )


def test_no_single_partition_exchange_in_converted_queries(spark):
    """The verdict's done-criterion for the two-phase conversion: none of
    the four leaderboard/segmentation plans funnels an entity-sized frame
    through Exchange SinglePartition. (Gini's final 1-row readout aggregate
    legitimately keeps one — the RANKING must not.)"""
    from csv_parquet_s3_spark.operators.advanced import q_customer_gini_concentration
    from csv_parquet_s3_spark.operators.relational import q_window_supplier_rank
    from csv_parquet_s3_spark.operators.reshape import q_customer_value_deciles
    from csv_parquet_s3_spark.operators.statistics import q_customer_rfm_segments
    from csv_parquet_s3_spark.plans.explain import analyze

    sf = "/root/testdata/sf0.001"
    for fn, allowed in [
        (q_window_supplier_rank, 0),
        (q_customer_value_deciles, 0),
        (q_customer_rfm_segments, 0),
        # the 1-row (n, sx, six) readout is a global aggregate by semantics
        (q_customer_gini_concentration, 1),
    ]:
        st = analyze(fn(spark, sf))
        assert st.n_single_partition <= allowed, (
            f"{fn.__name__}: {st.n_single_partition} SinglePartition exchanges"
        )


def _unset_checkpoint_dir(spark) -> None:
    """PySpark has no public way back to "no checkpoint directory"; clear
    the JVM context's field so later tests see the session default."""
    sc = spark.sparkContext
    getattr(sc._jsc.sc(), "checkpointDir_$eq")(sc._jvm.scala.Option.empty())


class TestMaterializeModes:
    """No checkpoint directory: a local checkpoint, pinned RDD-side and
    writing no files. With one set: a reliable checkpoint, whose files land
    in that directory and which pins nothing RDD-side."""

    def test_local_truncates_lineage(self, spark):
        from csv_parquet_s3_spark.plans.materialize import (
            _pinned_rdd_id,
            materialize,
            persistent_rdd_ids,
        )

        assert spark.sparkContext.getCheckpointDir() is None
        df = materialize(spark.range(10).withColumn("x", F.col("id") * 2))
        assert df.count() == 10
        assert "LogicalRDD" in df._jdf.queryExecution().logical().toString()
        assert _pinned_rdd_id(df) in persistent_rdd_ids(spark)

    def test_reliable_mode_checkpoints_durably(self, spark, tmp_path):
        from csv_parquet_s3_spark.plans.materialize import (
            _pinned_rdd_id,
            materialize,
            persistent_rdd_ids,
        )

        sc = spark.sparkContext
        ckpt = tmp_path / "ckpt"
        sc.setCheckpointDir(str(ckpt))
        try:
            df = materialize(spark.range(10).withColumn("x", F.col("id") * 2))
            assert df.count() == 10
            assert "LogicalRDD" in df._jdf.queryExecution().logical().toString()
            assert _pinned_rdd_id(df) not in persistent_rdd_ids(spark)
            assert any(ckpt.rglob("part-*")), "no checkpoint files written"
        finally:
            _unset_checkpoint_dir(spark)
        assert sc.getCheckpointDir() is None

    @pytest.mark.slow
    def test_modes_are_result_equivalent_on_an_iterative_operator(
        self, spark, tmp_path
    ):
        """The checkpoint directory must not change ANY answer: run a
        checkpoint-heavy iterative operator (PageRank — 7 recorded
        subplans per audit) with no directory and with one set, and require
        identical rows. This is the claim DEPLOYMENT.md makes when it says
        setting ``spark.checkpoint.dir`` makes every materialization site in
        the registry durable."""
        from csv_parquet_s3_spark.operators.components import (
            graph_pagerank_nation_trade,
        )

        sf = "/root/testdata/sf0.001"
        base = sorted(map(tuple, graph_pagerank_nation_trade(spark, sf).collect()))
        spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
        try:
            alt = sorted(
                map(tuple, graph_pagerank_nation_trade(spark, sf).collect())
            )
        finally:
            _unset_checkpoint_dir(spark)
        assert any((tmp_path / "ckpt").rglob("part-*"))
        assert base == alt

    def test_recorder_captures_pre_checkpoint_plan(self, spark):
        from csv_parquet_s3_spark.plans.materialize import (
            materialize,
            record_checkpoint_plans,
        )

        recorded: list = []
        with record_checkpoint_plans(recorded):
            materialize(
                spark.range(100).groupBy((F.col("id") % 5).alias("k")).count()
            )
        assert len(recorded) == 1
        assert recorded[0].n_exchanges >= 1, "pre-truncation shuffle not seen"


def test_ntile_exact_beyond_double_precision(spark):
    """r07-advisor item: NTILE bucket arithmetic must use integer `div`,
    not double `/` + bigint cast — doubles are exact only to 2^53, so a
    2^60-row frame's bucket assignment came out off-by-one. Pin the
    formula at totals far beyond 2^53 against Python's exact integers."""
    from csv_parquet_s3_spark.plans.ranking import ntile_from_rn

    total = (1 << 60) + 7
    n = 10
    q, r = divmod(total, n)
    # probe rns around every bucket boundary on both sides of the big/small
    # divide, plus the extremes
    probes = []
    for b in (1, 2, r - 1, r, r + 1, n - 1, n):
        for edge in (0, 1):
            if b <= r:
                start = (b - 1) * (q + 1) + 1
                end = b * (q + 1)
            else:
                start = r * (q + 1) + (b - r - 1) * q + 1
                end = r * (q + 1) + (b - r) * q
            probes += [(start + edge, b), (end - edge, b)]
    probes = [(rn, b) for rn, b in probes if 1 <= rn <= total]

    df = spark.createDataFrame(probes, "rn bigint, expect int")
    got = df.select(
        "expect", ntile_from_rn(F.col("rn"), n, F.lit(total)).alias("got")
    ).collect()
    assert all(row.got == row.expect for row in got), [
        (row.expect, row.got) for row in got if row.got != row.expect
    ]
