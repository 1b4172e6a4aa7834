"""Two-phase distributed global ranking.

``Window.orderBy(...)`` with no ``partitionBy`` plans as a SINGLE-partition
window: every input row is shuffled to one task, which sorts and ranks the
world. That is fine while the frame is a small aggregate, but the full
leaderboard/segmentation queries (supplier rank, customer deciles, RFM
quartiles, Gini) rank an ENTITY-sized frame — at 10⁹ customers a global
window is one executor sorting 10⁹ rows.

The classic fix (the same trick as ``RDD.zipWithIndex``) keeps the sort
distributed:

1. range-partition + sort the frame on the order key (a normal distributed
   sort — Spark's ``repartitionByRange`` samples boundaries);
2. within each sorted partition, assign a LOCAL 0-based index — we read it
   off ``monotonically_increasing_id()`` (partition id in the upper bits,
   in-partition record number in the lower 33), so no window and no extra
   shuffle is needed;
3. count rows per partition (P rows — P is the shuffle parallelism, not the
   data), collect, prefix-sum into per-partition OFFSETS, broadcast;
4. global row_number = offset[pid] + local_index + 1.

The order key must be a TOTAL order (append a unique tie-breaker column, as
every oracle here already does): with distinct full keys, wherever the
range sampler happens to place a boundary, partition p's keys all sort
before partition p+1's, so the assembled row_number is exactly the global
``ROW_NUMBER() OVER (ORDER BY ...)``. Because the order is total, ``RANK``
and ``DENSE_RANK`` over the same key list equal ``ROW_NUMBER`` (no two rows
are peers), and ``NTILE(n)`` / ``LAG`` derive from (row_number, total
count) and a P-row boundary table — helpers below.

Cost: one range shuffle (the sort you cannot avoid — it IS the semantics)
+ one P-row count/collect; versus the single-partition window's
shuffle-everything-to-one-task. The P-row collect is the same bounded
driver round-trip ``repartitionByRange`` itself performs for sampling.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from csv_parquet_s3_spark.plans.materialize import materialize

# monotonically_increasing_id(): partition id << 33 | record number
_MID_RECORD_BITS = 33
_MID_RECORD_MASK = (1 << _MID_RECORD_BITS) - 1


def with_global_row_number(
    df: DataFrame,
    order_cols: list[Column],
    rn_col: str = "rn",
    num_partitions: int | None = None,
) -> DataFrame:
    """``df`` plus a ``rn_col`` column = ROW_NUMBER() OVER (ORDER BY
    order_cols), computed with a distributed range sort instead of a
    single-partition window.

    ``order_cols`` must define a total order (include a unique tie-break).
    Internal columns ``__mid/__pid/__loc`` are dropped before return;
    callers that also need LAG across partition boundaries use
    :func:`with_global_lag`, which keeps the boundary metadata.
    """
    ranked, _ = _ranked_with_boundaries(df, order_cols, rn_col, num_partitions)
    return ranked.drop("__pid", "__loc")


def _ranked_with_boundaries(
    df: DataFrame,
    order_cols: list[Column],
    rn_col: str,
    num_partitions: int | None = None,
) -> tuple[DataFrame, list[tuple[int, int, int]]]:
    """Shared core: returns (ranked df with rn_col + __pid/__loc retained,
    boundaries) where boundaries is a sorted list of (pid, offset, count).
    Callers that need cross-partition context (LAG) join against the
    boundary list; plain callers use :func:`with_global_row_number`."""
    if num_partitions:
        sorted_df = df.repartitionByRange(num_partitions, *order_cols)
    else:
        sorted_df = df.repartitionByRange(*order_cols)
    sorted_df = (
        sorted_df.sortWithinPartitions(*order_cols)
        .withColumn("__mid", F.monotonically_increasing_id())
        # two consumers below (the per-partition counts and the ranked
        # output) — materialized so the range shuffle is not re-sampled per
        # action and the mids are stable across both reads
        .transform(materialize)
    )
    pid = F.shiftright("__mid", _MID_RECORD_BITS).cast("int")
    loc = (F.col("__mid").bitwiseAND(F.lit(_MID_RECORD_MASK))).cast("bigint")
    sorted_df = sorted_df.withColumn("__pid", pid).withColumn("__loc", loc)

    counts = {
        r["__pid"]: r["cnt"]
        for r in sorted_df.groupBy("__pid").agg(F.count("*").alias("cnt")).collect()
    }
    boundaries: list[tuple[int, int, int]] = []
    offset = 0
    for p in sorted(counts):
        boundaries.append((p, offset, counts[p]))
        offset += counts[p]

    offset_map = F.create_map(
        *[F.lit(x) for p, off, _ in boundaries for x in (p, off)]
    )
    ranked = sorted_df.withColumn(
        rn_col, (offset_map[F.col("__pid")] + F.col("__loc") + 1).cast("bigint")
    ).drop("__mid")
    return ranked, boundaries


def ntile_from_rn(rn: Column, n: int, total: Column) -> Column:
    """SQL ``NTILE(n)`` derived from a global row_number and the total row
    count: the first ``total % n`` buckets get ``total // n + 1`` rows, the
    rest ``total // n`` — exactly the standard NTILE fill.

    With q = total // n, r = total % n, big = q + 1:
      rn <= r*big        →  (rn-1) // big + 1
      otherwise          →  r + (rn - r*big - 1) // q + 1
    """
    # integer `div`, not double `/` + cast: double division is exact only
    # within 2^53, so the cast-back flooring is off-by-one at entity-scale
    # totals (e.g. (2^60+7)/10 rounds to ...704, floor-div gives ...698)
    idiv = lambda a, b: F.call_function("div", a, b)  # noqa: E731
    q = idiv(total, F.lit(n))
    r = total - q * n
    big = q + 1
    in_big = rn <= r * big
    bucket_big = idiv(rn - 1, big) + 1
    bucket_small = r + idiv(rn - r * big - 1, q) + 1
    return F.when(in_big, bucket_big).otherwise(bucket_small).cast("int")


def with_global_lag(
    df: DataFrame,
    order_cols: list[Column],
    value_col: str,
    rn_col: str = "rn",
    lag_col: str = "__lag",
    num_partitions: int | None = None,
) -> DataFrame:
    """``df`` + global row_number (``rn_col``) + ``lag_col`` =
    LAG(value_col) OVER (ORDER BY order_cols), two-phase.

    LAG is local to each sorted partition EXCEPT each partition's first
    row, whose predecessor is the previous partition's last row. Those P
    boundary values are a P-row collect (same bounded round-trip as the
    offsets); a broadcast map patches the first row of each partition.
    """
    from pyspark.sql import Window as W

    ranked, boundaries = _ranked_with_boundaries(df, order_cols, rn_col, num_partitions)
    # per-partition last value: the row whose __loc == count-1
    count_map = F.create_map(
        *[F.lit(x) for p, _, cnt in boundaries for x in (p, cnt)]
    )
    last_rows = {
        r["__pid"]: r[value_col]
        for r in ranked.filter(
            F.col("__loc") == count_map[F.col("__pid")] - 1
        )
        .select("__pid", value_col)
        .collect()
    }
    # previous NON-EMPTY partition's last value for each partition
    prev_last: dict[int, object] = {}
    carry = None
    for p, _, cnt in boundaries:  # ascending pid == ascending key ranges
        prev_last[p] = carry
        if cnt > 0:
            carry = last_rows.get(p)
    entries = [
        x for p, v in prev_last.items() if v is not None for x in (p, v)
    ]
    value_type = ranked.schema[value_col].dataType
    prev_val = (
        F.create_map(*[F.lit(x) for x in entries])[F.col("__pid")].cast(value_type)
        if entries
        else F.lit(None).cast(value_type)
    )
    wl = W.partitionBy("__pid").orderBy("__loc")
    local_lag = F.lag(value_col).over(wl)
    lag_val = F.when(F.col("__loc") == 0, prev_val).otherwise(local_lag)
    return ranked.withColumn(lag_col, lag_val).drop("__pid", "__loc")
