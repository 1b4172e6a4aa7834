"""Reshaping / frame-based operators: time-RANGE window frames and unpivot.

Neither shape exists in the reference (it has no window or reshape operators
at all, SURVEY.md §2.2); both are driver-mandated taxonomy entries:

- RANGE frame: per-event trailing-window aggregate keyed by *event time*,
  not row position — the shape behind rate limiting, rolling spend, and
  trailing-window features. One shuffle on the partition key; the frame scan
  is per-partition and streaming (no materialized self-join).
- Unpivot via ``stack()``: wide→long reshaping ahead of a metric-wise
  aggregate — Catalyst compiles it to a Generate (no shuffle), so the only
  exchange is the final small groupBy.

Money/value math uses DECIMAL so windowed sums are order-independent and
hash-match the DuckDB oracle exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from csv_parquet_s3_spark.operators.registry import register
from csv_parquet_s3_spark.sources.tables import load_table
from csv_parquet_s3_spark.plans.materialize import materialize

_HOUR_US = 3_600_000_000  # one hour in microseconds


@register(
    "q_events_trailing_hour",
    oracle=f"""
    SELECT event_id, user_id, ts,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(12,2))) OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts)
               RANGE BETWEEN {_HOUR_US} PRECEDING AND CURRENT ROW
           ), 2) AS DOUBLE) AS trailing_1h_value
    FROM events
    """,
)
def q_events_trailing_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 1-hour spend per user at every event — a RANGE frame over
    event-time microseconds (sub-second precision preserved; a seconds cast
    would shift frame boundaries)."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-_HOUR_US, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        F.round(F.sum(F.expr("CAST(value AS DECIMAL(12,2))")).over(w), 2)
        .cast("double")
        .alias("trailing_1h_value"),
    )


@register(
    "q_unpivot_lineitem_metrics",
    oracle="""
    SELECT metric,
           CAST(ROUND(SUM(val), 2) AS DOUBLE) AS total,
           COUNT(*) AS n
    FROM (
        SELECT 'extendedprice' AS metric,
               CAST(l_extendedprice AS DECIMAL(12,2)) AS val FROM lineitem
        UNION ALL
        SELECT 'discount', CAST(l_discount AS DECIMAL(12,2)) FROM lineitem
        UNION ALL
        SELECT 'tax', CAST(l_tax AS DECIMAL(12,2)) FROM lineitem
    ) long
    GROUP BY metric
    """,
)
def q_unpivot_lineitem_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long unpivot (``stack``) then metric-wise totals; the unpivot is
    a Generate node — zero shuffle until the 3-group aggregate."""
    li = load_table(spark, sf_dir, "lineitem")
    long = li.select(
        F.expr(
            "stack(3,"
            " 'extendedprice', CAST(l_extendedprice AS DECIMAL(12,2)),"
            " 'discount', CAST(l_discount AS DECIMAL(12,2)),"
            " 'tax', CAST(l_tax AS DECIMAL(12,2))"
            ") AS (metric, val)"
        )
    )
    return long.groupBy("metric").agg(
        F.expr("CAST(ROUND(SUM(val), 2) AS DOUBLE)").alias("total"),
        F.count("*").alias("n"),
    )


@register(
    "q_null_safe_join",
    oracle="""
    SELECT a.event_id AS event_id_a, b.event_id AS event_id_b, a.props
    FROM events a JOIN events b
      ON a.props IS NOT DISTINCT FROM b.props
     AND a.user_id = b.user_id AND a.event_id < b.event_id
    WHERE a.event_type = 'error' AND b.event_type = 'error'
    """,
)
def q_null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (``<=>`` / IS NOT DISTINCT FROM): pairs of
    same-user error events carrying the same props payload, where NULL
    props match each other — the semantics a plain equi-join silently
    drops. Still an equi-join to the planner (hash/SMJ capable)."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_type") == "error")
    a = ev.select(
        F.col("event_id").alias("event_id_a"), F.col("user_id").alias("u_a"), "props"
    )
    b = ev.select(
        F.col("event_id").alias("event_id_b"),
        F.col("user_id").alias("u_b"),
        F.col("props").alias("props_b"),
    )
    return (
        a.join(
            b,
            a.props.eqNullSafe(b.props_b)
            & (F.col("u_a") == F.col("u_b"))
            & (F.col("event_id_a") < F.col("event_id_b")),
        )
        .select("event_id_a", "event_id_b", "props")
    )


@register(
    "q_window_value_functions",
    oracle="""
    SELECT o_orderkey, o_custkey,
           CAST(first_value(o_totalprice) OVER w AS DOUBLE) AS first_price,
           CAST(last_value(o_totalprice) OVER w AS DOUBLE) AS latest_price,
           CAST(nth_value(o_totalprice, 2) OVER w AS DOUBLE) AS second_price
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
)
def q_window_value_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first/last/nth_value with an explicit unbounded frame (the default
    frame would make last_value degenerate) — per-customer order-price
    history positions."""
    orders = load_table(spark, sf_dir, "orders")
    w = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    )
    return orders.select(
        "o_orderkey",
        "o_custkey",
        F.first("o_totalprice").over(w).cast("double").alias("first_price"),
        F.last("o_totalprice").over(w).cast("double").alias("latest_price"),
        F.nth_value("o_totalprice", 2).over(w).cast("double").alias("second_price"),
    )


@register(
    "q_string_agg_statuses",
    oracle="""
    SELECT o_custkey,
           string_agg(DISTINCT o_orderstatus, ',' ORDER BY o_orderstatus)
             AS status_history,
           COUNT(*) AS n_orders
    FROM orders GROUP BY o_custkey
    """,
)
def q_string_agg_statuses(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (LISTAGG): deterministic via sort-then-join
    of the distinct set (collect_set order is engine-arbitrary — sorting is
    what makes this cross-engine stable)."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_custkey").agg(
        F.array_join(F.array_sort(F.collect_set("o_orderstatus")), ",").alias(
            "status_history"
        ),
        F.count("*").alias("n_orders"),
    )


@register(
    "q_events_hourly_gapfill",
    oracle="""
    WITH bounds AS (
        SELECT date_trunc('hour', MIN(ts)) AS lo, date_trunc('hour', MAX(ts)) AS hi
        FROM events
    ),
    grid AS (
        SELECT g AS hour_start
        FROM bounds, UNNEST(generate_series(lo, hi, INTERVAL 1 HOUR)) AS t(g)
    ),
    actual AS (
        SELECT date_trunc('hour', ts) AS hour_start, COUNT(*) AS n
        FROM events GROUP BY date_trunc('hour', ts)
    )
    SELECT grid.hour_start, CAST(COALESCE(actual.n, 0) AS BIGINT) AS n_events
    FROM grid LEFT JOIN actual ON actual.hour_start = grid.hour_start
    """,
)
def q_events_hourly_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resample with gap fill: a generated hour grid (sequence +
    explode) left-joined to the actual hourly counts, empty hours zero-
    filled — the shape every monitoring/feature rollup needs, and the one a
    naive groupBy silently gets wrong (missing rows, not zeros).

    The grid generates from a one-row MIN/MAX aggregate (broadcast), so the
    only data-sized operation is the hourly aggregation itself.
    """
    ev = load_table(spark, sf_dir, "events")
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    grid = bounds.select(
        F.explode(F.expr("sequence(lo, hi, INTERVAL 1 HOUR)")).alias("hour_start")
    )
    actual = ev.groupBy(F.date_trunc("hour", F.col("ts")).alias("hour_start")).agg(
        F.count("*").alias("n")
    )
    return grid.join(actual, "hour_start", "left").select(
        "hour_start", F.coalesce("n", F.lit(0)).cast("bigint").alias("n_events")
    )


@register(
    "q_events_weekly_retention",
    oracle="""
    WITH user_weeks AS (
        SELECT DISTINCT user_id, date_trunc('week', ts) AS week FROM events
    ),
    cohorts AS (
        SELECT user_id, MIN(week) AS cohort_week FROM user_weeks GROUP BY user_id
    )
    SELECT c.cohort_week,
           CAST(date_diff('week', c.cohort_week, u.week) AS BIGINT) AS weeks_since,
           COUNT(DISTINCT u.user_id) AS n_active
    FROM user_weeks u JOIN cohorts c ON u.user_id = c.user_id
    GROUP BY c.cohort_week, date_diff('week', c.cohort_week, u.week)
    """,
)
def q_events_weekly_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by first-active week, counted in each
    subsequent week — two aggregations + one join, all keyed on user_id so
    the partitioning is reused; the output is |cohorts|×|weeks|, constant-
    size regardless of corpus scale."""
    ev = load_table(spark, sf_dir, "events")
    user_weeks = ev.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("week")
    ).distinct()
    cohorts = user_weeks.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    return (
        user_weeks.join(cohorts, "user_id")
        .groupBy(
            "cohort_week",
            F.floor(
                F.datediff(F.col("week"), F.col("cohort_week")) / 7
            ).cast("bigint").alias("weeks_since"),
        )
        .agg(F.countDistinct("user_id").alias("n_active"))
    )


_HIST_BUCKET = "CAST(FLOOR(o_totalprice / 50000.0) AS INT)"


@register(
    "q_order_value_histogram",
    oracle=f"""
    SELECT {_HIST_BUCKET} AS bucket,
           COUNT(*) AS n_orders,
           CAST(ROUND(MIN(o_totalprice), 2) AS DOUBLE) AS lo,
           CAST(ROUND(MAX(o_totalprice), 2) AS DOUBLE) AS hi
    FROM orders
    GROUP BY {_HIST_BUCKET}
    """,
)
def q_order_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width value histogram (floor bucketing — portable where
    ``width_bucket`` isn't) — one hash aggregate, the distribution profile
    every data-quality dashboard starts from."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy(F.expr(_HIST_BUCKET).alias("bucket")).agg(
        F.count("*").alias("n_orders"),
        F.round(F.min("o_totalprice"), 2).cast("double").alias("lo"),
        F.round(F.max("o_totalprice"), 2).cast("double").alias("hi"),
    )


@register(
    "q_revenue_month_over_month",
    oracle=f"""
    WITH monthly AS (
        SELECT date_trunc('month', o_orderdate) AS month,
               SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS rev
        FROM orders GROUP BY date_trunc('month', o_orderdate)
    )
    SELECT month,
           CAST(ROUND(rev, 2) AS DOUBLE) AS revenue,
           CAST(ROUND(CAST(rev AS DOUBLE)
                      / CAST(lag(rev) OVER (ORDER BY month) AS DOUBLE) - 1.0, 6)
                AS DOUBLE) AS mom_growth
    FROM monthly
    """,
)
def q_revenue_month_over_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month growth: aggregate to months (tiny), then a lag
    window over the aggregate — the window sorts |months| rows, never the
    fact table."""
    orders = load_table(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        F.date_trunc("month", F.col("o_orderdate")).alias("month")
    ).agg(F.expr("SUM(CAST(o_totalprice AS DECIMAL(12,2)))").alias("rev"))
    w = W.orderBy("month")
    return monthly.select(
        "month",
        F.round("rev", 2).cast("double").alias("revenue"),
        F.round(
            F.col("rev").cast("double") / F.lag("rev").over(w).cast("double") - 1.0, 6
        )
        .cast("double")
        .alias("mom_growth"),
    )


_BAL = "CAST(s_acctbal AS DECIMAL(12,2))"
_BAL2 = f"{_BAL} * {_BAL}"


@register(
    "q_supplier_balance_zscore",
    oracle=f"""
    WITH stats AS (
        SELECT s_nationkey AS nk,
               CAST(SUM({_BAL}) AS DOUBLE) / COUNT(*) AS mean,
               CAST(SUM({_BAL2}) AS DOUBLE) / COUNT(*)
                 - (CAST(SUM({_BAL}) AS DOUBLE) / COUNT(*))
                   * (CAST(SUM({_BAL}) AS DOUBLE) / COUNT(*)) AS var
        FROM supplier GROUP BY s_nationkey
    )
    SELECT s_suppkey, s_nationkey,
           CAST(ROUND((s_acctbal - mean) / SQRT(var), 6) AS DOUBLE) AS balance_z
    FROM supplier JOIN stats ON nk = s_nationkey
    WHERE var > 0.0
    """,
)
def q_supplier_balance_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation z-score standardization — the feature-engineering
    normalize step. Moments come from EXACT decimal sums (Σx, Σx²) so the
    variance is accumulation-order-independent; a double ``stddev`` would
    never hash-match across engines. Group stats broadcast back onto the
    rows (Q17's join-back shape)."""
    supp = load_table(spark, sf_dir, "supplier")
    mean = F.expr(f"CAST(SUM({_BAL}) AS DOUBLE)") / F.count("*")
    sum2 = F.expr(f"CAST(SUM({_BAL2}) AS DOUBLE)") / F.count("*")
    stats = supp.groupBy(F.col("s_nationkey").alias("nk")).agg(
        mean.alias("mean"), (sum2 - mean * mean).alias("var")
    )
    return (
        supp.join(F.broadcast(stats), supp.s_nationkey == stats.nk)
        .filter(F.col("var") > 0.0)
        .select(
            "s_suppkey",
            "s_nationkey",
            F.round((F.col("s_acctbal") - F.col("mean")) / F.sqrt("var"), 6)
            .cast("double")
            .alias("balance_z"),
        )
    )


@register(
    "q_priority_share_of_total",
    oracle="""
    WITH counts AS (
        SELECT o_orderpriority, COUNT(*) AS n FROM orders GROUP BY o_orderpriority
    )
    SELECT o_orderpriority, n,
           CAST(ROUND(CAST(n AS DOUBLE)
                      / SUM(n) OVER (), 6) AS DOUBLE) AS share
    FROM counts
    """,
)
def q_priority_share_of_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share-of-total via an unpartitioned window OVER the aggregate — the
    window sees |groups| rows (5 here), so the single-partition window is
    free; running it over the raw fact would be the classic anti-pattern."""
    orders = load_table(spark, sf_dir, "orders")
    counts = orders.groupBy("o_orderpriority").agg(F.count("*").alias("n"))
    w = W.partitionBy()
    return counts.select(
        "o_orderpriority",
        "n",
        F.round(F.col("n").cast("double") / F.sum("n").over(w), 6)
        .cast("double")
        .alias("share"),
    )


_PS = "CAST(p_size AS DECIMAL(12,2))"
_PR = "CAST(p_retailprice AS DECIMAL(12,2))"


@register(
    "q_part_size_price_correlation",
    oracle=f"""
    SELECT p_type,
           COUNT(*) AS n,
           CAST(ROUND(
               (COUNT(*) * CAST(SUM({_PS} * {_PR}) AS DOUBLE)
                  - CAST(SUM({_PS}) AS DOUBLE) * CAST(SUM({_PR}) AS DOUBLE))
               / (SQRT(COUNT(*) * CAST(SUM({_PS} * {_PS}) AS DOUBLE)
                         - CAST(SUM({_PS}) AS DOUBLE) * CAST(SUM({_PS}) AS DOUBLE))
                  * SQRT(COUNT(*) * CAST(SUM({_PR} * {_PR}) AS DOUBLE)
                         - CAST(SUM({_PR}) AS DOUBLE) * CAST(SUM({_PR}) AS DOUBLE))),
               6) AS DOUBLE) AS size_price_corr
    FROM part
    GROUP BY p_type
    """,
)
def q_part_size_price_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation per part type from EXACT decimal moments
    (Σx, Σy, Σxy, Σx², Σy²) — the built-in ``corr()`` accumulates doubles in
    engine order and can never hash-match across engines; the five exact
    sums make the same statistic deterministic. One hash aggregate."""
    part = load_table(spark, sf_dir, "part")
    n = F.count("*")
    sx = F.expr(f"CAST(SUM({_PS}) AS DOUBLE)")
    sy = F.expr(f"CAST(SUM({_PR}) AS DOUBLE)")
    sxy = F.expr(f"CAST(SUM({_PS} * {_PR}) AS DOUBLE)")
    sxx = F.expr(f"CAST(SUM({_PS} * {_PS}) AS DOUBLE)")
    syy = F.expr(f"CAST(SUM({_PR} * {_PR}) AS DOUBLE)")
    corr = (n * sxy - sx * sy) / (
        F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy)
    )
    return part.groupBy("p_type").agg(
        n.alias("n"),
        F.round(corr, 6).cast("double").alias("size_price_corr"),
    )


@register(
    "q_customer_value_deciles",
    oracle="""
    WITH spend AS (
        SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS total
        FROM orders GROUP BY o_custkey
    ),
    ranked AS (
        SELECT o_custkey, total,
               NTILE(10) OVER (ORDER BY total DESC, o_custkey) AS decile
        FROM spend
    )
    SELECT decile, COUNT(*) AS n_customers,
           CAST(ROUND(SUM(total), 2) AS DOUBLE) AS decile_value,
           CAST(ROUND(MIN(total), 2) AS DOUBLE) AS min_value
    FROM ranked GROUP BY decile
    """,
)
def q_customer_value_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer lifetime-value deciles: aggregate to customers, ntile the
    aggregate (over |customers| rows, not the fact), re-aggregate per
    decile — the segmentation double-aggregate.

    The NTILE is TWO-PHASE (plans/ranking.py): a distributed
    range sort + broadcast offsets assemble the global row_number, and
    NTILE(10) derives from (row_number, total count) with the exact SQL
    NTILE fill — no single-partition window, so the segmentation survives
    |customers| outgrowing one executor."""
    from csv_parquet_s3_spark.plans.ranking import (
        ntile_from_rn,
        with_global_row_number,
    )

    orders = load_table(spark, sf_dir, "orders")
    spend = orders.groupBy("o_custkey").agg(
        F.expr("SUM(CAST(o_totalprice AS DECIMAL(12,2)))").alias("total")
    )
    rn = with_global_row_number(
        spend, [F.desc("total"), F.asc("o_custkey")], "__rn"
    )
    n_customers = rn.count()  # one bounded aggregate; the frame is already
    # materialized by the two-phase rank, so this is a cheap second read
    ranked = rn.withColumn(
        "decile", ntile_from_rn(F.col("__rn"), 10, F.lit(n_customers))
    )
    return ranked.groupBy("decile").agg(
        F.count("*").alias("n_customers"),
        F.expr("CAST(ROUND(SUM(total), 2) AS DOUBLE)").alias("decile_value"),
        F.expr("CAST(ROUND(MIN(total), 2) AS DOUBLE)").alias("min_value"),
    )


@register(
    "q_events_dau_wau_stickiness",
    oracle="""
    WITH dau AS (
        SELECT date_trunc('day', ts) AS day,
               COUNT(DISTINCT user_id) AS dau
        FROM events GROUP BY date_trunc('day', ts)
    ),
    wau AS (
        SELECT date_trunc('week', ts) AS week,
               COUNT(DISTINCT user_id) AS wau
        FROM events GROUP BY date_trunc('week', ts)
    )
    SELECT day, dau, wau,
           CAST(ROUND(CAST(dau AS DOUBLE) / wau, 6) AS DOUBLE) AS stickiness
    FROM dau JOIN wau ON date_trunc('week', day) = wau.week
    """,
)
def q_events_dau_wau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/WAU stickiness: two distinct-count aggregates at different time
    grains joined on the containing week — the engagement ratio every
    product dashboard carries. Both aggregates shuffle once on their grain;
    the join is |days| × |weeks| (tiny) → broadcast."""
    ev = load_table(spark, sf_dir, "events")
    dau = ev.groupBy(F.date_trunc("day", F.col("ts")).alias("day")).agg(
        F.countDistinct("user_id").alias("dau")
    )
    wau = ev.groupBy(F.date_trunc("week", F.col("ts")).alias("week")).agg(
        F.countDistinct("user_id").alias("wau")
    )
    return (
        dau.join(F.broadcast(wau), F.date_trunc("week", F.col("day")) == wau.week)
        .select(
            "day",
            "dau",
            "wau",
            F.round(F.col("dau").cast("double") / F.col("wau"), 6)
            .cast("double")
            .alias("stickiness"),
        )
    )


@register(
    "q_customer_reorder_gaps",
    oracle="""
    WITH gaps AS (
        SELECT o_custkey,
               date_diff('day',
                         lag(o_orderdate) OVER (PARTITION BY o_custkey
                                                ORDER BY o_orderdate, o_orderkey),
                         o_orderdate) AS gap_days
        FROM orders
    )
    SELECT o_custkey,
           COUNT(gap_days) AS n_reorders,
           CAST(MIN(gap_days) AS BIGINT) AS min_gap_days,
           CAST(MAX(gap_days) AS BIGINT) AS max_gap_days,
           CAST(SUM(gap_days) AS BIGINT) AS total_gap_days
    FROM gaps
    WHERE gap_days IS NOT NULL
    GROUP BY o_custkey
    """,
)
def q_customer_reorder_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-order gap profile per customer: lag over each customer's order
    history, then aggregate the gaps — the repeat-behavior feature (window
    keyed and ordered once per customer, integer day arithmetic so sums are
    exact)."""
    orders = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = orders.select(
        "o_custkey",
        F.datediff(F.col("o_orderdate"), F.lag("o_orderdate").over(w)).alias(
            "gap_days"
        ),
    ).filter(F.col("gap_days").isNotNull())
    return gaps.groupBy("o_custkey").agg(
        F.count("gap_days").alias("n_reorders"),
        F.min("gap_days").cast("bigint").alias("min_gap_days"),
        F.max("gap_days").cast("bigint").alias("max_gap_days"),
        F.sum("gap_days").cast("bigint").alias("total_gap_days"),
    )


_JOURNEY_LEN = 5


@register(
    "q_user_journey_paths",
    oracle=f"""
    WITH ranked AS (
        SELECT user_id, event_type, ts, event_id,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events
    ),
    journeys AS (
        SELECT user_id,
               string_agg(event_type, '>' ORDER BY rn) AS journey
        FROM ranked WHERE rn <= {_JOURNEY_LEN}
        GROUP BY user_id
    )
    SELECT journey, COUNT(*) AS n_users
    FROM journeys GROUP BY journey
    """,
)
def q_user_journey_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Path analysis: each user's first {_JOURNEY_LEN} events as an ordered
    'a>b>c' journey string, then the journey frequency table. Ordered
    aggregation is made deterministic by collecting (rn, type) structs and
    sorting INSIDE the row (collect_list order is engine-arbitrary) — one
    window + two aggregates, all keyed by user."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    ranked = ev.select(
        "user_id", "event_type", F.row_number().over(w).alias("rn")
    ).filter(F.col("rn") <= _JOURNEY_LEN)
    journeys = ranked.groupBy("user_id").agg(
        F.expr(
            "concat_ws('>', transform(array_sort(collect_list(struct(rn, event_type))),"
            " s -> s.event_type))"
        ).alias("journey")
    )
    return journeys.groupBy("journey").agg(F.count("*").alias("n_users"))


@register(
    "q_supplier_balance_mad",
    oracle="""
    WITH med AS (
        SELECT s_nationkey AS nk,
               quantile_cont(s_acctbal, 0.5) AS med_bal
        FROM supplier GROUP BY s_nationkey
    )
    SELECT s.s_nationkey, COUNT(*) AS n,
           CAST(ROUND(ANY_VALUE(m.med_bal), 6) AS DOUBLE) AS median_balance,
           CAST(ROUND(quantile_cont(ABS(s.s_acctbal - m.med_bal), 0.5), 6)
                AS DOUBLE) AS mad
    FROM supplier s JOIN med m ON m.nk = s.s_nationkey
    GROUP BY s.s_nationkey
    """,
)
def q_supplier_balance_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median absolute deviation per nation — the robust spread statistic
    (outlier-insensitive, unlike stddev). Two-level exact interpolated
    medians: group medians broadcast back onto the rows (join-back shape),
    then the median of absolute deviations. Interpolated percentiles are
    IEEE-deterministic on both engines, so this hash-matches without the
    decimal detour the moment-based stats need."""
    supp = load_table(spark, sf_dir, "supplier")
    med = supp.groupBy(F.col("s_nationkey").alias("nk")).agg(
        F.expr("percentile(s_acctbal, 0.5)").alias("med_bal")
    )
    return (
        supp.join(F.broadcast(med), supp.s_nationkey == med.nk)
        .groupBy("s_nationkey")
        .agg(
            F.count("*").alias("n"),
            F.round(F.expr("any_value(med_bal)"), 6)
            .cast("double")
            .alias("median_balance"),
            F.round(
                F.expr("percentile(ABS(s_acctbal - med_bal), 0.5)"), 6
            )
            .cast("double")
            .alias("mad"),
        )
    )


@register(
    "q_events_error_spikes",
    oracle="""
    WITH bounds AS (
        SELECT date_trunc('hour', MIN(ts)) AS lo, date_trunc('hour', MAX(ts)) AS hi
        FROM events
    ),
    grid AS (
        SELECT g AS hour_start
        FROM bounds, UNNEST(generate_series(lo, hi, INTERVAL 1 HOUR)) AS t(g)
    ),
    actual AS (
        SELECT date_trunc('hour', ts) AS hour_start, COUNT(*) AS n
        FROM events WHERE event_type = 'error'
        GROUP BY date_trunc('hour', ts)
    ),
    hourly AS (
        SELECT grid.hour_start, CAST(COALESCE(actual.n, 0) AS BIGINT) AS n_errors
        FROM grid LEFT JOIN actual ON actual.hour_start = grid.hour_start
    ),
    scored AS (
        SELECT hour_start, n_errors,
               CAST(SUM(n_errors) OVER w AS DOUBLE)
                 / COUNT(*) OVER w AS baseline
        FROM hourly
        WINDOW w AS (ORDER BY hour_start ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
    )
    SELECT hour_start, n_errors,
           CAST(ROUND(baseline, 6) AS DOUBLE) AS baseline
    FROM scored
    WHERE n_errors > 2.0 * baseline AND n_errors >= 3
    """,
)
def q_events_error_spikes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-spike detection: gap-filled hourly error counts compared to the
    trailing-24h mean (gap fill matters — missing hours must count as ZERO
    in the baseline, or quiet periods inflate it). One aggregate + one
    ordered window over the |hours| grid; the exact integer SUM/COUNT makes
    the baseline deterministic where a double AVG would not be."""
    ev = load_table(spark, sf_dir, "events")
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    grid = bounds.select(
        F.explode(F.expr("sequence(lo, hi, INTERVAL 1 HOUR)")).alias("hour_start")
    )
    actual = (
        ev.filter(F.col("event_type") == "error")
        .groupBy(F.date_trunc("hour", F.col("ts")).alias("hour_start"))
        .agg(F.count("*").alias("n"))
    )
    hourly = grid.join(actual, "hour_start", "left").select(
        "hour_start", F.coalesce("n", F.lit(0)).cast("bigint").alias("n_errors")
    )
    w = W.orderBy("hour_start").rowsBetween(-24, -1)
    scored = hourly.select(
        "hour_start",
        "n_errors",
        (F.sum("n_errors").over(w).cast("double") / F.count("*").over(w)).alias(
            "baseline"
        ),
    )
    return scored.filter(
        (F.col("n_errors") > 2.0 * F.col("baseline")) & (F.col("n_errors") >= 3)
    ).select("hour_start", "n_errors", F.round("baseline", 6).cast("double").alias("baseline"))


# ---------------------------------------------------------------------------
# Association mining: event-type co-occurrence with support and lift.
# ---------------------------------------------------------------------------
@register(
    "q_event_type_affinity",
    oracle="""
    WITH per_user AS (
        SELECT DISTINCT user_id, event_type FROM events
    ),
    totals AS (SELECT COUNT(DISTINCT user_id) AS n_users FROM events),
    singles AS (
        SELECT event_type, COUNT(*) AS n FROM per_user GROUP BY event_type
    ),
    pairs AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b, COUNT(*) AS n_both
        FROM per_user a JOIN per_user b
          ON a.user_id = b.user_id AND a.event_type < b.event_type
        GROUP BY a.event_type, b.event_type
    )
    SELECT p.type_a, p.type_b, p.n_both,
           CAST(p.n_both AS DOUBLE) / t.n_users AS support,
           CAST(ROUND(CAST(p.n_both AS DOUBLE) * t.n_users
                      / (sa.n * CAST(sb.n AS DOUBLE)), 6) AS DOUBLE) AS lift
    FROM pairs p
    JOIN singles sa ON sa.event_type = p.type_a
    JOIN singles sb ON sb.event_type = p.type_b
    CROSS JOIN totals t
    """,
)
def q_event_type_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket affinity over event types: for every type pair, the
    users exhibiting both, the pair support, and the lift vs independence —
    the association-mining shape (frequent itemsets at itemset size 2).

    Scale shape: one distinct projection (user, type) — the "basket"
    relation — then a self-join keyed on user_id whose volume is
    Σ types-per-user², bounded by the (small) type vocabulary, never by
    users². Single-division doubles keep the oracle exact. The basket
    relation is localCheckpointed: the singles counts, both self-join legs
    and the user total all reference it, and un-checkpointed each replays
    the corpus-wide distinct (5 scans / 9 exchanges in a plan audit).
    """
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.select("user_id", "event_type").distinct().transform(materialize)
    n_users = per_user.agg(F.countDistinct("user_id").alias("n_users"))
    singles = per_user.groupBy("event_type").agg(F.count("*").alias("n"))
    a = per_user.select(F.col("user_id"), F.col("event_type").alias("type_a"))
    b = per_user.select(F.col("user_id"), F.col("event_type").alias("type_b"))
    pairs = (
        a.join(b, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count("*").alias("n_both"))
    )
    sa = singles.select(F.col("event_type").alias("type_a"), F.col("n").alias("n_a"))
    sb = singles.select(F.col("event_type").alias("type_b"), F.col("n").alias("n_b"))
    return (
        pairs.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .crossJoin(F.broadcast(n_users))
        .select(
            "type_a",
            "type_b",
            "n_both",
            (F.col("n_both").cast("double") / F.col("n_users")).alias("support"),
            F.round(
                F.col("n_both").cast("double")
                * F.col("n_users")
                / (F.col("n_a") * F.col("n_b").cast("double")),
                6,
            )
            .cast("double")
            .alias("lift"),
        )
    )


# ---------------------------------------------------------------------------
# Per-user linear trend of event value over time (OLS slope/intercept from
# exact integer/decimal moments — same determinism discipline as the
# correlation above: built-in regr_slope() accumulates doubles in engine
# order and cannot hash-match).
# ---------------------------------------------------------------------------
_TREND_EPOCH_BASE = 1704067200  # 2024-01-01 00:00:00 UTC, below the data range

# Exact second offsets: unix_micros floor-divided to seconds (both engines
# floor on positives), minus a fixed base to keep the moments narrow.
_TREND_X_SPARK = f"CAST(unix_micros(ts) DIV 1000000 - {_TREND_EPOCH_BASE} AS DECIMAL(38,0))"
_TREND_X_DUCK = f"CAST(epoch_us(ts) // 1000000 - {_TREND_EPOCH_BASE} AS DECIMAL(38,0))"
_TREND_Y = "CAST(value AS DECIMAL(12,2))"


@register(
    "q_user_value_trend",
    oracle=f"""
    WITH pts AS (
        SELECT user_id, {_TREND_X_DUCK} AS x, {_TREND_Y} AS y
        FROM events WHERE value IS NOT NULL
    ),
    moments AS (
        SELECT user_id, COUNT(*) AS n,
               CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
               CAST(SUM(x * y) AS DOUBLE) AS sxy,
               CAST(SUM(x * x) AS DOUBLE) AS sxx
        FROM pts GROUP BY user_id
    )
    SELECT user_id, n AS n_events,
           CAST(ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx) * 86400, 6)
                AS DOUBLE) AS slope_per_day,
           CAST(ROUND((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 6)
                AS DOUBLE) AS intercept
    FROM moments
    WHERE n >= 5 AND n * sxx - sx * sx <> 0
    """,
)
def q_user_value_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user OLS trend of event value over time: slope (value/day) and
    intercept from exact moments (Σx, Σy, Σxy, Σx² in DECIMAL(38,0) —
    immune to the bigint overflow Σx² hits after ~10 epoch-scale points),
    cast to DOUBLE only for the final two divisions. One hash aggregate per
    user; the regression never sees individual points again after the
    map-side partial sums, so 100 TB of events reduce to 4 numbers per key
    before the shuffle.
    """
    events = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    pts = events.select(
        "user_id",
        F.expr(_TREND_X_SPARK).alias("x"),
        F.expr(_TREND_Y).alias("y"),
    )
    m = pts.groupBy("user_id").agg(
        F.count("*").alias("n"),
        F.expr("CAST(SUM(x) AS DOUBLE)").alias("sx"),
        F.expr("CAST(SUM(y) AS DOUBLE)").alias("sy"),
        F.expr("CAST(SUM(x * y) AS DOUBLE)").alias("sxy"),
        F.expr("CAST(SUM(x * x) AS DOUBLE)").alias("sxx"),
    )
    n, sx, sy, sxy, sxx = (F.col(c) for c in ("n", "sx", "sy", "sxy", "sxx"))
    denom = n * sxx - sx * sx
    slope = (n * sxy - sx * sy) / denom
    return (
        m.filter((n >= 5) & (denom != 0))
        .select(
            "user_id",
            n.alias("n_events"),
            F.round(slope * 86400, 6).cast("double").alias("slope_per_day"),
            F.round((sy - slope * sx) / n, 6).cast("double").alias("intercept"),
        )
    )


@register(
    "q_join_key_skew_profile",
    oracle="""
    WITH freq AS (
        SELECT user_id, COUNT(*) AS n FROM events GROUP BY user_id
    ),
    stats AS (
        SELECT COUNT(*) AS n_keys,
               CAST(SUM(n) AS BIGINT) AS n_rows,
               MAX(n) AS max_n,
               CAST(ROUND(CAST(SUM(n) AS DOUBLE) / COUNT(*), 6) AS DOUBLE) AS mean_n
        FROM freq
    ),
    topk AS (
        SELECT user_id, n,
               ROW_NUMBER() OVER (ORDER BY n DESC, user_id) AS rk
        FROM freq
    )
    SELECT t.rk AS rank, t.user_id, t.n AS n_rows_key, s.n_keys, s.n_rows,
           CAST(ROUND(t.n / s.mean_n, 6) AS DOUBLE) AS skew_factor
    FROM topk t, stats s
    WHERE t.rk <= 10
    """,
)
def q_join_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew profile: the top-10 heaviest ``user_id`` keys in the
    events fact with each key's multiplicity relative to the mean (the
    skew factor AQE's skew-join threshold reasons about). This is the
    diagnostic run BEFORE choosing a strategy for a fact⋈fact join on a
    suspect key — skew_factor ≳ the AQE skew thresholds means pre-salt
    (q_salted_brand_revenue) or isolate the hot keys.

    One aggregation keyed on the join key (map-side combine collapses the
    fact volume), a one-row stats broadcast, and a top-k window over the
    KEY frequency frame — never over the fact.
    """
    events = load_table(spark, sf_dir, "events")
    freq = events.groupBy("user_id").agg(F.count("*").alias("n"))
    stats = freq.agg(
        F.count("*").alias("n_keys"),
        F.sum("n").cast("bigint").alias("n_rows"),
        F.max("n").alias("max_n"),
        F.round(F.expr("CAST(SUM(n) AS DOUBLE)") / F.count("*"), 6).alias("mean_n"),
    )
    # Distributed top-k: orderBy().limit() plans as TakeOrderedAndProject
    # (per-partition heaps + merge); the rank window then runs over the 10
    # survivors only — ranking the full |users|-sized frame would move it
    # all to ONE partition (WindowExec's no-partition warning).
    wk = W.orderBy(F.desc("n"), F.asc("user_id"))
    topk = (
        freq.orderBy(F.desc("n"), F.asc("user_id"))
        .limit(10)
        .select("user_id", "n", F.row_number().over(wk).alias("rk"))
    )
    return topk.crossJoin(F.broadcast(stats)).select(
        F.col("rk").alias("rank"),
        "user_id",
        F.col("n").alias("n_rows_key"),
        "n_keys",
        "n_rows",
        F.round(F.col("n") / F.col("mean_n"), 6).cast("double").alias("skew_factor"),
    )


# Cutoff for the incremental-maintenance demonstration: mid-month of the
# events range (2024-01). Base = before, delta = on/after.
_IVM_CUTOFF = "TIMESTAMP '2024-01-15 00:00:00'"


@register(
    "q_incremental_hourly_rollup",
    # The oracle is the DIRECT rollup over all events: hash equality pins
    # the incremental-maintenance invariant merge(base, delta) ≡ recompute.
    oracle="""
    SELECT date_trunc('hour', ts) AS hour_start, event_type,
           COUNT(*) AS n_events,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE)
               AS total_value
    FROM events GROUP BY 1, 2
    """,
)
def q_incremental_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance: the hourly rollup is maintained as
    rollup(base) ⟗ rollup(delta) with key-wise additive merge — the
    standing-materialized-view pattern where each ingest batch folds its
    OWN rollup into the stored one instead of recomputing history. COUNT
    and DECIMAL SUM are self-maintainable aggregates (merge = add), which
    is exactly what the oracle's direct recompute hash-pins.

    At 100 TB the base rollup is a stored table keyed on (hour, type); a
    delta of any size merges with one key-partitioned outer join that
    touches only the delta's key range — history is never re-scanned.
    """
    events = load_table(spark, sf_dir, "events")
    cutoff = F.expr(_IVM_CUTOFF)

    def rollup(df: DataFrame) -> DataFrame:
        return df.groupBy(
            F.date_trunc("hour", "ts").alias("hour_start"),
            "event_type",
        ).agg(
            F.count("*").alias("n"),
            F.expr("SUM(CAST(value AS DECIMAL(12,2)))").alias("v"),
        )

    base = rollup(events.filter(F.col("ts") < cutoff)).select(
        "hour_start", "event_type", F.col("n").alias("n_b"), F.col("v").alias("v_b")
    )
    delta = rollup(events.filter(F.col("ts") >= cutoff)).select(
        "hour_start", "event_type", F.col("n").alias("n_d"), F.col("v").alias("v_d")
    )
    merged = base.join(delta, ["hour_start", "event_type"], "full")
    return merged.select(
        "hour_start",
        "event_type",
        (F.coalesce("n_b", F.lit(0)) + F.coalesce("n_d", F.lit(0))).alias("n_events"),
        F.expr("CAST(ROUND(coalesce(v_b, CAST(0 AS DECIMAL(12,2)))"
               " + coalesce(v_d, CAST(0 AS DECIMAL(12,2))), 2) AS DOUBLE)")
        .alias("total_value"),
    )


@register(
    "q_events_value_winsorized",
    oracle="""
    WITH q AS (
        SELECT event_type,
               quantile_cont(value, 0.01) AS p01,
               quantile_cont(value, 0.99) AS p99
        FROM events GROUP BY event_type
    )
    SELECT e.event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CASE WHEN e.value < q.p01 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_clipped_low,
           CAST(SUM(CASE WHEN e.value > q.p99 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_clipped_high,
           CAST(ROUND(q.p01, 6) AS DOUBLE) AS p01,
           CAST(ROUND(q.p99, 6) AS DOUBLE) AS p99,
           CAST(ROUND(SUM(CAST(LEAST(GREATEST(e.value, q.p01), q.p99)
                               AS DECIMAL(18,6))) / COUNT(*), 6) AS DOUBLE)
               AS winsor_mean
    FROM events e JOIN q ON q.event_type = e.event_type
    GROUP BY e.event_type, q.p01, q.p99
    """,
)
def q_events_value_winsorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized per-type value statistics: clip `value` to its type's
    [p1, p99] band, then average — the outlier-robust aggregate a metrics
    pipeline feeds to training instead of the raw mean (one fat-finger
    event stops moving the number). Clipped sums run in DECIMAL so the
    accumulation order cannot change the result across engines/partitions.
    Two passes over events (exact percentiles, then the clipped aggregate)
    joined through a |event_types|-row broadcast; at 100 TB swap the exact
    percentile for `approx_percentile` without touching the second pass."""
    events = load_table(spark, sf_dir, "events")
    q = events.groupBy("event_type").agg(
        F.expr("percentile(value, 0.01)").alias("p01"),
        F.expr("percentile(value, 0.99)").alias("p99"),
    )
    clipped = F.expr("CAST(LEAST(GREATEST(value, p01), p99) AS DECIMAL(18,6))")
    return (
        events.join(F.broadcast(q), "event_type")
        .groupBy("event_type", "p01", "p99")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.when(F.col("value") < F.col("p01"), 1).otherwise(0)).alias(
                "n_clipped_low"
            ),
            F.sum(F.when(F.col("value") > F.col("p99"), 1).otherwise(0)).alias(
                "n_clipped_high"
            ),
            F.round(F.sum(clipped) / F.count("*"), 6)
            .cast("double")
            .alias("winsor_mean"),
        )
        .select(
            "event_type",
            "n_events",
            "n_clipped_low",
            "n_clipped_high",
            F.round("p01", 6).cast("double").alias("p01"),
            F.round("p99", 6).cast("double").alias("p99"),
            "winsor_mean",
        )
    )


@register(
    "q_events_transition_matrix",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type,
               LEAD(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS next_type
        FROM events
    ),
    t AS (
        SELECT event_type AS from_type, next_type AS to_type,
               COUNT(*) AS n_transitions
        FROM seq WHERE next_type IS NOT NULL
        GROUP BY 1, 2
    )
    SELECT from_type, to_type, n_transitions,
           CAST(ROUND(CAST(n_transitions AS DOUBLE)
                      / SUM(n_transitions) OVER (PARTITION BY from_type), 6)
                AS DOUBLE) AS p
    FROM t
    """,
)
def q_events_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over each user's event
    sequence: lead() per user (one shuffle on user_id), pair counts, and
    row-normalized probabilities from a |types|²-bounded window — the
    behavioral fingerprint behind next-event prediction features and
    bot-pattern screens. The (ts, event_id) ordering key makes simultaneous
    events deterministic across engines."""
    events = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        "user_id", "event_type", F.lead("event_type").over(w).alias("next_type")
    )
    t = (
        seq.filter(F.col("next_type").isNotNull())
        .groupBy(
            F.col("event_type").alias("from_type"),
            F.col("next_type").alias("to_type"),
        )
        .agg(F.count("*").alias("n_transitions"))
    )
    wf = W.partitionBy("from_type")
    return t.select(
        "from_type",
        "to_type",
        "n_transitions",
        F.round(
            F.col("n_transitions").cast("double") / F.sum("n_transitions").over(wf), 6
        )
        .cast("double")
        .alias("p"),
    )


@register(
    "q_events_cumulative_unique_users",
    oracle="""
    WITH fs AS (
        SELECT user_id, MIN(date_trunc('day', ts)) AS first_day
        FROM events GROUP BY user_id
    ),
    news AS (
        SELECT first_day AS day, COUNT(*) AS new_users
        FROM fs GROUP BY first_day
    ),
    dau AS (
        SELECT date_trunc('day', ts) AS day,
               COUNT(DISTINCT user_id) AS daily_active
        FROM events GROUP BY date_trunc('day', ts)
    )
    SELECT d.day, d.daily_active,
           CAST(COALESCE(n.new_users, 0) AS BIGINT) AS new_users,
           CAST(SUM(COALESCE(n.new_users, 0))
                OVER (ORDER BY d.day ROWS UNBOUNDED PRECEDING)
                AS BIGINT) AS cumulative_users
    FROM dau d LEFT JOIN news n ON n.day = d.day
    """,
)
def q_events_cumulative_unique_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience growth curve: per day, the distinct actives, the first-ever-
    seen users, and the running total of unique users to date. The naive
    formulation — COUNT(DISTINCT user) OVER (ORDER BY day) — re-scans every
    prefix (quadratic, and Spark refuses DISTINCT window aggregates anyway);
    the scalable identity is cumulative_uniques(d) = Σ new_users(≤d) where a
    user is new on MIN(day). Two key-partitioned aggregates (user, then day)
    and one day-grain running sum over a days-sized frame.

    Scale shape: the user-grain MIN is the only corpus-sized shuffle and it
    combines map-side; everything after is |days| rows on one partition —
    fine, because the unbounded window's input is calendar-sized, not
    data-sized."""
    ev = load_table(spark, sf_dir, "events")
    fs = ev.groupBy("user_id").agg(
        F.min(F.date_trunc("day", F.col("ts"))).alias("first_day")
    )
    news = fs.groupBy(F.col("first_day").alias("day")).agg(
        F.count("*").alias("new_users")
    )
    dau = ev.groupBy(F.date_trunc("day", F.col("ts")).alias("day")).agg(
        F.countDistinct("user_id").alias("daily_active")
    )
    wd = W.orderBy("day").rowsBetween(W.unboundedPreceding, W.currentRow)
    return (
        dau.join(F.broadcast(news), "day", "left")
        .select(
            "day",
            "daily_active",
            F.coalesce("new_users", F.lit(0)).cast("bigint").alias("new_users"),
        )
        .withColumn(
            "cumulative_users", F.sum("new_users").over(wd).cast("bigint")
        )
    )


# ---------------------------------------------------------------------------
# Multi-touch attribution: distribute each purchase's value over the user's
# preceding touchpoints (clicks/views in a 24 h lookback) under the three
# standard models — linear (equal split), first-touch, last-touch. The
# marketing-analytics workload whose join shape (per-user fact×fact with a
# time band) is exactly the one that must NOT be written as a global range
# join.
# ---------------------------------------------------------------------------
ATTR_LOOKBACK_H = 24


@register(
    "q_multitouch_attribution",
    oracle=f"""
    WITH p AS (
        SELECT event_id AS pe, user_id, ts AS pts, value
        FROM events WHERE event_type = 'purchase'
    ),
    t AS (
        SELECT event_id AS te, user_id, ts AS tts, event_type AS touch_type
        FROM events WHERE event_type IN ('click', 'view')
    ),
    j AS (
        SELECT p.pe, p.value, t.te, t.tts, t.touch_type,
               COUNT(*) OVER (PARTITION BY p.pe) AS n_touches,
               ROW_NUMBER() OVER (PARTITION BY p.pe
                                  ORDER BY t.tts, t.te) AS rn_first,
               ROW_NUMBER() OVER (PARTITION BY p.pe
                                  ORDER BY t.tts DESC, t.te DESC) AS rn_last
        FROM p JOIN t ON t.user_id = p.user_id
         AND t.tts < p.pts
         AND t.tts >= p.pts - INTERVAL {ATTR_LOOKBACK_H} HOUR
    ),
    credits AS (
        SELECT touch_type, 'linear' AS model,
               CAST(ROUND(value / n_touches, 6) AS DECIMAL(20,6)) AS credit
        FROM j
        UNION ALL
        SELECT touch_type, 'first_touch',
               CAST(ROUND(value, 6) AS DECIMAL(20,6))
        FROM j WHERE rn_first = 1
        UNION ALL
        SELECT touch_type, 'last_touch',
               CAST(ROUND(value, 6) AS DECIMAL(20,6))
        FROM j WHERE rn_last = 1
    )
    SELECT touch_type, model, COUNT(*) AS n_credited,
           CAST(ROUND(CAST(SUM(credit) AS DOUBLE), 2) AS DOUBLE)
               AS credited_value
    FROM credits GROUP BY touch_type, model
    """,
)
def q_multitouch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attribution report: per (touchpoint type, model) the credited
    conversion value, under linear / first-touch / last-touch models over a
    {ATTR_LOOKBACK_H} h lookback. Purchases with no preceding touch carry
    no credit (the untracked-conversion bucket a real report shows
    separately).

    Scale shape: the purchase×touch expansion is keyed on user_id — ONE
    shuffle each side, per-user cross products bounded by per-user
    activity (AQE splits hot users), never a global time-range join. The
    three models reuse the same joined frame: two extra window ranks, no
    extra joins. Per-touch credits round to 6 digits into DECIMAL so the
    final sums are order-independent and hash-replayable."""
    ev = load_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pe"),
        F.col("user_id").alias("pu"),
        F.col("ts").alias("pts"),
        "value",
    )
    t = ev.filter(F.col("event_type").isin("click", "view")).select(
        F.col("event_id").alias("te"),
        F.col("user_id").alias("tu"),
        F.col("ts").alias("tts"),
        F.col("event_type").alias("touch_type"),
    )
    j = p.join(
        t,
        (F.col("tu") == F.col("pu"))
        & (F.col("tts") < F.col("pts"))
        & (F.col("tts") >= F.expr(f"pts - INTERVAL {ATTR_LOOKBACK_H} HOURS")),
    )
    wp = W.partitionBy("pe")
    # localCheckpoint: the ranked frame feeds all three model branches —
    # un-checkpointed, each branch replays the purchase×touch join and the
    # three windows (6 scans in a plan audit).
    j = j.select(
        "pe",
        "value",
        "touch_type",
        F.count("*").over(wp).alias("n_touches"),
        F.row_number().over(wp.orderBy("tts", "te")).alias("rn_first"),
        F.row_number()
        .over(wp.orderBy(F.desc("tts"), F.desc("te")))
        .alias("rn_last"),
    ).transform(materialize)
    dec = "decimal(20,6)"
    linear = j.select(
        "touch_type",
        F.lit("linear").alias("model"),
        F.round(F.col("value") / F.col("n_touches"), 6).cast(dec).alias("credit"),
    )
    first = j.filter(F.col("rn_first") == 1).select(
        "touch_type",
        F.lit("first_touch").alias("model"),
        F.round(F.col("value"), 6).cast(dec).alias("credit"),
    )
    last = j.filter(F.col("rn_last") == 1).select(
        "touch_type",
        F.lit("last_touch").alias("model"),
        F.round(F.col("value"), 6).cast(dec).alias("credit"),
    )
    return (
        linear.unionByName(first)
        .unionByName(last)
        .groupBy("touch_type", "model")
        .agg(
            F.count("*").alias("n_credited"),
            F.round(F.sum("credit").cast("double"), 2)
            .cast("double")
            .alias("credited_value"),
        )
    )


@register(
    "q_user_activity_streaks",
    oracle="""
    WITH days AS (
        SELECT DISTINCT user_id,
               date_diff('day', DATE '1990-01-01',
                         CAST(date_trunc('day', ts) AS DATE)) AS di
        FROM events
    ),
    isl AS (
        SELECT user_id, di,
               di - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY di)
                   AS grp
        FROM days
    ),
    runs AS (
        SELECT user_id, COUNT(*) AS len, MAX(di) AS run_end
        FROM isl GROUP BY user_id, grp
    ),
    mx AS (SELECT MAX(di) AS corpus_last FROM days)
    SELECT r.user_id,
           CAST(MAX(r.len) AS BIGINT) AS longest_streak_days,
           CAST(COUNT(*) AS BIGINT) AS n_streaks,
           CAST(MAX(CASE WHEN r.run_end = m.corpus_last THEN r.len
                         ELSE 0 END) AS BIGINT) AS current_streak_days
    FROM runs r CROSS JOIN mx m
    GROUP BY r.user_id
    """,
)
def q_user_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user activity streaks: longest run of CONSECUTIVE active days,
    how many distinct runs, and the streak still alive on the corpus's
    last day (0 if broken) — the engagement metric behind every 'N-day
    streak' product surface. Pure gaps-and-islands: day_index −
    row_number() is constant exactly within a consecutive run.

    Scale shape: distinct user-days (one keyed aggregate), one window and
    one aggregate per user partition — a single shuffle on user_id; the
    corpus-last-day scalar attaches as a broadcast. No self-join, no
    calendar expansion. Hot-key posture: the per-user partition after the
    DISTINCT is at the (user, day) grain, so it is CALENDAR-bounded —
    ≤ 366 rows per user per year regardless of how many raw events the
    user generates (the distinct aggregate absorbs the skew map-side
    first); no cap is needed because no unbounded partition exists."""
    ev = load_table(spark, sf_dir, "events")
    # localCheckpoint: days feeds both the islands window and the
    # corpus-last-day scalar — un-checkpointed, the scalar replays the
    # events scan + distinct shuffle.
    days = (
        ev.select(
            "user_id",
            F.expr(
                "datediff(CAST(date_trunc('day', ts) AS DATE), DATE '1990-01-01')"
            ).alias("di"),
        )
        .distinct()
        .transform(materialize)
    )
    isl = days.withColumn(
        "grp",
        F.col("di") - F.row_number().over(W.partitionBy("user_id").orderBy("di")),
    )
    runs = isl.groupBy("user_id", "grp").agg(
        F.count("*").alias("len"), F.max("di").alias("run_end")
    )
    mx = days.agg(F.max("di").alias("corpus_last"))
    return (
        runs.crossJoin(F.broadcast(mx))
        .groupBy("user_id")
        .agg(
            F.max("len").cast("bigint").alias("longest_streak_days"),
            F.count("*").cast("bigint").alias("n_streaks"),
            F.max(
                F.when(F.col("run_end") == F.col("corpus_last"), F.col("len"))
                .otherwise(0)
            )
            .cast("bigint")
            .alias("current_streak_days"),
        )
    )


CF_TOP_K = 5
# Super-basket cap: a customer contributes at most this many distinct items
# to the co-purchase self-join, so one mega-basket can never blow the
# Σ basket² pair envelope (32² = 1024 pairs max per user). Which items
# survive is a deterministic hash sample (ORDER BY md5(u:i)) — unbiased
# w.r.t. item identity and replayable by the oracle.
CF_MAX_BASKET = 32


@register(
    "q_item_cf_neighbors",
    oracle=f"""
    WITH ui_all AS (
        SELECT DISTINCT o.o_custkey AS u, l.l_partkey AS i
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    ),
    ui AS (
        SELECT u, i FROM (
            SELECT u, i, ROW_NUMBER() OVER (
                PARTITION BY u ORDER BY md5(u || ':' || i), i) AS rn_cap
            FROM ui_all
        ) t WHERE rn_cap <= {CF_MAX_BASKET}
    ),
    pop AS (SELECT i, COUNT(*) AS n FROM ui GROUP BY i),
    co AS (
        SELECT a.i AS item_i, b.i AS item_j, COUNT(*) AS n_co
        FROM ui a JOIN ui b ON a.u = b.u AND a.i < b.i
        GROUP BY a.i, b.i
    ),
    scored AS (
        SELECT c.item_i, c.item_j, c.n_co,
               CAST(ROUND(c.n_co / SQRT(CAST(pi.n * pj.n AS DOUBLE)), 6)
                    AS DOUBLE) AS cosine_sim
        FROM co c
        JOIN pop pi ON pi.i = c.item_i
        JOIN pop pj ON pj.i = c.item_j
    )
    SELECT item_i, item_j, CAST(n_co AS BIGINT) AS n_co, cosine_sim,
           CAST(rn AS INT) AS rnk
    FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY item_i
                                     ORDER BY cosine_sim DESC, item_j) AS rn
        FROM scored
    ) t WHERE rn <= {CF_TOP_K}
    """,
)
def q_item_cf_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative filtering: top-{CF_TOP_K} neighbors per part
    by co-purchase cosine (n_ij / √(n_i·n_j)) over the distinct
    customer×part matrix — the batch job behind 'customers also bought'.
    Cosine normalization is what separates this from raw affinity lift
    (`q_event_type_affinity`): popular items stop dominating every list.

    Scale shape: the pair expansion is keyed on the CUSTOMER — per-user
    cross products bounded by basket size (Σ basket², the same envelope as
    triangle counting), never item×item; popularity joins are item-sized.
    Super-baskets are CAPPED before the self-join: each customer keeps at
    most {CF_MAX_BASKET} items, chosen by deterministic hash order
    (`cap_documents_per_source`'s pattern), so the per-user pair count is
    hard-bounded at {CF_MAX_BASKET}² and no hot customer can dominate a
    shuffle partition; AQE splits whatever residual skew remains.
    Popularity is computed over the same capped matrix so the cosine stays
    internally consistent. Per-item partial top-k folds before the final
    window."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    ui_all = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(F.col("o_custkey").alias("u"), F.col("l_partkey").alias("i"))
        .distinct()
    )
    # localCheckpoint: the capped basket relation feeds the popularity
    # counts and BOTH self-join legs — un-checkpointed, each of the three
    # replays the join+distinct+cap-window pipeline (8 scans in a plan
    # audit). The materialized frame is the distinct interaction matrix,
    # the standard CF intermediate.
    ui = (
        ui_all.withColumn(
            "rn_cap",
            F.row_number().over(
                W.partitionBy("u").orderBy(
                    F.expr(
                        "md5(cast(concat(cast(u as string), ':',"
                        " cast(i as string)) as binary))"
                    ),
                    "i",
                )
            ),
        )
        .filter(F.col("rn_cap") <= CF_MAX_BASKET)
        .drop("rn_cap")
        .transform(materialize)
    )
    pop = ui.groupBy("i").agg(F.count("*").alias("n"))
    a = ui.select("u", F.col("i").alias("item_i"))
    b = ui.select(F.col("u").alias("u2"), F.col("i").alias("item_j"))
    co = (
        a.join(b, (F.col("u") == F.col("u2")) & (F.col("item_i") < F.col("item_j")))
        .groupBy("item_i", "item_j")
        .agg(F.count("*").alias("n_co"))
    )
    pi = pop.select(F.col("i").alias("item_i"), F.col("n").alias("n_i"))
    pj = pop.select(F.col("i").alias("item_j"), F.col("n").alias("n_j"))
    scored = (
        co.join(pi, "item_i")
        .join(pj, "item_j")
        .select(
            "item_i",
            "item_j",
            "n_co",
            F.round(
                F.col("n_co") / F.sqrt((F.col("n_i") * F.col("n_j")).cast("double")),
                6,
            )
            .cast("double")
            .alias("cosine_sim"),
        )
    )
    wi = W.partitionBy("item_i").orderBy(F.desc("cosine_sim"), "item_j")
    return (
        scored.withColumn("rnk", F.row_number().over(wi).cast("int"))
        .filter(F.col("rnk") <= CF_TOP_K)
        .select(
            "item_i",
            "item_j",
            F.col("n_co").cast("bigint").alias("n_co"),
            "cosine_sim",
            "rnk",
        )
    )
