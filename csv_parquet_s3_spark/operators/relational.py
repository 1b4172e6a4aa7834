"""Relational query surface: scans, filters, joins, aggregations, windows,
top-k, set ops, rollup/cube, scalar functions, and event-time analytics.

The reference implements no general-purpose query operators (SURVEY.md §2.2);
this module supplies the full standard taxonomy the driver mandates, each
query a declarative DataFrame plan (Catalyst handles pushdown, pruning, join
selection) paired with a DuckDB oracle.

Determinism rules (see registry docstring): DECIMAL for money math, explicit
casts so Spark/DuckDB output types agree, total ORDER BY before every LIMIT.

Scale notes (100 TB design point):
- ``region``/``nation`` are constant-size → explicit ``F.broadcast``.
- Fact-fact joins (orders ⋈ lineitem) are equi-joins on their natural keys;
  at scale these become sort-merge joins on the shuffle keys, and AQE handles
  skew. No driver-side materialization anywhere.
- Filters are expressed on base columns (not through opaque UDFs) so they
  reach the Parquet scan as PushedFilters.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from csv_parquet_s3_spark.operators.registry import register
from csv_parquet_s3_spark.sources.tables import load_table
from csv_parquet_s3_spark.plans.materialize import materialize

# ---------------------------------------------------------------------------
# Shared SQL fragments — used verbatim in BOTH the Spark plan (via F.expr)
# and the DuckDB oracle so the arithmetic is textually identical.
# ---------------------------------------------------------------------------
DEC_PRICE = "CAST(l_extendedprice AS DECIMAL(12,2))"
DEC_QTY = "CAST(l_quantity AS DECIMAL(12,2))"
DEC_DISC = "CAST(l_discount AS DECIMAL(4,2))"
DISC_FACTOR = "CAST(1 - CAST(l_discount AS DECIMAL(4,2)) AS DECIMAL(4,2))"
TAX_FACTOR = "CAST(1 + CAST(l_tax AS DECIMAL(4,2)) AS DECIMAL(4,2))"
REVENUE = f"{DEC_PRICE} * {DISC_FACTOR}"
CHARGE = f"{REVENUE} * {TAX_FACTOR}"
DEC_TOTALPRICE = "CAST(o_totalprice AS DECIMAL(12,2))"
DEC_VALUE = "CAST(value AS DECIMAL(12,2))"


def money_sum(expr: str, alias: str) -> str:
    """Exact decimal SUM, rounded to cents, surfaced as DOUBLE."""
    return f"CAST(ROUND(SUM({expr}), 2) AS DOUBLE) AS {alias}"


def avg6(expr: str, alias: str) -> str:
    """Order-independent average: exact decimal SUM / COUNT, rounded to 6."""
    return f"CAST(ROUND(CAST(SUM({expr}) AS DOUBLE) / COUNT(*), 6) AS DOUBLE) AS {alias}"


# ---------------------------------------------------------------------------
# Bigint-cents fast path for SINGLE-FACTOR money aggregates.
#
# SUM over DECIMAL(12,2) yields a DECIMAL(22,2) accumulator — precision > 18,
# so Spark falls off the compact-long representation onto BigDecimal, ~30%
# slower on q01's shape. Converting each value to exact integer cents first
# (decimal * 100 → scale-0 → BIGINT, no double arithmetic anywhere) keeps the
# whole aggregation in long adds, and the final cents/100 double division is
# correctly rounded — bit-identical to casting the exact decimal sum.
#
# Width analysis (the reason PRODUCTS stay DECIMAL): a scale-2 value below
# 10^10 is < 2^40 cents; int64 overflows a per-group sum only past ~9·10^16
# rows — orders of magnitude beyond 100 TB (~10^12 lineitem rows). The
# 3-factor charge expression, by contrast, needs scale 6 → 10^4 more headroom
# than scale 2, which an int64 cannot spare at that row count, so REVENUE /
# CHARGE sums remain exact DECIMAL (tests pin the two paths equal).
# ---------------------------------------------------------------------------
def _cents(dec_expr: str) -> str:
    """Exact integer cents of a scale-2 decimal expression.

    The multiplier is DECIMAL(3,0) so the product stays within precision 18
    (compact-long representation); a bare int literal would widen past it.
    """
    return f"CAST({dec_expr} * CAST(100 AS DECIMAL(3,0)) AS BIGINT)"


def cents_sum(dec_expr: str, alias: str) -> str:
    """SUM in long cents, surfaced as DOUBLE (== decimal-SUM then cast)."""
    return f"CAST(SUM({_cents(dec_expr)}) AS DOUBLE) / 100 AS {alias}"


def cents_avg6(dec_expr: str, alias: str) -> str:
    """Average via long-cents sum, one double division, rounded to 6."""
    return (
        f"CAST(ROUND(CAST(SUM({_cents(dec_expr)}) AS DOUBLE)"
        f" / (100 * COUNT(*)), 6) AS DOUBLE) AS {alias}"
    )


# ---------------------------------------------------------------------------
# q01 — pricing summary (TPC-H Q1 shape): scan → filter → groupBy → 8 aggs.
# Single-factor sums/averages ride the cents fast path; the discounted /
# taxed products stay DECIMAL-exact (see width analysis above).
# ---------------------------------------------------------------------------
_Q01_AGGS = [
    cents_sum(DEC_QTY, "sum_qty"),
    cents_sum(DEC_PRICE, "sum_base_price"),
    money_sum(REVENUE, "sum_disc_price"),
    money_sum(CHARGE, "sum_charge"),
    cents_avg6(DEC_QTY, "avg_qty"),
    cents_avg6(DEC_PRICE, "avg_price"),
    cents_avg6(DEC_DISC, "avg_disc"),
    "COUNT(*) AS count_order",
]

# The exact-DECIMAL formulation, kept for the fast-path equality pin
# (tests/test_money_fastpath.py).
_Q01_AGGS_DECIMAL = [
    f"CAST(ROUND(SUM({DEC_QTY}), 2) AS DOUBLE) AS sum_qty",
    money_sum(DEC_PRICE, "sum_base_price"),
    money_sum(REVENUE, "sum_disc_price"),
    money_sum(CHARGE, "sum_charge"),
    avg6(DEC_QTY, "avg_qty"),
    avg6(DEC_PRICE, "avg_price"),
    avg6(DEC_DISC, "avg_disc"),
    "COUNT(*) AS count_order",
]


@register(
    "q01_pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus, {', '.join(_Q01_AGGS)}
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.expr("l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(*[F.expr(a) for a in _Q01_AGGS])
    )


# ---------------------------------------------------------------------------
# q03 — top unshipped orders (TPC-H Q3 shape): 3-way join → agg → top-k.
# ---------------------------------------------------------------------------
@register(
    "q03_top_unshipped",
    oracle=f"""
    SELECT l_orderkey, {money_sum(REVENUE, 'revenue')}, o_orderdate, o_orderpriority
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-06-30 00:00:00'
      AND l_shipdate  > TIMESTAMP '1998-06-30 00:00:00'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q03_top_unshipped(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.expr("o_orderdate < TIMESTAMP '1998-06-30 00:00:00'")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.expr("l_shipdate > TIMESTAMP '1998-06-30 00:00:00'")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.expr(money_sum(REVENUE, "revenue")))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# q04 — order priority with EXISTS (left-semi join on a theta condition).
# ---------------------------------------------------------------------------
@register(
    "q04_order_priority",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey
          AND l_shipdate > o_orderdate + INTERVAL 30 DAY
    )
    GROUP BY o_orderpriority
    """,
)
def q04_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    cond = (li.l_orderkey == orders.o_orderkey) & (
        li.l_shipdate > F.expr("o_orderdate + INTERVAL 30 DAY")
    )
    return (
        orders.join(li, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


# ---------------------------------------------------------------------------
# q05 — regional supplier revenue (TPC-H Q5 shape): 6-way join.
# region/nation are constant-size → broadcast; fact joins shuffle on keys.
# ---------------------------------------------------------------------------
@register(
    "q05_regional_revenue",
    oracle=f"""
    SELECT n_name, {money_sum(REVENUE, 'revenue')}
    FROM customer
      JOIN orders   ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      JOIN nation   ON s_nationkey = n_nationkey
      JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n_name
    """,
)
def q05_regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.expr(
            "o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'"
            " AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'"
        )
    )
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(
            supp,
            (li.l_suppkey == supp.s_suppkey) & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(F.expr(money_sum(REVENUE, "revenue")))
    )


# ---------------------------------------------------------------------------
# q06 — forecast revenue change (TPC-H Q6 shape): pure scan-filter-agg.
# The whole query should collapse to one Parquet scan with pushed filters.
# ---------------------------------------------------------------------------
@register(
    "q06_forecast_revenue",
    oracle=f"""
    SELECT {money_sum(f'{DEC_PRICE} * {DEC_DISC}', 'revenue_delta')}, COUNT(*) AS n_rows
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
      AND l_discount BETWEEN 0.04 AND 0.06
      AND l_quantity < 24
    """,
)
def q06_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(
        F.expr(
            "l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'"
            " AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'"
            " AND l_discount BETWEEN 0.04 AND 0.06 AND l_quantity < 24"
        )
    ).agg(
        F.expr(money_sum(f"{DEC_PRICE} * {DEC_DISC}", "revenue_delta")),
        F.count("*").alias("n_rows"),
    )


# ---------------------------------------------------------------------------
# q10 — top customers by spend (join + agg + total-order top-k).
# ---------------------------------------------------------------------------
@register(
    "q10_top_customers",
    oracle=f"""
    SELECT c_custkey, c_name, c_mktsegment,
           {money_sum(DEC_TOTALPRICE, 'total_spent')}, COUNT(*) AS n_orders
    FROM customer JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey, c_name, c_mktsegment
    ORDER BY total_spent DESC, c_custkey
    LIMIT 15
    """,
)
def q10_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_custkey", "c_name", "c_mktsegment")
        .agg(
            F.expr(money_sum(DEC_TOTALPRICE, "total_spent")),
            F.count("*").alias("n_orders"),
        )
        .orderBy(F.desc("total_spent"), F.asc("c_custkey"))
        .limit(15)
    )


# ---------------------------------------------------------------------------
# Semi / anti joins.
# ---------------------------------------------------------------------------
@register(
    "q_semi_customers_with_open_orders",
    oracle="""
    SELECT c_custkey, c_name, c_acctbal
    FROM customer
    WHERE EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
    """,
)
def q_semi_customers_with_open_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "P")
    return cust.join(orders, cust.c_custkey == orders.o_custkey, "left_semi").select(
        "c_custkey", "c_name", "c_acctbal"
    )


@register(
    "q_anti_customers_without_open_orders",
    oracle="""
    SELECT c_custkey, c_name, c_acctbal
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
    """,
)
def q_anti_customers_without_open_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "P")
    return cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti").select(
        "c_custkey", "c_name", "c_acctbal"
    )


# ---------------------------------------------------------------------------
# Windows: top-k per group, ranking family, running totals.
# ---------------------------------------------------------------------------
@register(
    "q_window_top3_parts_per_brand",
    oracle="""
    SELECT p_brand, p_partkey, p_retailprice, rn FROM (
        SELECT p_brand, p_partkey, p_retailprice,
               ROW_NUMBER() OVER (PARTITION BY p_brand
                                  ORDER BY p_retailprice DESC, p_partkey) AS rn
        FROM part
    ) t WHERE rn <= 3
    """,
)
def q_window_top3_parts_per_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    w = W.partitionBy("p_brand").orderBy(F.desc("p_retailprice"), F.asc("p_partkey"))
    return (
        part.select(
            "p_brand",
            "p_partkey",
            "p_retailprice",
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") <= 3)
    )


@register(
    "q_window_supplier_rank",
    oracle=f"""
    WITH rev AS (
        SELECT l_suppkey, {money_sum(REVENUE, 'revenue')}
        FROM lineitem GROUP BY l_suppkey
    )
    SELECT l_suppkey, revenue,
           RANK()       OVER (ORDER BY revenue DESC, l_suppkey) AS rnk,
           DENSE_RANK() OVER (ORDER BY revenue DESC, l_suppkey) AS drnk,
           CAST(ROUND(revenue - LAG(revenue) OVER (ORDER BY revenue DESC, l_suppkey), 2)
                AS DOUBLE) AS gap_to_prev
    FROM rev
    """,
)
def q_window_supplier_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full supplier leaderboard: rank, dense rank, and revenue gap to the
    previous supplier over the GLOBAL revenue order.

    Scale shape: the window runs over the per-supplier aggregate
    (|suppliers| rows), never the fact table — and the global
    ordering is TWO-PHASE (plans/ranking.py): a distributed range sort
    assigns per-partition row numbers, broadcast per-partition offsets
    assemble the global rank, and LAG crosses partition boundaries via a
    P-row boundary patch — no single-partition window anywhere, so the
    leaderboard survives |suppliers| outgrowing one executor. The ORDER BY
    (revenue DESC, l_suppkey) is a total order, so RANK ≡ DENSE_RANK ≡
    ROW_NUMBER (no peer rows) and the values are unchanged; for top-k
    outputs use orderBy().limit(k) instead (see q_join_key_skew_profile)."""
    from csv_parquet_s3_spark.plans.ranking import with_global_lag

    li = load_table(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_suppkey").agg(F.expr(money_sum(REVENUE, "revenue")))
    ranked = with_global_lag(
        rev,
        [F.desc("revenue"), F.asc("l_suppkey")],
        "revenue",
        rn_col="rnk",
        lag_col="__prev_rev",
    )
    return ranked.select(
        "l_suppkey",
        "revenue",
        "rnk",
        F.col("rnk").alias("drnk"),
        F.round(F.col("revenue") - F.col("__prev_rev"), 2)
        .cast("double")
        .alias("gap_to_prev"),
    )


@register(
    "q_window_running_revenue",
    oracle=f"""
    SELECT l_suppkey, l_orderkey, l_linenumber,
           CAST(ROUND(SUM({REVENUE}) OVER (
                PARTITION BY l_suppkey
                ORDER BY l_shipdate, l_orderkey, l_linenumber
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS DOUBLE)
             AS running_revenue
    FROM lineitem
    WHERE l_suppkey <= 3
    """,
)
def q_window_running_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_suppkey") <= 3)
    w = (
        W.partitionBy("l_suppkey")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return li.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        F.round(F.sum(F.expr(REVENUE)).over(w), 2).cast("double").alias("running_revenue"),
    )


# ---------------------------------------------------------------------------
# Grouping sets: rollup and cube.
# ---------------------------------------------------------------------------
@register(
    "q_rollup_revenue",
    oracle=f"""
    SELECT l_returnflag, l_linestatus, {money_sum(REVENUE, 'revenue')},
           COUNT(*) AS n_rows
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def q_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase rollup: aggregate to the base grain first (map-side combine
    shrinks the shuffle to one row per group), then rollup the tiny result —
    the Expand runs over |groups| rows, not the whole fact. Equivalent
    because SUM/COUNT re-aggregate losslessly (keys are non-null here; a
    NULL-keyed input would need grouping_id to disambiguate)."""
    li = load_table(spark, sf_dir, "lineitem")
    base = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.expr(f"SUM({REVENUE})").alias("_rev"), F.count("*").alias("_n")
    )
    return base.rollup("l_returnflag", "l_linestatus").agg(
        F.expr("CAST(ROUND(SUM(_rev), 2) AS DOUBLE)").alias("revenue"),
        F.sum("_n").alias("n_rows"),
    )


@register(
    "q_cube_order_status",
    oracle=f"""
    SELECT o_orderstatus, o_orderpriority,
           {money_sum(DEC_TOTALPRICE, 'total_value')}, COUNT(*) AS n_orders
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def q_cube_order_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase cube (see q_rollup_revenue): base-grain aggregate first,
    cube the |groups|-row result."""
    orders = load_table(spark, sf_dir, "orders")
    base = orders.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.expr(f"SUM({DEC_TOTALPRICE})").alias("_tot"), F.count("*").alias("_n")
    )
    return base.cube("o_orderstatus", "o_orderpriority").agg(
        F.expr("CAST(ROUND(SUM(_tot), 2) AS DOUBLE)").alias("total_value"),
        F.sum("_n").alias("n_orders"),
    )


# ---------------------------------------------------------------------------
# Pivot (expressed as portable conditional aggregation).
# ---------------------------------------------------------------------------
@register(
    "q_pivot_revenue_by_status",
    oracle=f"""
    SELECT l_returnflag,
           CAST(ROUND(SUM(CASE WHEN l_linestatus = 'O' THEN {REVENUE} ELSE CAST(0 AS DECIMAL(4,2)) END), 2) AS DOUBLE) AS rev_open,
           CAST(ROUND(SUM(CASE WHEN l_linestatus = 'F' THEN {REVENUE} ELSE CAST(0 AS DECIMAL(4,2)) END), 2) AS DOUBLE) AS rev_filled
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_pivot_revenue_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    def piv(status: str, alias: str) -> F.Column:
        return F.expr(
            f"CAST(ROUND(SUM(CASE WHEN l_linestatus = '{status}' THEN {REVENUE}"
            f" ELSE CAST(0 AS DECIMAL(4,2)) END), 2) AS DOUBLE)"
        ).alias(alias)
    return li.groupBy("l_returnflag").agg(piv("O", "rev_open"), piv("F", "rev_filled"))


# ---------------------------------------------------------------------------
# Set operations.
# ---------------------------------------------------------------------------
@register(
    "q_union_active_parties",
    oracle="""
    SELECT DISTINCT o_custkey AS party_key, 'customer_open' AS kind
    FROM orders WHERE o_orderstatus = 'O'
    UNION
    SELECT DISTINCT o_custkey AS party_key, 'customer_filled' AS kind
    FROM orders WHERE o_orderstatus = 'F'
    """,
)
def q_union_active_parties(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    open_k = (
        orders.filter(F.col("o_orderstatus") == "O")
        .select(F.col("o_custkey").alias("party_key"), F.lit("customer_open").alias("kind"))
        .distinct()
    )
    filled_k = (
        orders.filter(F.col("o_orderstatus") == "F")
        .select(F.col("o_custkey").alias("party_key"), F.lit("customer_filled").alias("kind"))
        .distinct()
    )
    return open_k.union(filled_k).distinct()


@register(
    "q_except_only_open_customers",
    oracle="""
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    EXCEPT
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    """,
)
def q_except_only_open_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    open_k = orders.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    filled_k = orders.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    return open_k.subtract(filled_k)  # EXCEPT DISTINCT semantics


@register(
    "q_intersect_both_status_customers",
    oracle="""
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    INTERSECT
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    """,
)
def q_intersect_both_status_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    open_k = orders.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    filled_k = orders.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    return open_k.intersect(filled_k)


# ---------------------------------------------------------------------------
# Distinct aggregation.
# ---------------------------------------------------------------------------
@register(
    "q_distinct_agg",
    oracle=f"""
    SELECT o_orderstatus,
           COUNT(DISTINCT o_custkey) AS n_customers,
           COUNT(*) AS n_orders,
           {money_sum(DEC_TOTALPRICE, 'total_value')}
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def q_distinct_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderstatus").agg(
        F.countDistinct("o_custkey").alias("n_customers"),
        F.count("*").alias("n_orders"),
        F.expr(money_sum(DEC_TOTALPRICE, "total_value")),
    )


# ---------------------------------------------------------------------------
# Filters / predicates: IN, BETWEEN, LIKE, boolean composition.
# Deliberately sargable so every predicate reaches the Parquet scan.
# ---------------------------------------------------------------------------
@register(
    "q_filter_predicates",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag, l_shipdate
    FROM lineitem
    WHERE l_returnflag IN ('A', 'R')
      AND l_quantity BETWEEN 45 AND 50
      AND (l_discount > 0.08 OR l_tax < 0.02)
      AND l_shipdate >= TIMESTAMP '2000-01-01 00:00:00'
    """,
)
def q_filter_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(
        F.col("l_returnflag").isin("A", "R")
        & F.col("l_quantity").between(45, 50)
        & ((F.col("l_discount") > 0.08) | (F.col("l_tax") < 0.02))
        & (F.col("l_shipdate") >= F.expr("TIMESTAMP '2000-01-01 00:00:00'"))
    ).select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag", "l_shipdate")


# ---------------------------------------------------------------------------
# Top-k by total order (TakeOrderedAndProject — no full sort at scale).
# ---------------------------------------------------------------------------
@register(
    "q_topk_orders_by_value",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 20
    """,
)
def q_topk_orders_by_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Scalar function surfaces.
# ---------------------------------------------------------------------------
@register(
    "q_scalar_string_funcs",
    oracle="""
    SELECT p_partkey,
           UPPER(p_brand) AS brand_u,
           LOWER(p_type) AS type_l,
           CAST(LENGTH(p_name) AS INT) AS name_len,
           SUBSTRING(p_name, 1, 8) AS name_pfx,
           CONCAT(p_brand, ':', p_type) AS brand_type,
           REPLACE(p_type, ' ', '_') AS type_snake,
           TRIM(p_name) AS name_trim
    FROM part
    WHERE p_size >= 25
    """,
)
def q_scalar_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part").filter(F.col("p_size") >= 25)
    return part.select(
        "p_partkey",
        F.upper("p_brand").alias("brand_u"),
        F.lower("p_type").alias("type_l"),
        F.length("p_name").cast("int").alias("name_len"),
        F.substring("p_name", 1, 8).alias("name_pfx"),
        F.concat_ws(":", "p_brand", "p_type").alias("brand_type"),
        F.replace(F.col("p_type"), F.lit(" "), F.lit("_")).alias("type_snake"),
        F.trim("p_name").alias("name_trim"),
    )


@register(
    "q_scalar_date_math_funcs",
    oracle="""
    SELECT o_orderkey,
           CAST(YEAR(o_orderdate) AS INT) AS order_year,
           CAST(MONTH(o_orderdate) AS INT) AS order_month,
           CAST(QUARTER(o_orderdate) AS INT) AS order_quarter,
           DATE_TRUNC('month', o_orderdate) AS order_month_start,
           CAST(ROUND(SQRT(o_totalprice), 6) AS DOUBLE) AS price_sqrt,
           CAST(ROUND(LN(o_totalprice + 1), 6) AS DOUBLE) AS price_ln,
           CAST(CEIL(o_totalprice) AS BIGINT) AS price_ceil,
           CAST(FLOOR(o_totalprice) AS BIGINT) AS price_floor,
           ABS(o_custkey - 50) AS key_dist
    FROM orders
    WHERE o_orderkey <= 2000
    """,
)
def q_scalar_date_math_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 2000)
    return orders.select(
        "o_orderkey",
        F.year("o_orderdate").cast("int").alias("order_year"),
        F.month("o_orderdate").cast("int").alias("order_month"),
        F.quarter("o_orderdate").cast("int").alias("order_quarter"),
        F.date_trunc("month", F.col("o_orderdate")).alias("order_month_start"),
        F.round(F.sqrt("o_totalprice"), 6).cast("double").alias("price_sqrt"),
        F.round(F.log(F.col("o_totalprice") + 1), 6).cast("double").alias("price_ln"),
        F.ceil("o_totalprice").cast("bigint").alias("price_ceil"),
        F.floor("o_totalprice").cast("bigint").alias("price_floor"),
        F.abs(F.col("o_custkey") - 50).alias("key_dist"),
    )


# ---------------------------------------------------------------------------
# Event-time analytics over the events table.
# ---------------------------------------------------------------------------
@register(
    "q_events_hourly",
    oracle=f"""
    SELECT DATE_TRUNC('hour', ts) AS hour_start, event_type,
           COUNT(*) AS n_events,
           {money_sum(DEC_VALUE, 'total_value')},
           {avg6(DEC_VALUE, 'avg_value')}
    FROM events
    GROUP BY DATE_TRUNC('hour', ts), event_type
    """,
)
def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour_start"), F.col("event_type")
        )
        .agg(
            F.count("*").alias("n_events"),
            F.expr(money_sum(DEC_VALUE, "total_value")),
            F.expr(avg6(DEC_VALUE, "avg_value")),
        )
    )


@register(
    "q_events_sessionize",
    oracle="""
    WITH flagged AS (
        SELECT user_id, event_id,
               CASE WHEN LAG(epoch_us(ts)) OVER w IS NULL
                         OR epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 1800000000
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id,
           CAST(SUM(new_session) AS BIGINT) AS n_sessions,
           COUNT(*) AS n_events
    FROM flagged
    GROUP BY user_id
    """,
)
def q_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization: a >30 min silence starts a new session.

    Classic Spark shape: lag over (user, time) window + cumulative flag; at
    scale the single shuffle is on user_id (the session key).
    """
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    flagged = ev.select(
        "user_id",
        "event_id",
        F.when(
            F.lag(us).over(w).isNull() | ((us - F.lag(us).over(w)) > 1_800_000_000),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("new_session"),
    )
    return flagged.groupBy("user_id").agg(
        F.sum("new_session").cast("bigint").alias("n_sessions"),
        F.count("*").alias("n_events"),
    )


@register(
    "q_events_user_daily_activity",
    oracle=f"""
    SELECT user_id, DATE_TRUNC('day', ts) AS day,
           COUNT(*) AS n_events,
           COUNT(DISTINCT event_type) AS n_types,
           {money_sum(DEC_VALUE, 'day_value')}
    FROM events
    GROUP BY user_id, DATE_TRUNC('day', ts)
    """,
)
def q_events_user_daily_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(
        "user_id", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(
        F.count("*").alias("n_events"),
        F.countDistinct("event_type").alias("n_types"),
        F.expr(money_sum(DEC_VALUE, "day_value")),
    )


# ---------------------------------------------------------------------------
# Event funnel: ordered-stage conversion (view → click → purchase).
# ---------------------------------------------------------------------------
@register(
    "q_events_funnel",
    oracle="""
    WITH v AS (
        SELECT user_id, MIN(ts) AS t_view FROM events
        WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
        SELECT e.user_id, MIN(e.ts) AS t_click
        FROM events e JOIN v ON v.user_id = e.user_id
        WHERE e.event_type = 'click' AND e.ts > v.t_view
        GROUP BY e.user_id
    ),
    p AS (
        SELECT e.user_id, MIN(e.ts) AS t_purchase
        FROM events e JOIN c ON c.user_id = e.user_id
        WHERE e.event_type = 'purchase' AND e.ts > c.t_click
        GROUP BY e.user_id
    )
    SELECT (SELECT COUNT(*) FROM v) AS n_viewed,
           (SELECT COUNT(*) FROM c) AS n_clicked_after_view,
           (SELECT COUNT(*) FROM p) AS n_purchased_after_click
    """,
)
def q_events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-stage conversion funnel: users whose first click follows their
    first view, and first purchase follows that click.

    Each stage is a filtered aggregate joined to the previous stage — all
    three shuffles key on user_id, so at scale the exchange is reusable
    (one partitioning carried through) and per-stage state is one row per
    surviving user, never the raw event stream.
    """
    ev = load_table(spark, sf_dir, "events")
    # localCheckpoint: each stage frame feeds BOTH the next stage's join and
    # the final count — un-checkpointed, the p-count replays the v and c
    # chains from the events scan (6 scans in a plan audit for 3 stages).
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
        .transform(materialize)
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
        .transform(materialize)
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    return (
        v.agg(F.count("*").alias("n_viewed"))
        .crossJoin(c.agg(F.count("*").alias("n_clicked_after_view")))
        .crossJoin(p.agg(F.count("*").alias("n_purchased_after_click")))
    )


# ---------------------------------------------------------------------------
# Salted join: the manual skew-mitigation pattern, registered so the salted
# plan is hash-checked equal to the plain join it replaces. AQE's skew-join
# only splits SORT-MERGE partitions after a shuffle materializes the skew;
# pre-salting applies when the hot keys are KNOWN (boilerplate part, null
# surrogate key, celebrity user) and avoids the stragglers entirely.
# ---------------------------------------------------------------------------
SALT_BUCKETS = 8


@register(
    "q_salted_brand_revenue",
    oracle=f"""
    SELECT p.p_brand AS brand,
           CAST(ROUND(SUM({DEC_PRICE} * {DISC_FACTOR}), 2) AS DOUBLE) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY p.p_brand
    """,
)
def q_salted_brand_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brand revenue via an explicitly SALTED fact⋈dim join: the fact side
    tags each row with ``l_orderkey % {SALT_BUCKETS}``, the dim side
    replicates each part row to all {SALT_BUCKETS} salts, and the join key
    becomes (p_partkey, salt) — any single hot part key spreads over
    {SALT_BUCKETS} reducers instead of one straggler. The oracle is the
    PLAIN join: salting is a physical rewrite and must be result-invariant
    (that is precisely what the hash check pins).

    At 100 TB: replication multiplies only the DIM side (bounded ×salt);
    the fact side — the 100 TB — is mapped once, never replicated. Partial
    aggregation on (brand) after the join keeps the final shuffle tiny.
    """
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    fact = li.select(
        "l_partkey",
        F.expr(REVENUE).alias("rev"),
        (F.col("l_orderkey") % SALT_BUCKETS).cast("int").alias("salt"),
    )
    dim = part.select(
        "p_partkey",
        "p_brand",
        F.explode(F.expr(f"sequence(0, {SALT_BUCKETS - 1})")).alias("salt_d"),
    )
    return (
        fact.join(
            dim,
            (fact.l_partkey == dim.p_partkey) & (fact.salt == dim.salt_d),
        )
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.expr("CAST(ROUND(SUM(rev), 2) AS DOUBLE)").alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )
