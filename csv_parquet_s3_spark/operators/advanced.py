"""Operators Spark lacks natively, built as compositions of built-ins:
as-of join, range join (bucketized), exact quantiles, approximate sketches.

As-of join strategy (the distributed classic): union-tag both sides, one
window pass per key ordered by time carrying the last left-side value
forward (``last(..., ignorenulls=True)``), then keep right-side rows. One
shuffle on the join key, no per-group pandas, no driver materialization —
this is the shape that survives 100 TB (vs ``merge_asof`` per group, which
needs whole groups in memory).

Range join strategy: align the range dimension to a bucket width, turn the
band lookup into a computed-key equi-join against a broadcast dimension —
O(n) instead of the O(n·bands) nested-loop a naive theta join produces.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from csv_parquet_s3_spark.operators.registry import register
from csv_parquet_s3_spark.sources.tables import load_table
from csv_parquet_s3_spark.plans.materialize import materialize

BAND_WIDTH = 250


# ---------------------------------------------------------------------------
# As-of join: each error event ↔ the user's most recent purchase at-or-before.
# ---------------------------------------------------------------------------
@register(
    "q_asof_error_to_purchase",
    oracle="""
    WITH errors AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'error'),
    purchases AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase')
    SELECT e.event_id, e.user_id, e.ts,
           p.ts AS last_purchase_ts,
           epoch_us(e.ts) - epoch_us(p.ts) AS gap_us
    FROM errors e ASOF LEFT JOIN purchases p
      ON e.user_id = p.user_id AND e.ts >= p.ts
    """,
)
def q_asof_error_to_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join via union-tag + forward-fill window (DuckDB oracle: ASOF JOIN)."""
    ev = load_table(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts", F.lit(1).alias("is_right")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.lit(None).cast("long").alias("event_id"),
        "user_id",
        "ts",
        F.lit(0).alias("is_right"),
    )
    # purchases sort before errors at equal ts → "at-or-before" includes ties
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "is_right")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    tagged = purchases.unionByName(errors).withColumn(
        "last_purchase_ts",
        F.last(F.when(F.col("is_right") == 0, F.col("ts")), ignorenulls=True).over(w),
    )
    return (
        tagged.filter(F.col("is_right") == 1)
        .select(
            "event_id",
            "user_id",
            "ts",
            "last_purchase_ts",
            (F.unix_micros("ts") - F.unix_micros("last_purchase_ts")).alias("gap_us"),
        )
    )


# ---------------------------------------------------------------------------
# Range join: parts ↔ price bands, bucketized to a computed-key equi-join.
# ---------------------------------------------------------------------------
@register(
    "q_range_join_price_bands",
    oracle=f"""
    WITH bands AS (
        SELECT CAST(i AS INT) AS band_id,
               i * {BAND_WIDTH} AS lo, (i + 1) * {BAND_WIDTH} AS hi,
               'band_' || CAST(CAST(i AS INT) AS VARCHAR) AS band_label
        FROM range(0, 40) t(i)
    )
    SELECT p_partkey, p_retailprice, band_label, COUNT(*) OVER (PARTITION BY band_label) AS n_in_band
    FROM part JOIN bands ON p_retailprice >= lo AND p_retailprice < hi
    """,
)
def q_range_join_price_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join executed as a bucketized equi-join on the computed band key.

    The oracle states the semantics as a theta join; the Spark plan computes
    ``floor(price / width)`` and equi-joins the broadcast band dimension —
    same result, linear cost.
    """
    part = load_table(spark, sf_dir, "part")
    bands = spark.range(0, 40).select(
        F.col("id").cast("int").alias("band_id"),
        (F.col("id") * BAND_WIDTH).alias("lo"),
        ((F.col("id") + 1) * BAND_WIDTH).alias("hi"),
        F.concat(F.lit("band_"), F.col("id").cast("int").cast("string")).alias("band_label"),
    )
    keyed = part.withColumn(
        "band_id", F.floor(F.col("p_retailprice") / BAND_WIDTH).cast("int")
    )
    joined = keyed.join(F.broadcast(bands), "band_id").filter(
        (F.col("p_retailprice") >= F.col("lo")) & (F.col("p_retailprice") < F.col("hi"))
    )
    return joined.select(
        "p_partkey",
        "p_retailprice",
        "band_label",
        F.count("*").over(W.partitionBy("band_label")).alias("n_in_band"),
    )


# ---------------------------------------------------------------------------
# Exact quantiles (interpolated), per group.
# ---------------------------------------------------------------------------
@register(
    "q_order_value_quantiles",
    oracle="""
    SELECT o_orderstatus,
           CAST(ROUND(quantile_cont(o_totalprice, 0.5), 6) AS DOUBLE) AS median_value,
           CAST(ROUND(quantile_cont(o_totalprice, 0.9), 6) AS DOUBLE) AS p90_value,
           CAST(MIN(o_totalprice) AS DOUBLE) AS min_value,
           CAST(MAX(o_totalprice) AS DOUBLE) AS max_value
    FROM orders GROUP BY o_orderstatus
    """,
)
def q_order_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderstatus").agg(
        F.round(F.expr("percentile(o_totalprice, 0.5)"), 6).cast("double").alias("median_value"),
        F.round(F.expr("percentile(o_totalprice, 0.9)"), 6).cast("double").alias("p90_value"),
        F.min("o_totalprice").cast("double").alias("min_value"),
        F.max("o_totalprice").cast("double").alias("max_value"),
    )


# ---------------------------------------------------------------------------
# Approximate sketches, ε-bound-checked. The raw HLL++/quantile-sketch
# ESTIMATES are engine-specific (DuckDB's HLL ≠ Spark's), so a value-hash on
# them can never match an oracle — but their ERROR BOUNDS are portable
# facts: HLL++ at rsd=0.02 is within a few σ of exact, and percentile_approx
# at accuracy=10000 has rank error ≤ n/10000. Emitting the EXACT quantities
# plus booleans asserting the estimates sit inside those bounds turns the
# registry's last rows-only entry into a hash-checked one:
# the oracle recomputes the exact quantities and pins every flag TRUE.
# ---------------------------------------------------------------------------
# |estimate/exact − 1| bound for HLL++ at rsd=0.02: 4σ = 8% (observed ≤2.5%
# across sf0.001/0.01/0.1; a deterministic sketch over fixed data either
# passes forever or fails loudly at registration time, never flakes).
HLL_RSD = 0.02
HLL_REL_BOUND = 4 * HLL_RSD
# percentile_approx rank error is n/accuracy = 0.01% of the group — the
# exact 47th..53rd percentile window is ~500× wider than the guarantee.
PCT_ACCURACY = 10_000
PCT_WINDOW = (0.47, 0.53)


@register(
    "q_approx_sketches",
    oracle="""
    SELECT l_returnflag,
           COUNT(DISTINCT l_orderkey) AS exact_orders,
           COUNT(DISTINCT l_partkey) AS exact_parts,
           COUNT(*) AS n_rows,
           TRUE AS hll_orders_in_bound,
           TRUE AS hll_parts_in_bound,
           TRUE AS approx_median_in_bound
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_approx_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HLL++) and percentile_approx at scale-friendly
    constant memory — the 100 TB substitutes for exact distinct/quantiles —
    with their errors pinned against exact ground truth computed in the
    same pass (the sketch_countmin_user_counts discipline: the exact side
    exists only to pin the estimator; a 100 TB deployment runs the sketch
    alone)."""
    li = load_table(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_orderkey").alias("exact_orders"),
        F.countDistinct("l_partkey").alias("exact_parts"),
        F.count("*").alias("n_rows"),
        F.approx_count_distinct("l_orderkey", rsd=HLL_RSD).alias("_hll_o"),
        F.approx_count_distinct("l_partkey", rsd=HLL_RSD).alias("_hll_p"),
        F.percentile_approx(
            "l_extendedprice", 0.5, PCT_ACCURACY
        ).alias("_amed"),
        F.expr(
            f"percentile(CAST(l_extendedprice AS DOUBLE), {PCT_WINDOW[0]})"
        ).alias("_p_lo"),
        F.expr(
            f"percentile(CAST(l_extendedprice AS DOUBLE), {PCT_WINDOW[1]})"
        ).alias("_p_hi"),
    )

    def in_bound(est: str, exact: str) -> F.Column:
        return (
            F.abs(F.col(est).cast("double") / F.col(exact) - 1.0)
            <= HLL_REL_BOUND
        )

    return agg.select(
        "l_returnflag",
        "exact_orders",
        "exact_parts",
        "n_rows",
        in_bound("_hll_o", "exact_orders").alias("hll_orders_in_bound"),
        in_bound("_hll_p", "exact_parts").alias("hll_parts_in_bound"),
        (
            (F.col("_amed").cast("double") >= F.col("_p_lo"))
            & (F.col("_amed").cast("double") <= F.col("_p_hi"))
        ).alias("approx_median_in_bound"),
    )


@register(
    "q_grouping_sets_revenue",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS gross,
           COUNT(*) AS n_rows
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), (l_returnflag, l_linestatus))
    """,
)
def q_grouping_sets_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS, two-phase: the fact aggregates to its base
    grain first (map-side combine), then the Expand for the grouping sets
    runs over the |groups|-row pre-aggregate instead of the whole fact
    (lossless because SUM/COUNT re-aggregate; keys non-null here)."""
    li = load_table(spark, sf_dir, "lineitem")
    li.groupBy("l_returnflag", "l_linestatus").agg(
        F.expr("SUM(CAST(l_extendedprice AS DECIMAL(12,2)))").alias("_gross"),
        F.count("*").alias("_n"),
    ).createOrReplaceTempView("lineitem_gs_base")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               CAST(ROUND(SUM(_gross), 2) AS DOUBLE) AS gross,
               SUM(_n) AS n_rows
        FROM lineitem_gs_base
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), (l_returnflag, l_linestatus))
        """
    )


# ---------------------------------------------------------------------------
# KMV distinct-count sketch: a portable, EXACTLY-reproducible sketch.
# ---------------------------------------------------------------------------
# k=256 keeps the sketch trivially small but halves the ~1/sqrt(k) estimator
# error vs the original k=64 (±20-30% observed at sf0.1 → ~±10%).
KMV_K = 256

# First 8 hex chars of md5 as an integer in [0, 16^8), same arithmetic text
# in Spark SQL and DuckDB (neither needs a hex→int cast).
_KMV_HEX_INT = "(" + " + ".join(
    f"CAST(instr('0123456789abcdef', substr({{h}}, {i + 1}, 1)) - 1 AS BIGINT)"
    f" * {16 ** (7 - i)}"
    for i in range(8)
) + ")"


@register(
    "q_kmv_distinct_users",
    oracle=f"""
    WITH hashes AS (
        SELECT DISTINCT
               {_KMV_HEX_INT.format(h="md5(CAST(user_id AS VARCHAR))")} AS iv
        FROM events
    ),
    kmin AS (
        SELECT iv FROM hashes ORDER BY iv LIMIT {KMV_K}
    ),
    sk AS (
        SELECT COUNT(*) AS k_actual, MAX(iv) AS kth_hash FROM kmin
    ),
    ex AS (SELECT COUNT(DISTINCT user_id) AS exact_distinct FROM events)
    SELECT sk.k_actual, sk.kth_hash,
           CASE WHEN sk.k_actual < {KMV_K} THEN CAST(sk.k_actual AS DOUBLE)
                ELSE CAST(({KMV_K} - 1) AS DOUBLE) * {16 ** 8} / sk.kth_hash
           END AS est_distinct,
           ex.exact_distinct
    FROM sk, ex
    """,
)
def q_kmv_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-minimum-values distinct-count sketch — the portable sibling of
    ``approx_count_distinct``: est = (k-1)·H / h_(k) over the k smallest
    value hashes (Bar-Yossef et al., RANDOM'02). Unlike HLL++, every step
    is deterministic integer arithmetic on md5, so the oracle reproduces
    the estimate EXACTLY — a sketch whose correctness is hash-checkable.

    Scale shape: hash + distinct (narrow int shuffle) + global k-smallest
    (TakeOrderedAndProject) — constant-size sketch state regardless of
    corpus; sketches from shards union by keeping the k smallest of the
    merged sets (associative, like any KMV).
    """
    ev = load_table(spark, sf_dir, "events")
    iv = F.expr(
        _KMV_HEX_INT.format(h="md5(cast(cast(user_id as string) as binary))")
    ).alias("iv")
    kmin = ev.select(iv).distinct().orderBy("iv").limit(KMV_K)
    sk = kmin.agg(
        F.count("*").alias("k_actual"), F.max("iv").alias("kth_hash")
    )
    ex = ev.agg(F.countDistinct("user_id").alias("exact_distinct"))
    est = F.when(
        F.col("k_actual") < KMV_K, F.col("k_actual").cast("double")
    ).otherwise(F.lit(float(KMV_K - 1)) * (16 ** 8) / F.col("kth_hash"))
    return (
        sk.crossJoin(F.broadcast(ex))
        .select("k_actual", "kth_hash", est.alias("est_distinct"), "exact_distinct")
    )


# ---------------------------------------------------------------------------
# KMV sketch algebra: cohort-overlap estimation from mergeable sketches.
# ---------------------------------------------------------------------------
COHORT_CENTS = 50_000  # per-user lifetime value threshold (exact cents)

# Exact integer cents of the event value (scale-2 doubles) — cohort
# membership must not ride a shuffle-order double sum across engines.
_EV_CENTS = "CAST(CAST(value AS DECIMAL(12,2)) * CAST(100 AS DECIMAL(3,0)) AS BIGINT)"


@register(
    "q_kmv_cohort_overlap",
    oracle=f"""
    WITH a AS (
        SELECT user_id FROM events WHERE event_type = 'error'
        GROUP BY user_id HAVING SUM({_EV_CENTS}) > {COHORT_CENTS}
    ),
    b AS (
        SELECT user_id FROM events WHERE event_type = 'purchase'
        GROUP BY user_id HAVING SUM({_EV_CENTS}) > {COHORT_CENTS}
    ),
    u AS (
        SELECT COALESCE(a.user_id, b.user_id) AS user_id,
               a.user_id IS NOT NULL AS in_a,
               b.user_id IS NOT NULL AS in_b
        FROM a FULL OUTER JOIN b ON a.user_id = b.user_id
    ),
    hashed AS (
        SELECT {_KMV_HEX_INT.format(h="md5(CAST(user_id AS VARCHAR))")} AS iv,
               in_a, in_b
        FROM u
    ),
    kmin AS (SELECT * FROM hashed ORDER BY iv LIMIT {KMV_K}),
    sk AS (
        SELECT COUNT(*) AS k_actual, MAX(iv) AS kth_hash,
               CAST(SUM(CASE WHEN in_a AND in_b THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_both
        FROM kmin
    ),
    ex AS (
        SELECT COUNT(*) AS exact_intersection
        FROM a JOIN b ON a.user_id = b.user_id
    )
    SELECT sk.k_actual, sk.n_both,
           CASE WHEN sk.k_actual < {KMV_K} THEN CAST(sk.k_actual AS DOUBLE)
                ELSE CAST(({KMV_K} - 1) AS DOUBLE) * {16 ** 8} / sk.kth_hash
           END AS est_union,
           CASE WHEN sk.k_actual = 0 THEN 0.0
                ELSE CAST(sk.n_both AS DOUBLE)
                     * (CASE WHEN sk.k_actual < {KMV_K}
                             THEN CAST(sk.k_actual AS DOUBLE)
                             ELSE CAST(({KMV_K} - 1) AS DOUBLE) * {16 ** 8} / sk.kth_hash
                        END)
                     / sk.k_actual
           END AS est_intersection,
           ex.exact_intersection
    FROM sk, ex
    """,
)
def q_kmv_cohort_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-operation estimates from KMV sketch algebra: |A∪B| from the k
    smallest hashes of the merged cohort sketches, |A∩B| ≈ (n_both/k)·|A∪B|
    (Beyer et al., SIGMOD'07). Cohorts are per-user lifetime-value segments
    with EXACT integer-cents membership, so the whole pipeline — cohorts,
    hashes, estimates — is reproducible to the bit and hash-checked.

    Scale shape: each cohort is one keyed aggregation; sketches are k-row
    objects that merge by keeping the k smallest of a union — at 100 TB the
    overlap of two billion-user segments costs two aggregations plus a
    k-row sort, never a join of the cohorts... (the exact_intersection
    column here is the test-scale accuracy reference, not the scale path).
    """
    ev = load_table(spark, sf_dir, "events")
    cents = F.expr(_EV_CENTS)

    def cohort(event_type: str) -> DataFrame:
        return (
            ev.filter(F.col("event_type") == event_type)
            .groupBy("user_id")
            .agg(F.sum(cents).alias("cents"))
            .filter(F.col("cents") > COHORT_CENTS)
            .select("user_id")
        )

    # localCheckpoint: each cohort feeds both the KMV union frame and the
    # exact-intersection accuracy reference — un-checkpointed, each
    # reference replays the events scan + cohort aggregation (a plan audit
    # measured 4 scans for 2 cohort builds).
    a = cohort("error").withColumn("in_a", F.lit(True)).transform(materialize)
    b = cohort("purchase").withColumn("in_b", F.lit(True)).transform(materialize)
    u = (
        a.join(b, "user_id", "full_outer")
        .select(
            "user_id",
            F.coalesce("in_a", F.lit(False)).alias("in_a"),
            F.coalesce("in_b", F.lit(False)).alias("in_b"),
        )
    )
    iv = F.expr(
        _KMV_HEX_INT.format(h="md5(cast(cast(user_id as string) as binary))")
    ).alias("iv")
    kmin = u.select(iv, "in_a", "in_b").orderBy("iv").limit(KMV_K)
    sk = kmin.agg(
        F.count("*").alias("k_actual"),
        F.max("iv").alias("kth_hash"),
        F.sum(F.when(F.col("in_a") & F.col("in_b"), 1).otherwise(0)).alias("n_both"),
    )
    ex = a.join(b, "user_id").agg(F.count("*").alias("exact_intersection"))
    est_union = F.when(
        F.col("k_actual") < KMV_K, F.col("k_actual").cast("double")
    ).otherwise(F.lit(float(KMV_K - 1)) * (16 ** 8) / F.col("kth_hash"))
    est_inter = F.when(F.col("k_actual") == 0, F.lit(0.0)).otherwise(
        F.col("n_both").cast("double") * est_union / F.col("k_actual")
    )
    return sk.crossJoin(F.broadcast(ex)).select(
        "k_actual",
        "n_both",
        est_union.alias("est_union"),
        est_inter.alias("est_intersection"),
        "exact_intersection",
    )


# ---------------------------------------------------------------------------
# Count-Min sketch (Cormode & Muthukrishnan 2005) with deterministic md5 row
# hashes — the sketch itself is engine-replayable, so unlike the built-in
# HLL/quantile sketches (q_approx_sketches, rows-only) the driver hash-checks
# the ESTIMATES, overestimation error included.
# ---------------------------------------------------------------------------
CM_DEPTH = 4     # hash rows
CM_WIDTH = 256   # buckets per row


def _cm_bucket(row: int, key_expr: str, engine: str) -> str:
    """Bucket of ``key_expr`` in CM row ``row`` (portable md5 arithmetic)."""
    if engine == "spark":
        h = f"md5(cast(concat('cm{row}:', cast({key_expr} as string)) as binary))"
    else:
        h = f"md5('cm{row}:' || CAST({key_expr} AS VARCHAR))"
    return f"({_KMV_HEX_INT.format(h=h)} % {CM_WIDTH})"


@register(
    "sketch_countmin_user_counts",
    oracle=f"""
    WITH keyc AS (
        SELECT user_id, COUNT(*) AS n FROM events GROUP BY user_id
    ),
    cells AS (
        SELECT j.j AS row_id,
               CASE j.j {" ".join(f"WHEN {r} THEN {_cm_bucket(r, 'user_id', 'duck')}" for r in range(CM_DEPTH))} END AS bucket,
               CAST(SUM(n) AS BIGINT) AS cell
        FROM keyc, (SELECT unnest(range(0, {CM_DEPTH})) AS j) j
        GROUP BY 1, 2
    ),
    top AS (
        SELECT user_id, n,
               ROW_NUMBER() OVER (ORDER BY n DESC, user_id) AS rk
        FROM keyc
    )
    SELECT t.rk AS rank, t.user_id, t.n AS exact_n,
           MIN(c.cell) AS cm_estimate
    FROM top t
    JOIN cells c
      ON c.bucket = CASE c.row_id {" ".join(f"WHEN {r} THEN {_cm_bucket(r, 't.user_id', 'duck')}" for r in range(CM_DEPTH))} END
    WHERE t.rk <= 10
    GROUP BY t.rk, t.user_id, t.n
    """,
)
def sketch_countmin_user_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch over event counts per user ({CM_DEPTH}×{CM_WIDTH}
    cells): for the top-10 exact heavy hitters, the exact count beside the
    CM estimate (min over the {CM_DEPTH} hashed cells — always ≥ exact,
    over by at most ~2n/width with high probability).

    Scale shape: the sketch is {CM_DEPTH}·{CM_WIDTH} cells regardless of
    key cardinality — cells build with one partial-aggregating shuffle on
    (row, bucket) and the whole sketch broadcasts for point queries; this
    is the frequency structure to reach for when per-key counts no longer
    fit (the exact keyc frame here exists only to pin the error against
    ground truth).
    """
    events = load_table(spark, sf_dir, "events")
    keyc = events.groupBy("user_id").agg(F.count("*").alias("n"))
    rows = F.array(*[
        F.struct(
            F.lit(r).alias("row_id"),
            F.expr(_cm_bucket(r, "user_id", "spark")).alias("bucket"),
        )
        for r in range(CM_DEPTH)
    ])
    cells = (
        keyc.select("n", F.explode(rows).alias("rb"))
        .groupBy(F.col("rb.row_id").alias("row_id"), F.col("rb.bucket").alias("bucket"))
        .agg(F.sum("n").cast("bigint").alias("cell"))
    )
    # Distributed top-k (TakeOrderedAndProject) + rank over the 10
    # survivors — not a global rank window over the |users|-sized frame.
    wk = W.orderBy(F.desc("n"), F.asc("user_id"))
    top = (
        keyc.orderBy(F.desc("n"), F.asc("user_id"))
        .limit(10)
        .select("user_id", "n", F.row_number().over(wk).alias("rk"))
    )
    probe = top.select(
        "rk", "user_id", "n", F.explode(rows).alias("rb")
    ).select("rk", "user_id", "n", F.col("rb.row_id").alias("p_row"), F.col("rb.bucket").alias("p_bucket"))
    return (
        probe.join(
            F.broadcast(cells),
            (F.col("p_row") == F.col("row_id")) & (F.col("p_bucket") == F.col("bucket")),
        )
        .groupBy("rk", "user_id", "n")
        .agg(F.min("cell").alias("cm_estimate"))
        .select(
            F.col("rk").alias("rank"),
            "user_id",
            F.col("n").alias("exact_n"),
            "cm_estimate",
        )
    )


# ---------------------------------------------------------------------------
# Interval overlap counting (sweep line): "how many orders were open on each
# day". The naive formulation — explode every interval into its covered days,
# or join days × intervals on BETWEEN — is O(rows · interval_length) or a
# range theta-join; the sweep line is O(rows) map-side: +1 at each open, −1
# after each close, aggregate deltas by day, prefix-sum the daily nets.
# ---------------------------------------------------------------------------
@register(
    "q_open_orders_daily",
    oracle="""
    WITH bounds AS (
        SELECT o.o_orderkey, o.o_orderdate, MAX(l.l_shipdate) AS closed
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        GROUP BY o.o_orderkey, o.o_orderdate
    ),
    deltas AS (
        SELECT o_orderdate AS day, 1 AS opened, 0 AS closed FROM bounds
        UNION ALL
        SELECT closed AS day, 0, 1 FROM bounds
    ),
    daily AS (
        SELECT day, CAST(SUM(opened) AS BIGINT) AS n_opened,
               CAST(SUM(closed) AS BIGINT) AS n_closed
        FROM deltas GROUP BY day
    )
    SELECT day, n_opened, n_closed,
           CAST(SUM(n_opened - n_closed)
                OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS open_orders
    FROM daily
    """,
)
def q_open_orders_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concurrently-open orders per day, sweep-line style: an order is open
    from o_orderdate until its LAST line ships. Each interval contributes
    exactly two delta rows (+1 open, −1 close) regardless of its length —
    the aggregation shuffles 2·|orders| rows keyed by day, never
    days×orders. The final prefix sum runs over the DAILY frame, whose
    cardinality is the calendar (thousands of rows at any corpus scale), so
    the global-ordered window is bounded by construction; for prefix sums
    over unbounded key spaces, the two-phase pattern (per-partition sums +
    broadcast offsets) replaces it."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    bounds = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey", "o_orderdate")
        .agg(F.max("l_shipdate").alias("closed"))
    )
    # Both delta rows emit from ONE pass over bounds (map-side explode) —
    # a two-leg union would reference bounds twice and replay the
    # orders⋈lineitem join per leg (4 scans in a plan audit).
    deltas = bounds.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("o_orderdate").alias("day"),
                    F.lit(1).alias("opened"),
                    F.lit(0).alias("closed_d"),
                ),
                F.struct(
                    F.col("closed").alias("day"),
                    F.lit(0).alias("opened"),
                    F.lit(1).alias("closed_d"),
                ),
            )
        ).alias("d")
    ).select("d.day", "d.opened", "d.closed_d")
    daily = deltas.groupBy("day").agg(
        F.sum("opened").cast("bigint").alias("n_opened"),
        F.sum("closed_d").cast("bigint").alias("n_closed"),
    )
    w = W.orderBy("day").rowsBetween(W.unboundedPreceding, W.currentRow)
    return daily.select(
        "day",
        "n_opened",
        "n_closed",
        F.sum(F.col("n_opened") - F.col("n_closed")).over(w).cast("bigint").alias("open_orders"),
    )


# ---------------------------------------------------------------------------
# Order-insensitive table content digest: the integrity primitive a 100 TB
# pipeline runs after every copy/migrate/backfill ("is the data the same?").
# Row hash = md5 over a '|'-joined canonical projection (exact-typed columns
# only: keys, flags, dates, DECIMAL-cast money — float columns are excluded
# because their string forms are not engine-portable); table digest = SUM of
# per-row 32-bit hash values + row count. Commutative/associative, so the
# digest is independent of partitioning, ordering, and engine — two datasets
# match iff (count, digest) match (up to the 2^-32-per-row collision rate).
# ---------------------------------------------------------------------------
_DIGEST_COLS_SPARK = (
    "cast(l_orderkey as string), cast(l_partkey as string),"
    " cast(l_suppkey as string), cast(l_linenumber as string),"
    " l_returnflag, l_linestatus, cast(l_shipdate as string),"
    " cast(cast(l_extendedprice as decimal(12,2)) as string)"
)
_DIGEST_COLS_DUCK = (
    "CAST(l_orderkey AS VARCHAR), CAST(l_partkey AS VARCHAR),"
    " CAST(l_suppkey AS VARCHAR), CAST(l_linenumber AS VARCHAR),"
    " l_returnflag, l_linestatus, CAST(l_shipdate AS VARCHAR),"
    " CAST(CAST(l_extendedprice AS DECIMAL(12,2)) AS VARCHAR)"
)


@register(
    "q_table_content_digest",
    oracle=f"""
    SELECT COUNT(*) AS n_rows,
           CAST(SUM({_KMV_HEX_INT.format(
               h=f"md5(concat_ws('|', {_DIGEST_COLS_DUCK}))")}) AS BIGINT)
               AS digest
    FROM lineitem
    """,
)
def q_table_content_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-order-independent content fingerprint of lineitem:
    (row count, Σ per-row hash). Map-side only — one scan, one 2-column
    partial aggregate; comparing two 100 TB copies costs two scans and an
    8-byte comparison. The canonical projection pins column order and
    DECIMAL money rendering so any engine computes the identical digest
    (the md5→int arithmetic is the same portable trick as the KMV/CM
    sketches)."""
    li = load_table(spark, sf_dir, "lineitem")
    row_hash = _KMV_HEX_INT.format(
        h=f"md5(cast(concat_ws('|', {_DIGEST_COLS_SPARK}) as binary))"
    )
    return li.agg(
        F.count("*").alias("n_rows"),
        F.sum(F.expr(row_hash)).cast("bigint").alias("digest"),
    )


# ---------------------------------------------------------------------------
# Referential-integrity audit: orphan counts along every FK edge of the star
# schema. Spark enforces no constraints (reference parity: AutoPurge's FK
# disable/enable is a documented N/A), so integrity is a QUERY, not a DDL
# property — this is that query, runnable after every load/purge/backfill.
# ---------------------------------------------------------------------------
_FK_EDGES = [
    ("lineitem.l_orderkey -> orders.o_orderkey", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("orders.o_custkey -> customer.c_custkey", "orders", "o_custkey", "customer", "c_custkey"),
    ("customer.c_nationkey -> nation.n_nationkey", "customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier.s_nationkey -> nation.n_nationkey", "supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation.n_regionkey -> region.r_regionkey", "nation", "n_regionkey", "region", "r_regionkey"),
]


@register(
    "q_fk_orphan_audit",
    oracle="\n    UNION ALL\n".join(
        f"""    SELECT '{label}' AS edge,
           (SELECT COUNT(*) FROM {child}) AS n_child_rows,
           (SELECT COUNT(*) FROM {child} c
            WHERE NOT EXISTS (SELECT 1 FROM {parent} p
                              WHERE p.{pkey} = c.{ckey})) AS n_orphans"""
        for label, child, ckey, parent, pkey in _FK_EDGES
    ),
)
def q_fk_orphan_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orphan audit over every FK edge: child row count + rows whose key
    has no parent (left-anti join — one broadcast or shuffled-hash probe
    per edge, each edge independent and parallel). All-zero orphans is the
    PASS state; a nonzero row names exactly which edge a bad backfill
    broke. NULL child keys follow SQL NOT EXISTS semantics (counted as
    orphans only if genuinely unmatched — an equality join never matches
    NULL).

    One pass per child: the row count and the orphan count fold into a
    SINGLE aggregation over a LEFT join against the DISTINCT parent keys
    (distinct-first preserves exact NOT EXISTS semantics if a parent key
    ever duplicates) — the earlier anti-join + separate count read each
    child twice (15 scans in a plan audit; the lineitem edge paid the
    biggest table's scan twice)."""
    out = None
    for label, child, ckey, parent, pkey in _FK_EDGES:
        row = fk_edge_audit(
            load_table(spark, sf_dir, child),
            ckey,
            load_table(spark, sf_dir, parent),
            pkey,
            label,
        )
        out = row if out is None else out.unionAll(row)
    return out


def fk_edge_audit(
    child: DataFrame, ckey: str, parent: DataFrame, pkey: str, label: str
) -> DataFrame:
    """One FK edge's (edge, n_child_rows, n_orphans) row — separated from
    :func:`q_fk_orphan_audit` so tests can plant orphans, NULL keys, and
    duplicate parent keys against the single-pass shape."""
    pk = parent.select(F.col(pkey).alias("__pk")).distinct()
    j = child.select(F.col(ckey).alias("__ck")).join(
        pk, F.col("__ck") == F.col("__pk"), "left"
    )
    return j.agg(
        F.count("*").alias("n_child_rows"),
        F.coalesce(
            F.sum(F.when(F.col("__pk").isNull(), 1).otherwise(0)),
            F.lit(0),
        )
        .cast("bigint")
        .alias("n_orphans"),
    ).select(F.lit(label).alias("edge"), "n_child_rows", "n_orphans")


# ---------------------------------------------------------------------------
# Bitmap distinct counting (the roaring-bitmap pattern in pure SQL): pack
# user ids into 64-bit words (word = id div 64, bit = id mod 64), OR the
# masks per (segment, word), popcount. EXACT distinct counts whose
# intermediate state is |id_space|/64 bits per segment instead of a hash set
# of ids — and the per-(segment, word) masks are themselves a mergeable,
# storable index: tomorrow's batch ORs into the same words, and segment
# intersections/unions become bitwise AND/OR on aligned words. The oracle
# computes the same numbers via plain COUNT(DISTINCT ...) — two structurally
# different algorithms, one answer.
# ---------------------------------------------------------------------------
@register(
    "q_segment_user_bitmap_distinct",
    oracle="""
    SELECT event_type,
           COUNT(DISTINCT user_id) AS n_distinct_users,
           COUNT(DISTINCT user_id // 64) AS n_words
    FROM events
    GROUP BY event_type
    """,
)
def q_segment_user_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-segment distinct users via bitmap aggregation: two keyed
    aggregations (partial-combinable `bit_or`, then `bit_count` sums) —
    no per-row dedup state, no `distinct` shuffle of raw ids. At 100 TB
    the word table is the materialization target: a standing bitmap index
    that answers every subsequent distinct/overlap query with bitwise ops
    on |ids|/64 words."""
    events = load_table(spark, sf_dir, "events")
    words = (
        events.select(
            "event_type",
            F.expr("user_id div 64").alias("w"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(user_id % 64 AS INT))").alias(
                "m"
            ),
        )
        .groupBy("event_type", "w")
        .agg(F.expr("bit_or(m)").alias("mask"))
    )
    return words.groupBy("event_type").agg(
        F.sum(F.expr("bit_count(mask)")).cast("bigint").alias("n_distinct_users"),
        F.count("*").alias("n_words"),
    )


@register(
    "q_segment_bitmap_overlap",
    oracle="""
    SELECT
        (SELECT COUNT(DISTINCT user_id) FROM events
         WHERE event_type = 'click') AS n_click,
        (SELECT COUNT(DISTINCT user_id) FROM events
         WHERE event_type = 'purchase') AS n_purchase,
        (SELECT COUNT(*) FROM (
            SELECT user_id FROM events WHERE event_type = 'click'
            INTERSECT
            SELECT user_id FROM events WHERE event_type = 'purchase'
        ) t) AS n_both
    """,
)
def q_segment_bitmap_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact segment overlap from the bitmap index: AND the two segments'
    word masks, popcount — the set-intersection cardinality without ever
    shuffling raw ids (the exact counterpart to the KMV overlap estimate in
    `q_kmv_cohort_overlap`). A full-outer word join keeps each segment's
    total derivable from the same pass; cost is |id_space|/64 words."""
    events = load_table(spark, sf_dir, "events")

    def seg(t: str, name: str) -> DataFrame:
        return (
            events.filter(F.col("event_type") == t)
            .select(
                F.expr("user_id div 64").alias("w"),
                F.expr(
                    "shiftleft(CAST(1 AS BIGINT), CAST(user_id % 64 AS INT))"
                ).alias("m"),
            )
            .groupBy("w")
            .agg(F.expr("bit_or(m)").alias(name))
        )

    joined = seg("click", "mask_a").join(seg("purchase", "mask_b"), "w", "full")
    return joined.agg(
        F.sum(F.expr("bit_count(coalesce(mask_a, CAST(0 AS BIGINT)))"))
        .cast("bigint")
        .alias("n_click"),
        F.sum(F.expr("bit_count(coalesce(mask_b, CAST(0 AS BIGINT)))"))
        .cast("bigint")
        .alias("n_purchase"),
        F.sum(
            F.expr(
                "bit_count(coalesce(mask_a, CAST(0 AS BIGINT))"
                " & coalesce(mask_b, CAST(0 AS BIGINT)))"
            )
        )
        .cast("bigint")
        .alias("n_both"),
    )


@register(
    "q_customer_gini_concentration",
    oracle="""
    WITH spend AS (
        SELECT o_custkey,
               SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT))
                   AS cents
        FROM orders GROUP BY o_custkey
    ),
    ranked AS (
        SELECT cents,
               ROW_NUMBER() OVER (ORDER BY cents, o_custkey) AS i
        FROM spend
    ),
    m AS (
        SELECT COUNT(*) AS n,
               CAST(SUM(CAST(cents AS DECIMAL(38,0))) AS DOUBLE) AS sx,
               CAST(SUM(CAST(i AS DECIMAL(38,0)) * cents) AS DOUBLE) AS six
        FROM ranked
    )
    SELECT CAST(n AS BIGINT) AS n_customers,
           CAST(ROUND(sx / 100, 2) AS DOUBLE) AS total_spend,
           CAST(ROUND((2 * six - (n + 1) * sx) / (n * sx), 6) AS DOUBLE)
               AS gini
    FROM m
    """,
)
def q_customer_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer spend — the one-number concentration
    audit (how much of the revenue the top customers carry; the same math
    flags domain concentration in a training corpus). Exact arithmetic:
    spend in integer cents, rank-weighted sums in DECIMAL(38,0) (Σ i·xᵢ
    overflows 64-bit at ~10⁹ customers — Spark would wrap silently where
    DuckDB widens), one double division at the end. The global rank runs
    over the per-customer aggregate, |customers| rows, not orders — and is
    TWO-PHASE (plans/ranking.py: distributed range sort +
    broadcast per-partition offsets), so no single-partition window remains
    even when |customers| outgrows one executor."""
    from csv_parquet_s3_spark.plans.ranking import with_global_row_number

    orders = load_table(spark, sf_dir, "orders")
    spend = orders.groupBy("o_custkey").agg(
        F.expr(
            "SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT))"
        ).alias("cents")
    )
    ranked = with_global_row_number(
        spend, [F.asc("cents"), F.asc("o_custkey")], "i"
    ).select("cents", "i")
    m = ranked.agg(
        F.count("*").alias("n"),
        F.expr("CAST(SUM(CAST(cents AS DECIMAL(38,0))) AS DOUBLE)").alias("sx"),
        F.expr("CAST(SUM(CAST(i AS DECIMAL(38,0)) * cents) AS DOUBLE)").alias("six"),
    )
    return m.select(
        F.col("n").cast("bigint").alias("n_customers"),
        F.expr("CAST(ROUND(sx / 100, 2) AS DOUBLE)").alias("total_spend"),
        F.expr("CAST(ROUND((2 * six - (n + 1) * sx) / (n * sx), 6) AS DOUBLE)").alias(
            "gini"
        ),
    )


# ---------------------------------------------------------------------------
# Bloom-filter semi-join pruning, evaluated: build a Bloom filter over the
# filtered orders keys, screen lineitem's join keys against it, and report
# the measured pass/true/false-positive numbers next to the exact semi-join
# ground truth. This is Spark's runtime row-group filtering
# (spark.sql.optimizer.runtime.bloomFilter) made explicit AND measured —
# the decision artifact for "will a runtime filter pay off on this join".
# ---------------------------------------------------------------------------
RF_M_BITS = 65536  # 2^16: positions are exactly the first 4 md5 hex digits
RF_K = 4
RF_PRED = "o_orderpriority = '1-URGENT'"


def _rf_pos(seed: int, key_expr: str, engine: str) -> str:
    from csv_parquet_s3_spark.operators.dedup import _BLOOM_HEX_INT

    if engine == "spark":
        h = f"md5(cast(concat('{seed}:', {key_expr}) as binary))"
    else:
        h = f"md5('{seed}:' || {key_expr})"
    return f"({_BLOOM_HEX_INT.format(h=h)} % {RF_M_BITS})"


def _rf_oracle() -> str:
    build_pos = ", ".join(
        f"{_rf_pos(i, 'CAST(o_orderkey AS VARCHAR)', 'duck')} AS p{i}"
        for i in range(RF_K)
    )
    probe_pos = ", ".join(
        f"{_rf_pos(i, 'CAST(k AS VARCHAR)', 'duck')} AS p{i}" for i in range(RF_K)
    )
    plist = ", ".join(f"p{i}" for i in range(RF_K))
    return f"""
    WITH keys AS (
        SELECT o_orderkey FROM orders WHERE {RF_PRED}
    ),
    bpos AS (SELECT {build_pos} FROM keys),
    bits AS (
        SELECT p // 32 AS w, bit_or(CAST(1 AS BIGINT) << (p % 32)) AS mask
        FROM (SELECT unnest([{plist}]) AS p FROM bpos)
        GROUP BY w
    ),
    probe AS (SELECT DISTINCT l_orderkey AS k FROM lineitem),
    ppos AS (SELECT k, {probe_pos} FROM probe),
    hits AS (
        SELECT t.k,
               COUNT(*) FILTER (COALESCE(b.mask, 0)
                   & (CAST(1 AS BIGINT) << (u.p % 32)) <> 0) AS hits
        FROM ppos t, LATERAL (SELECT unnest([{plist}]) AS p) u
        LEFT JOIN bits b ON b.w = u.p // 32
        GROUP BY t.k
    ),
    agg AS (
        SELECT COUNT(*) AS n_probe,
               COUNT(*) FILTER (hits = {RF_K}) AS n_pass
        FROM hits
    ),
    truth AS (
        SELECT COUNT(*) AS n_true
        FROM probe WHERE k IN (SELECT o_orderkey FROM keys)
    ),
    nk AS (SELECT COUNT(*) AS n_keys FROM keys)
    SELECT CAST(nk.n_keys AS BIGINT) AS n_keys,
           CAST(agg.n_probe AS BIGINT) AS n_probe,
           CAST(agg.n_pass AS BIGINT) AS n_pass,
           CAST(truth.n_true AS BIGINT) AS n_true,
           CAST(ROUND(CAST(agg.n_pass - truth.n_true AS DOUBLE)
                / (agg.n_probe - truth.n_true), 6) AS DOUBLE)
               AS false_positive_rate
    FROM agg, truth, nk
    """


@register("q_bloom_semijoin_pruning", oracle=_rf_oracle())
def q_bloom_semijoin_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime-filter evaluation: a {RF_M_BITS}-bit / {RF_K}-hash Bloom
    filter built from the urgent-orders keys screens lineitem's distinct
    join keys; output is one row of (keys, probed, Bloom-passed, true
    matches, measured false-positive rate). n_pass ≥ n_true always (no
    false negatives — property-tested for the sibling blocklist filter);
    the FP rate tells the planner whether pre-filtering the fact scan pays
    before the exact join.

    Scale shape: the build side collapses to a ≤{RF_M_BITS // 32}-row word
    table via bit_or partial aggregation and BROADCASTS; probing is
    map-side ({RF_K} codegen'd md5s per key) + one broadcast join — the
    fact table is never shuffled to be screened, which is the entire point
    of a runtime filter at 100 TB. Deterministic md5 positions mean the
    oracle reproduces the exact same false positives."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    # localCheckpoint the two shared frames: keys feeds the Bloom build, the
    # exact semi-join truth arm, and the key count; probe feeds both the
    # Bloom probe and the truth arm — un-checkpointed, each reference
    # replays the orders filter / lineitem distinct (5 scans in a plan
    # audit). Consistency also matters here: both measurement arms must see
    # the SAME materialized probe set.
    keys = orders.filter(F.expr(RF_PRED)).select("o_orderkey").transform(materialize)
    build_pos = [
        F.expr(_rf_pos(i, "CAST(o_orderkey AS STRING)", "spark")).alias(f"p{i}")
        for i in range(RF_K)
    ]
    parr = F.array(*[F.col(f"p{i}") for i in range(RF_K)])
    bits = (
        keys.select(*build_pos)
        .select(F.explode(parr).alias("p"))
        .groupBy(F.expr("p div 32").alias("w"))
        .agg(
            F.bit_or(
                F.expr("shiftleft(cast(1 as bigint), cast(p % 32 as int))")
            ).alias("mask")
        )
    )
    probe = li.select(F.col("l_orderkey").alias("k")).distinct().transform(materialize)
    probe_pos = [
        F.expr(_rf_pos(i, "CAST(k AS STRING)", "spark")).alias(f"p{i}")
        for i in range(RF_K)
    ]
    hits = (
        probe.select("k", *probe_pos)
        .select("k", F.explode(parr).alias("p"))
        .join(F.broadcast(bits), F.expr("p div 32") == F.col("w"), "left")
        .groupBy("k")
        .agg(
            F.sum(
                F.when(
                    F.expr(
                        "coalesce(mask, cast(0 as bigint))"
                        " & shiftleft(cast(1 as bigint), cast(p % 32 as int))"
                    )
                    != 0,
                    1,
                ).otherwise(0)
            ).alias("hits")
        )
    )
    agg = hits.agg(
        F.count("*").alias("n_probe"),
        F.sum(F.when(F.col("hits") == RF_K, 1).otherwise(0)).alias("n_pass"),
    )
    truth = probe.join(keys, probe.k == keys.o_orderkey, "left_semi").agg(
        F.count("*").alias("n_true")
    )
    nk = keys.agg(F.count("*").alias("n_keys"))
    return (
        agg.crossJoin(F.broadcast(truth))
        .crossJoin(F.broadcast(nk))
        .select(
            F.col("n_keys").cast("bigint").alias("n_keys"),
            F.col("n_probe").cast("bigint").alias("n_probe"),
            F.col("n_pass").cast("bigint").alias("n_pass"),
            F.col("n_true").cast("bigint").alias("n_true"),
            F.round(
                (F.col("n_pass") - F.col("n_true")).cast("double")
                / (F.col("n_probe") - F.col("n_true")),
                6,
            )
            .cast("double")
            .alias("false_positive_rate"),
        )
    )
