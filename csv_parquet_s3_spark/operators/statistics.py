"""Inferential statistics and register-sketch operators.

Reference scope: SURVEY.md §2.2 — the reference has no aggregation surface
beyond a guard ``COUNT(*)`` (`AutoPurge.sql:139-149`); this module extends the
driver-mandated analytics surface with the statistical QA queries a
training-data pipeline runs over its corpus and event telemetry:

- ``q_hll_distinct_users``: HyperLogLog with deterministic md5 register
  arithmetic — the register-based sibling of the KMV sketch
  (``advanced.q_kmv_distinct_users``), hash-replayable in the oracle.
- ``q_events_autocorrelation`` / ``q_events_dow_seasonality``: time-series
  QA of the daily revenue series (exact-cents moments).
- ``q_chi_square_lang_source`` / ``q_mutual_information_lang_source``:
  categorical association between corpus strata — the "is language confounded
  with source?" audit run before mixture rebalancing.

Determinism discipline (house rules, see ``registry`` docstring): libm terms
(LN/POWER with non-dyadic args) are rounded to 6 digits per row and summed as
DECIMAL, so Spark's and DuckDB's different accumulation orders and last-ulp
libm differences cannot diverge. Dyadic powers ``2^-k`` are exact in IEEE and
need no rounding.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from csv_parquet_s3_spark.operators.advanced import _KMV_HEX_INT
from csv_parquet_s3_spark.operators.registry import register
from csv_parquet_s3_spark.plans.materialize import materialize
from csv_parquet_s3_spark.sources.tables import load_table

# ---------------------------------------------------------------------------
# HyperLogLog distinct-count sketch (Flajolet et al., AOFA'07), m = 64
# registers, fully deterministic: register index and rank both come from the
# same 32-bit md5-derived integer as the KMV sketch, so the oracle replays the
# estimate EXACTLY — unlike Spark's approx_count_distinct (HLL++ with
# engine-private hashing), this sketch is hash-checkable across engines.
# ---------------------------------------------------------------------------
HLL_M = 64  # 2^6 registers; ~1.04/sqrt(64) = 13% standard error
_HLL_ALPHA = 0.7213 / (1 + 1.079 / HLL_M)  # bias constant alpha_64
_HLL_W_BITS = 32 - 6  # rank window after the 6 register-index bits

# rho(w) = leading-zero count of w within the 26-bit window + 1 = 27 - MSB
# position; bin(w) has no leading zeros so MSB position = length(bin(w)).
# Identical function text parses in Spark SQL and DuckDB.
_HLL_RHO = (
    "CASE WHEN {w} = 0 THEN {maxrho} ELSE {bits} + 1 - length(bin({w})) END"
)


@register(
    "q_hll_distinct_users",
    oracle=f"""
    WITH hashed AS (
        SELECT {_KMV_HEX_INT.format(h="md5(CAST(user_id AS VARCHAR))")} AS iv
        FROM events
    ),
    obs AS (
        SELECT CAST(iv % {HLL_M} AS INT) AS reg,
               MAX({_HLL_RHO.format(w=f"(iv // {HLL_M})",
                                    maxrho=_HLL_W_BITS + 1,
                                    bits=_HLL_W_BITS)}) AS rho
        FROM hashed GROUP BY 1
    ),
    regs AS (
        SELECT CAST(t.r AS INT) AS reg, COALESCE(o.rho, 0) AS m_j
        FROM range({HLL_M}) t(r) LEFT JOIN obs o ON o.reg = t.r
    ),
    sk AS (
        SELECT SUM(POWER(2.0, -m_j)) AS sum_inv,
               CAST(SUM(CASE WHEN m_j = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_zero
        FROM regs
    ),
    ex AS (SELECT COUNT(DISTINCT user_id) AS exact_distinct FROM events)
    SELECT CAST({HLL_M} - sk.n_zero AS INT) AS n_used_registers,
           sk.sum_inv,
           CAST(ROUND(
               CASE WHEN CAST({_HLL_ALPHA!r} AS DOUBLE) * {HLL_M * HLL_M}
                         / sk.sum_inv
                         <= {2.5 * HLL_M} AND sk.n_zero > 0
                    THEN {HLL_M} * ROUND(LN({HLL_M}.0 / sk.n_zero), 6)
                    ELSE CAST({_HLL_ALPHA!r} AS DOUBLE) * {HLL_M * HLL_M}
                         / sk.sum_inv
               END, 4) AS DOUBLE) AS est_distinct,
           CAST(ex.exact_distinct AS BIGINT) AS exact_distinct
    FROM sk, ex
    """,
)
def q_hll_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct users with m=64 md5-derived registers: register
    j = hash mod 64, rank = leading-zero-count of the remaining 26 bits + 1,
    estimate alpha_m·m²/Σ2^(-M_j) with the standard linear-counting fallback
    below 2.5m when empty registers remain.

    Every step is deterministic: the per-register 2^-M_j terms are exact
    dyadic doubles (M_j ≤ 27, 64 terms need ≤ 33 significand bits), so their
    sum is EXACT and order-independent — no rounding discipline needed until
    the final estimate. The linear-counting LN is rounded to 6 digits before
    the multiply (house libm rule).

    Scale shape: one narrow hash projection + a 64-group aggregation —
    constant-size sketch state regardless of corpus, mergeable across shards
    by register-wise MAX (the HLL monoid). Complements the KMV sketch
    (``q_kmv_distinct_users``): KMV needs a global top-k, HLL is a pure
    keyed aggregation with no ordering step.
    """
    ev = load_table(spark, sf_dir, "events")
    iv = F.expr(
        _KMV_HEX_INT.format(h="md5(cast(cast(user_id as string) as binary))")
    )
    rho = F.expr(
        _HLL_RHO.format(
            w=f"({_KMV_HEX_INT.format(h='md5(cast(cast(user_id as string) as binary))')} div {HLL_M})",
            maxrho=_HLL_W_BITS + 1,
            bits=_HLL_W_BITS,
        )
    )
    obs = (
        ev.select((iv % HLL_M).cast("int").alias("reg"), rho.alias("rho"))
        .groupBy("reg")
        .agg(F.max("rho").alias("rho"))
    )
    ex = ev.agg(F.countDistinct("user_id").alias("exact_distinct"))
    return _hll_finalize(spark, obs, ex)


def _hll_finalize(spark: SparkSession, obs: DataFrame, ex: DataFrame) -> DataFrame:
    """Estimator readout over observed (reg, rho) register maxima — shared by
    the batch operator above and its streaming-state twin
    (``streaming_batch.stream_events_hll_distinct``)."""
    regs = (
        spark.range(HLL_M)
        .select(F.col("id").cast("int").alias("reg"))
        .join(obs, "reg", "left")
        .select("reg", F.coalesce("rho", F.lit(0)).alias("m_j"))
    )
    sk = regs.agg(
        F.sum(F.pow(F.lit(2.0), -F.col("m_j"))).alias("sum_inv"),
        F.sum(F.when(F.col("m_j") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_zero"),
    )
    raw = F.lit(_HLL_ALPHA) * (HLL_M * HLL_M) / F.col("sum_inv")
    est = F.when(
        (raw <= 2.5 * HLL_M) & (F.col("n_zero") > 0),
        F.lit(HLL_M) * F.round(F.log(F.lit(float(HLL_M)) / F.col("n_zero")), 6),
    ).otherwise(raw)
    return sk.crossJoin(F.broadcast(ex)).select(
        (F.lit(HLL_M) - F.col("n_zero")).cast("int").alias("n_used_registers"),
        "sum_inv",
        F.round(est, 4).cast("double").alias("est_distinct"),
        F.col("exact_distinct").cast("bigint").alias("exact_distinct"),
    )


# ---------------------------------------------------------------------------
# Daily revenue series: shared by the autocorrelation and seasonality queries.
# Cents are exact (scale-2 doubles -> DECIMAL -> BIGINT), so the series is
# identical on both engines regardless of reduce order.
# ---------------------------------------------------------------------------
_EV_CENTS = (
    "CAST(CAST(value AS DECIMAL(12,2)) * CAST(100 AS DECIMAL(3,0)) AS BIGINT)"
)
_DAILY_ORACLE = f"""
    daily AS (
        SELECT CAST(ts AS DATE) AS day, SUM({_EV_CENTS}) AS cents
        FROM events WHERE event_type = 'purchase'
        GROUP BY 1
    )
"""

AUTOCORR_MAX_LAG = 7


def _daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(F.sum(F.expr(_EV_CENTS)).alias("cents"))
    )


@register(
    "q_events_autocorrelation",
    oracle=f"""
    WITH {_DAILY_ORACLE},
    pairs AS (
        SELECT l.lag, a.cents AS x, b.cents AS y
        FROM daily a
        JOIN (SELECT CAST(r + 1 AS INT) AS lag
              FROM range({AUTOCORR_MAX_LAG}) t(r)) l ON TRUE
        JOIN daily b ON b.day = a.day + l.lag
    ),
    moments AS (
        SELECT lag, COUNT(*) AS n,
               CAST(SUM(CAST(x AS DECIMAL(38,0))) AS DOUBLE) AS sx,
               CAST(SUM(CAST(y AS DECIMAL(38,0))) AS DOUBLE) AS sy,
               CAST(SUM(CAST(x AS DECIMAL(38,0)) * y) AS DOUBLE) AS sxy,
               CAST(SUM(CAST(x AS DECIMAL(38,0)) * x) AS DOUBLE) AS sxx,
               CAST(SUM(CAST(y AS DECIMAL(38,0)) * y) AS DOUBLE) AS syy
        FROM pairs GROUP BY lag
    )
    SELECT lag, CAST(n AS INT) AS n_pairs,
           CAST(ROUND((n * sxy - sx * sy)
                      / (SQRT(n * sxx - sx * sx) * SQRT(n * syy - sy * sy)),
                      6) AS DOUBLE) AS autocorr
    FROM moments
    WHERE n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
    ORDER BY lag
    """,
)
def q_events_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1..7 autocorrelation of the daily purchase-revenue series — the
    ingest-telemetry QA query ("is yesterday's volume predictive of
    today's?") and the seasonality detector feeding the day-of-week index.

    Moments are exact: per-day cents are BIGINT, and the five Pearson sums
    accumulate as DECIMAL(38,0) (order-independent) before ONE textual-order
    IEEE combination per lag — Spark and DuckDB compute bit-identical
    correlations without any mid-stream float reduce. The lagged self-join is
    an equi-join on ``day + lag`` (never a range/theta join); the series
    frame is days-sized, not events-sized, so the join input at 100 TB is
    still only ~36.5k rows per decade.
    """
    daily = _daily_revenue(spark, sf_dir)
    lags = (
        spark.range(AUTOCORR_MAX_LAG)
        .select((F.col("id") + 1).cast("int").alias("lag"))
    )
    a = daily.select(F.col("day").alias("a_day"), F.col("cents").alias("x"))
    b = daily.select(F.col("day").alias("b_day"), F.col("cents").alias("y"))
    pairs = (
        a.crossJoin(F.broadcast(lags))
        .withColumn("match_day", F.date_add("a_day", F.col("lag")))
        .join(b, F.col("b_day") == F.col("match_day"))
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    moments = pairs.groupBy("lag").agg(
        F.count("*").alias("n"),
        F.sum(dec("x")).cast("double").alias("sx"),
        F.sum(dec("y")).cast("double").alias("sy"),
        F.sum(dec("x") * F.col("y")).cast("double").alias("sxy"),
        F.sum(dec("x") * F.col("x")).cast("double").alias("sxx"),
        F.sum(dec("y") * F.col("y")).cast("double").alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    r = (n * sxy - sx * sy) / (
        F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy)
    )
    return (
        moments.filter((n * sxx - sx * sx > 0) & (n * syy - sy * sy > 0))
        .select(
            "lag",
            n.cast("int").alias("n_pairs"),
            F.round(r, 6).cast("double").alias("autocorr"),
        )
        .orderBy("lag")
    )


@register(
    "q_events_dow_seasonality",
    oracle=f"""
    WITH {_DAILY_ORACLE},
    tot AS (
        SELECT COUNT(*) AS n_all, SUM(CAST(cents AS DECIMAL(38,0))) AS sum_all
        FROM daily
    )
    SELECT CAST((day - DATE '1970-01-01' + 3) % 7 + 1 AS INT) AS dow,
           CAST(COUNT(*) AS INT) AS n_days,
           CAST(ROUND(CAST(SUM(CAST(cents AS DECIMAL(38,0))) AS DOUBLE)
                      / (100.0 * COUNT(*)), 2) AS DOUBLE) AS avg_daily_revenue,
           CAST(ROUND(CAST(SUM(CAST(cents AS DECIMAL(38,0))) AS DOUBLE)
                      * t.n_all
                      / (CAST(COUNT(*) AS DOUBLE) * CAST(t.sum_all AS DOUBLE)),
                      6) AS DOUBLE) AS seasonal_index
    FROM daily, tot t
    GROUP BY 1, t.n_all, t.sum_all
    ORDER BY dow
    """,
)
def q_events_dow_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonal index of purchase revenue: mean daily revenue for
    each weekday divided by the overall mean daily revenue — the multiplier a
    forecast or anomaly detector applies per weekday. Weekday comes from pure
    epoch-day arithmetic ``(epoch_day + 3) % 7 + 1`` (Monday=1), NOT the
    engines' dayofweek functions, whose week-start conventions differ.

    The series frame is days-sized; the one-row totals frame broadcasts.
    Sums stay DECIMAL until one textual-order IEEE division per weekday.
    """
    daily = _daily_revenue(spark, sf_dir)
    tot = daily.agg(
        F.count("*").alias("n_all"),
        F.sum(F.col("cents").cast("decimal(38,0)")).alias("sum_all"),
    )
    dow = (
        (F.datediff("day", F.lit("1970-01-01")) + 3) % 7 + 1
    ).cast("int")
    sum_cents = F.sum(F.col("cents").cast("decimal(38,0)")).cast("double")
    return (
        daily.crossJoin(F.broadcast(tot))
        .groupBy(dow.alias("dow"), "n_all", "sum_all")
        .agg(F.count("*").alias("cnt"), sum_cents.alias("s"))
        .select(
            "dow",
            F.col("cnt").cast("int").alias("n_days"),
            F.round(F.col("s") / (100.0 * F.col("cnt")), 2)
            .cast("double")
            .alias("avg_daily_revenue"),
            F.round(
                F.col("s")
                * F.col("n_all")
                / (F.col("cnt").cast("double") * F.col("sum_all").cast("double")),
                6,
            )
            .cast("double")
            .alias("seasonal_index"),
        )
        .orderBy("dow")
    )


# ---------------------------------------------------------------------------
# Categorical association: lang x source contingency analysis on documents.
# The "is my language mixture confounded with my source mixture?" audit a
# pipeline runs before per-language rebalancing (sampling.py) — if lang and
# source are strongly associated, downsampling a language silently reshapes
# the source mixture too.
# ---------------------------------------------------------------------------
_CONTINGENCY_ORACLE = """
    cells AS (
        SELECT lang, source, COUNT(*) AS o FROM documents GROUP BY 1, 2
    ),
    rows_ AS (SELECT lang, SUM(o) AS rt FROM cells GROUP BY 1),
    cols_ AS (SELECT source, SUM(o) AS ct FROM cells GROUP BY 1),
    tot AS (SELECT SUM(o) AS n FROM cells)
"""


@register(
    "q_chi_square_lang_source",
    oracle=f"""
    WITH {_CONTINGENCY_ORACLE},
    terms AS (
        SELECT c.lang, c.source,
               CAST(ROUND(
                   (CAST(c.o AS DOUBLE)
                    - CAST(r.rt AS DOUBLE) * ct.ct / t.n)
                   * (CAST(c.o AS DOUBLE)
                      - CAST(r.rt AS DOUBLE) * ct.ct / t.n)
                   / (CAST(r.rt AS DOUBLE) * ct.ct / t.n), 6)
                   AS DECIMAL(20,6)) AS term
        FROM cells c
        JOIN rows_ r ON r.lang = c.lang
        JOIN cols_ ct ON ct.source = c.source
        CROSS JOIN tot t
    ),
    dims AS (
        SELECT (SELECT COUNT(*) FROM rows_) AS nr,
               (SELECT COUNT(*) FROM cols_) AS nc,
               (SELECT n FROM tot) AS n
    )
    SELECT CAST((SELECT COUNT(*) FROM cells) AS INT) AS n_cells,
           CAST((d.nr - 1) * (d.nc - 1) AS INT) AS dof,
           CAST(ROUND(CAST(s.chi2 AS DOUBLE), 6) AS DOUBLE) AS chi2,
           CAST(ROUND(SQRT(CAST(s.chi2 AS DOUBLE)
                           / (CAST(d.n AS DOUBLE)
                              * LEAST(d.nr - 1, d.nc - 1))), 6) AS DOUBLE)
               AS cramers_v
    FROM (SELECT SUM(term) AS chi2 FROM terms) s, dims d
    """,
)
def q_chi_square_lang_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square test of independence between document language and
    source, plus Cramér's V effect size. Expected counts come from the
    marginal products; each cell's (o−e)²/e term is rounded to 6 digits and
    summed as DECIMAL(20,6) (house libm/float-reduce rule), so both engines
    produce the identical statistic.

    Scale shape: one groupBy over the corpus, then all arithmetic on the
    |langs|×|sources| cells frame — association testing costs one aggregation
    regardless of corpus size. The cells frame is localCheckpointed because
    every marginal (rows_, cols_, tot, dims) references it: without the
    checkpoint each reference replays the corpus scan+aggregate (a plan
    audit measured 8 scans / 16 exchanges for what is one pass).
    """
    docs = load_table(spark, sf_dir, "documents")
    cells = (
        docs.groupBy("lang", "source").agg(F.count("*").alias("o")).transform(materialize)
    )
    rows_ = cells.groupBy("lang").agg(F.sum("o").alias("rt"))
    cols_ = cells.groupBy("source").agg(F.sum("o").alias("ct"))
    tot = cells.agg(F.sum("o").alias("n"))
    e = F.col("rt").cast("double") * F.col("ct") / F.col("n")
    term = F.round(
        (F.col("o").cast("double") - e) * (F.col("o").cast("double") - e) / e, 6
    ).cast("decimal(20,6)")
    terms = (
        cells.join(rows_, "lang")
        .join(cols_, "source")
        .crossJoin(F.broadcast(tot))
        .select(term.alias("term"))
    )
    chi2 = terms.agg(F.sum("term").alias("chi2"))
    dims = (
        rows_.agg(F.count("*").alias("nr"))
        .crossJoin(cols_.agg(F.count("*").alias("nc")))
        .crossJoin(tot)
        .crossJoin(cells.agg(F.count("*").alias("n_cells")))
    )
    return chi2.crossJoin(F.broadcast(dims)).select(
        F.col("n_cells").cast("int").alias("n_cells"),
        ((F.col("nr") - 1) * (F.col("nc") - 1)).cast("int").alias("dof"),
        F.round(F.col("chi2").cast("double"), 6).cast("double").alias("chi2"),
        F.round(
            F.sqrt(
                F.col("chi2").cast("double")
                / (
                    F.col("n").cast("double")
                    * F.least(F.col("nr") - 1, F.col("nc") - 1)
                )
            ),
            6,
        )
        .cast("double")
        .alias("cramers_v"),
    )


@register(
    "q_mutual_information_lang_source",
    oracle=f"""
    WITH {_CONTINGENCY_ORACLE},
    mi AS (
        SELECT SUM(CAST(ROUND(LN(CAST(c.o AS DOUBLE) * t.n
                                 / (CAST(r.rt AS DOUBLE) * ct.ct)), 6)
                        AS DECIMAL(20,6)) * c.o) AS s
        FROM cells c
        JOIN rows_ r ON r.lang = c.lang
        JOIN cols_ ct ON ct.source = c.source
        CROSS JOIN tot t
    ),
    hx AS (
        SELECT SUM(CAST(ROUND(LN(CAST(t.n AS DOUBLE) / r.rt), 6)
                        AS DECIMAL(20,6)) * r.rt) AS s
        FROM rows_ r CROSS JOIN tot t
    ),
    hy AS (
        SELECT SUM(CAST(ROUND(LN(CAST(t.n AS DOUBLE) / ct.ct), 6)
                        AS DECIMAL(20,6)) * ct.ct) AS s
        FROM cols_ ct CROSS JOIN tot t
    )
    SELECT CAST(ROUND(CAST(mi.s AS DOUBLE) / t.n, 6) AS DOUBLE) AS mi_nats,
           CAST(ROUND(CAST(hx.s AS DOUBLE) / t.n, 6) AS DOUBLE) AS h_lang,
           CAST(ROUND(CAST(hy.s AS DOUBLE) / t.n, 6) AS DOUBLE) AS h_source,
           CAST(ROUND(CAST(mi.s AS DOUBLE) / t.n
                      / SQRT((CAST(hx.s AS DOUBLE) / t.n)
                             * (CAST(hy.s AS DOUBLE) / t.n)), 6) AS DOUBLE)
               AS nmi
    FROM mi, hx, hy, tot t
    """,
)
def q_mutual_information_lang_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information I(lang; source) in nats, the marginal entropies,
    and the normalized MI (mi/√(H_lang·H_source)) — the information-theoretic
    counterpart of the chi-square audit: how many nats of a document's source
    are revealed by its language. Per-cell LN terms are rounded to 6 digits
    and weighted by EXACT integer counts into DECIMAL sums; the single /N and
    normalization happen once at the end in textual IEEE order.

    The cells frame is localCheckpointed — the MI sum, both entropies and
    the total each reference it, and without the checkpoint each reference
    replays the corpus aggregate (9 scans / 20 exchanges in a plan audit).
    """
    docs = load_table(spark, sf_dir, "documents")
    cells = (
        docs.groupBy("lang", "source").agg(F.count("*").alias("o")).transform(materialize)
    )
    rows_ = cells.groupBy("lang").agg(F.sum("o").alias("rt"))
    cols_ = cells.groupBy("source").agg(F.sum("o").alias("ct"))
    tot = cells.agg(F.sum("o").alias("n"))

    mi_term = F.round(
        F.log(
            F.col("o").cast("double")
            * F.col("n")
            / (F.col("rt").cast("double") * F.col("ct"))
        ),
        6,
    ).cast("decimal(20,6)")
    mi = (
        cells.join(rows_, "lang")
        .join(cols_, "source")
        .crossJoin(F.broadcast(tot))
        .agg(F.sum(mi_term * F.col("o")).alias("mi_s"))
    )
    h_term = lambda margin: F.round(  # noqa: E731
        F.log(F.col("n").cast("double") / F.col(margin)), 6
    ).cast("decimal(20,6)")
    hx = rows_.crossJoin(F.broadcast(tot)).agg(
        F.sum(h_term("rt") * F.col("rt")).alias("hx_s")
    )
    hy = cols_.crossJoin(F.broadcast(tot)).agg(
        F.sum(h_term("ct") * F.col("ct")).alias("hy_s")
    )
    n = F.col("n").cast("double")
    mi_nats = F.col("mi_s").cast("double") / n
    h_lang = F.col("hx_s").cast("double") / n
    h_source = F.col("hy_s").cast("double") / n
    return (
        mi.crossJoin(F.broadcast(hx))
        .crossJoin(F.broadcast(hy))
        .crossJoin(F.broadcast(tot))
        .select(
            F.round(mi_nats, 6).cast("double").alias("mi_nats"),
            F.round(h_lang, 6).cast("double").alias("h_lang"),
            F.round(h_source, 6).cast("double").alias("h_source"),
            F.round(mi_nats / F.sqrt(h_lang * h_source), 6)
            .cast("double")
            .alias("nmi"),
        )
    )


# ---------------------------------------------------------------------------
# Benford first-digit audit of order totals: the classic financial-data
# integrity screen. Synthetic/fabricated amounts diverge from the log-law.
# ---------------------------------------------------------------------------
import math as _math

_BENFORD = {d: _math.log10(1 + 1 / d) for d in range(1, 10)}
_BENFORD_CASE = "CASE first_digit " + " ".join(
    f"WHEN {d} THEN CAST({_BENFORD[d]!r} AS DOUBLE)" for d in range(1, 10)
) + " END"


@register(
    "q_orders_benford_digits",
    oracle=f"""
    WITH digits AS (
        SELECT CAST(substr(CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS VARCHAR),
                           1, 1) AS INT) AS first_digit
        FROM orders
    ),
    tot AS (SELECT COUNT(*) AS n FROM digits)
    SELECT first_digit,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(ROUND(CAST(COUNT(*) AS DOUBLE) / t.n, 6) AS DOUBLE)
               AS observed_share,
           CAST(ROUND({_BENFORD_CASE}, 6) AS DOUBLE) AS benford_share,
           CAST(ROUND(ABS(CAST(COUNT(*) AS DOUBLE) / t.n - {_BENFORD_CASE}), 6)
               AS DOUBLE) AS abs_dev
    FROM digits, tot t
    GROUP BY first_digit, t.n
    ORDER BY first_digit
    """,
)
def q_orders_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law conformity of order totals: observed first-significant-
    digit shares against log10(1+1/d), with per-digit absolute deviation
    (their mean is the standard MAD conformity statistic). The data-
    integrity audit a warehouse runs on monetary columns — fabricated or
    truncated amounts break the log-law long before totals look wrong.

    The first digit comes from the DECIMAL(12,2) string form (totals are
    ≥ 1, so the leading character IS the first significant digit) — pure
    string/integer ops, no float log in the digit path. Map-side projection
    + 9-group aggregation; the one-row total broadcasts.
    """
    orders = load_table(spark, sf_dir, "orders")
    digits = orders.select(
        F.substring(
            F.col("o_totalprice").cast("decimal(12,2)").cast("string"), 1, 1
        )
        .cast("int")
        .alias("first_digit")
    )
    tot = digits.agg(F.count("*").alias("n"))
    share = F.col("cnt").cast("double") / F.col("n")
    benford = F.expr(_BENFORD_CASE)
    return (
        digits.groupBy("first_digit")
        .agg(F.count("*").alias("cnt"))
        .crossJoin(F.broadcast(tot))
        .select(
            "first_digit",
            F.col("cnt").cast("bigint").alias("n_orders"),
            F.round(share, 6).cast("double").alias("observed_share"),
            F.round(benford, 6).cast("double").alias("benford_share"),
            F.round(F.abs(share - benford), 6).cast("double").alias("abs_dev"),
        )
        .orderBy("first_digit")
    )


# ---------------------------------------------------------------------------
# RFM segmentation: quartile-code customers by recency/frequency/monetary.
# ---------------------------------------------------------------------------
_RFM_BASE_ORACLE = """
    base AS (
        SELECT o_custkey AS custkey,
               MAX(CAST(o_orderdate AS DATE)) AS last_order,
               COUNT(*) AS freq,
               SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS monetary
        FROM orders GROUP BY o_custkey
    ),
    coded AS (
        SELECT custkey,
               NTILE(4) OVER (ORDER BY last_order, custkey) AS r,
               NTILE(4) OVER (ORDER BY freq, custkey) AS f,
               NTILE(4) OVER (ORDER BY monetary, custkey) AS m,
               monetary
        FROM base
    )
"""


@register(
    "q_customer_rfm_segments",
    oracle=f"""
    WITH {_RFM_BASE_ORACLE}
    SELECT CAST(r AS INT) AS r, CAST(f AS INT) AS f, CAST(m AS INT) AS m,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(CAST((2 * SUM(CAST(monetary * 100 AS BIGINT)) + COUNT(*))
                     // (2 * COUNT(*)) AS DOUBLE) / 100.0 AS DOUBLE)
               AS avg_monetary
    FROM coded
    GROUP BY 1, 2, 3
    ORDER BY r, f, m
    """,
)
def q_customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: quartile-code every ordering customer on Recency
    (last order date), Frequency (order count) and Monetary (exact DECIMAL
    revenue), then profile the up-to-64 (r,f,m) cells — the standard
    customer-value cube. NTILE runs over (value, custkey) so ties split
    identically on both engines; monetary stays DECIMAL until the final
    per-cell average.

    Scale note: the three NTILEs are global sorts over the CUSTOMER
    aggregate (one row per customer, not per order) and are TWO-PHASE
    (plans/ranking.py): each is a distributed range sort +
    broadcast offsets + the exact NTILE fill derived from (row_number,
    total) — no single-partition window. The three coded frames join back
    on custkey (each side is the pre-reduced customer frame). If even the
    range sorts are too hot, the quartile boundaries could come from
    approx quantiles instead (the ``curriculum_length_shards`` pattern) at
    the cost of exact quartile cardinalities.
    """
    from csv_parquet_s3_spark.plans.ranking import (
        ntile_from_rn,
        with_global_row_number,
    )

    orders = load_table(spark, sf_dir, "orders")

    # base feeds three independent rank passes + the count — materialize once
    base = materialize(
        orders.groupBy(F.col("o_custkey").alias("custkey")).agg(
            F.max(F.col("o_orderdate").cast("date")).alias("last_order"),
            F.count("*").alias("freq"),
            F.sum(F.col("o_totalprice").cast("decimal(12,2)")).alias("monetary"),
        )
    )
    n = base.count()

    def quartile(order_col: str, out: str):
        rn = with_global_row_number(
            base.select("custkey", order_col),
            [F.asc(order_col), F.asc("custkey")],
            "__rn",
        )
        return rn.select(
            "custkey", ntile_from_rn(F.col("__rn"), 4, F.lit(n)).alias(out)
        )

    coded = (
        base.select("custkey", "monetary")
        .join(quartile("last_order", "r"), "custkey")
        .join(quartile("freq", "f"), "custkey")
        .join(quartile("monetary", "m"), "custkey")
    )
    return (
        coded.groupBy("r", "f", "m")
        .agg(
            F.count("*").cast("bigint").alias("n_customers"),
            # round-half-up of (sum/n) computed entirely in integer cents:
            # (2s + n) div (2n) — no double ever carries a .xx5 boundary.
            (
                F.expr(
                    "(2 * sum(CAST(monetary * 100 AS BIGINT)) + count(*))"
                    " div (2 * count(*))"
                ).cast("double")
                / 100.0
            )
            .cast("double")
            .alias("avg_monetary"),
        )
        .select(
            F.col("r").cast("int").alias("r"),
            F.col("f").cast("int").alias("f"),
            F.col("m").cast("int").alias("m"),
            "n_customers",
            "avg_monetary",
        )
        .orderBy("r", "f", "m")
    )


# ---------------------------------------------------------------------------
# Table profiling + rule-based data validation: the stats/QA pair every
# warehouse runs before trusting a feed. The reference's O17 probes table
# stats to pick a purge DOP (AutoPurge.sql); the query-side counterpart is
# a full per-column profile, and the guard-count idea of O14 (COUNT(*) vs
# max_record_count before destructive action) generalizes to a named-rule
# violation screen.
# ---------------------------------------------------------------------------
_PROFILE_COLS = (
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_totalprice",
    "o_orderdate",
    "o_orderpriority",
)


@register(
    "q_table_profile_orders",
    oracle="\nUNION ALL\n".join(
        f"""
    SELECT '{c}' AS column_name,
           (SELECT COUNT(*) FROM orders) AS n_rows,
           COUNT(*) - COUNT({c}) AS n_nulls,
           COUNT(DISTINCT {c}) AS n_distinct
    FROM orders"""
        for c in _PROFILE_COLS
    ),
)
def q_table_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style column profile of the orders table in long form: one
    row per column with row/null/exact-distinct counts — the stats a cost
    model (or the reference's DOP probe, O17) reads, as a first-class
    query instead of a side effect.

    Scale shape: ONE scan; Spark expands the multi-distinct aggregate via
    expand+partial-agg (each distinct column shuffles its own hashed
    stream, map-side combined). At 100 TB swap approx_count_distinct into
    the same frame for a single-pass HLL profile — the exact version here
    is what the oracle can replay."""
    orders = load_table(spark, sf_dir, "orders")
    aggs = []
    for c in _PROFILE_COLS:
        aggs += [
            F.count("*").alias(f"{c}__rows"),
            (F.count("*") - F.count(c)).alias(f"{c}__nulls"),
            F.countDistinct(c).alias(f"{c}__distinct"),
        ]
    one = orders.agg(*aggs)
    structs = F.array(
        *[
            F.struct(
                F.lit(c).alias("column_name"),
                F.col(f"{c}__rows").alias("n_rows"),
                F.col(f"{c}__nulls").alias("n_nulls"),
                F.col(f"{c}__distinct").alias("n_distinct"),
            )
            for c in _PROFILE_COLS
        ]
    )
    return one.select(F.explode(structs).alias("p")).select("p.*")


_ORDER_RULES = (
    ("null_orderkey", "o_orderkey IS NULL"),
    ("null_custkey", "o_custkey IS NULL"),
    ("nonpositive_total", "o_totalprice <= 0"),
    ("status_domain", "o_orderstatus NOT IN ('O', 'F', 'P')"),
    (
        "priority_domain",
        "o_orderpriority NOT IN ('1-URGENT', '2-HIGH', '3-MEDIUM',"
        " '4-NOT SPECIFIED', '5-LOW')",
    ),
    (
        "date_range",
        "o_orderdate < TIMESTAMP '1990-01-01 00:00:00'"
        " OR o_orderdate >= TIMESTAMP '2030-01-01 00:00:00'",
    ),
)


@register(
    "q_orders_quality_rules",
    oracle="\nUNION ALL\n".join(
        f"""
    SELECT '{name}' AS rule_name,
           CAST(SUM(CASE WHEN {pred} THEN 1 ELSE 0 END) AS BIGINT)
               AS n_violations,
           CAST(ROUND(CAST(SUM(CASE WHEN {pred} THEN 1 ELSE 0 END) AS DOUBLE)
                / COUNT(*), 6) AS DOUBLE) AS violation_rate
    FROM orders"""
        for name, pred in _ORDER_RULES
    ),
)
def q_orders_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Named-rule data-quality screen over orders (dbt-test / Deequ shape):
    null keys, non-positive totals, enum-domain escapes, out-of-range
    dates — one row per rule with violation count and rate. A feed gate
    compares these against thresholds before publishing a batch, the same
    guard-before-commit posture as the reference's COUNT(*) check (O14).

    Scale shape: all rules evaluate in ONE scan as conditional aggregates
    (map-side combined, no per-rule pass); the violation predicates stay
    inside whole-stage codegen. The long-form explode is rules-sized."""
    orders = load_table(spark, sf_dir, "orders")
    aggs = []
    for name, pred in _ORDER_RULES:
        aggs.append(
            F.sum(F.when(F.expr(pred), 1).otherwise(0))
            .cast("bigint")
            .alias(f"{name}__v")
        )
    aggs.append(F.count("*").alias("__n"))
    one = orders.agg(*aggs)
    structs = F.array(
        *[
            F.struct(
                F.lit(name).alias("rule_name"),
                F.col(f"{name}__v").alias("n_violations"),
                F.round(
                    F.col(f"{name}__v").cast("double") / F.col("__n"), 6
                )
                .cast("double")
                .alias("violation_rate"),
            )
            for name, _ in _ORDER_RULES
        ]
    )
    return one.select(F.explode(structs).alias("r")).select("r.*")


# ---------------------------------------------------------------------------
# Experimentation as a query: deterministic 50/50 assignment (md5 bucket of
# the customer key — the same content-stable hash-Bernoulli discipline as
# hash_split) and a Welch t-test on order value between the arms. The A/B
# readout a growth team runs daily; on a pre-experiment corpus like this one
# it doubles as an A/A calibration check (|t| should be small).
# ---------------------------------------------------------------------------
AB_SPLIT_PCT = 50


def _ab_oracle() -> str:
    from csv_parquet_s3_spark.operators.sampling import _bucket_expr

    bucket = _bucket_expr("md5(CAST(o_custkey AS VARCHAR))")
    moments = """
        SELECT CASE WHEN b < {pct} THEN 'A' ELSE 'B' END AS arm,
               COUNT(*) AS n,
               SUM(CAST(c AS DECIMAL(38,0))) AS s,
               SUM(CAST(c AS DECIMAL(38,0)) * CAST(c AS DECIMAL(38,0))) AS sq
        FROM (SELECT {bucket} AS b,
                     CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS c
              FROM orders) t
        GROUP BY arm
    """.format(pct=AB_SPLIT_PCT, bucket=bucket)
    return f"""
    WITH m AS ({moments}),
    w AS (
        SELECT
            MAX(CASE WHEN arm = 'A' THEN n END) AS na,
            MAX(CASE WHEN arm = 'B' THEN n END) AS nb,
            MAX(CASE WHEN arm = 'A' THEN s END) AS sa,
            MAX(CASE WHEN arm = 'B' THEN s END) AS sb,
            MAX(CASE WHEN arm = 'A' THEN sq END) AS qa,
            MAX(CASE WHEN arm = 'B' THEN sq END) AS qb
        FROM m
    )
    SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
           CAST(ROUND(CAST(sa AS DOUBLE) / 100 / na, 6) AS DOUBLE) AS mean_a,
           CAST(ROUND(CAST(sb AS DOUBLE) / 100 / nb, 6) AS DOUBLE) AS mean_b,
           CAST(ROUND(
             (CAST(sa AS DOUBLE) / 100 / na - CAST(sb AS DOUBLE) / 100 / nb)
             / SQRT(
                ((CAST(qa AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE) / na)
                  / (na - 1) / 10000) / na
              + ((CAST(qb AS DOUBLE) - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE) / nb)
                  / (nb - 1) / 10000) / nb
             ), 6) AS DOUBLE) AS welch_t
    FROM w
    """


@register("q_ab_welch_t", oracle=_ab_oracle())
def q_ab_welch_t(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch two-sample t statistic for mean order value between two
    deterministically assigned customer arms (md5-bucket 50/50 on
    o_custkey). Assignment is content-stable — re-runs, appends and other
    engines agree on every customer's arm, so the statistic itself is
    hash-checkable, and cluster-randomized (by customer, not order) as a
    real experiment would be.

    Determinism: per-arm moments are exact (bigint cents into
    DECIMAL(38,0) sums); the t formula is one fixed-shape double
    expression over six exact numbers, identical text on both engines.

    Scale shape: one scan, one 2-group aggregate with map-side combine,
    one-row output — the entire test is a partial-aggregation pass no
    matter the corpus size."""
    from csv_parquet_s3_spark.operators.sampling import _bucket_expr

    orders = load_table(spark, sf_dir, "orders")
    bucket = _bucket_expr("md5(CAST(CAST(o_custkey AS STRING) AS BINARY))")
    m = (
        orders.select(
            F.when(F.expr(bucket) < AB_SPLIT_PCT, "A").otherwise("B").alias("arm"),
            F.expr("CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)").alias("c"),
        )
        .groupBy("arm")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("c").cast("decimal(38,0)")).alias("s"),
            F.sum(
                F.col("c").cast("decimal(38,0)") * F.col("c").cast("decimal(38,0)")
            ).alias("sq"),
        )
    )
    w = m.agg(
        F.max(F.when(F.col("arm") == "A", F.col("n"))).alias("na"),
        F.max(F.when(F.col("arm") == "B", F.col("n"))).alias("nb"),
        F.max(F.when(F.col("arm") == "A", F.col("s"))).alias("sa"),
        F.max(F.when(F.col("arm") == "B", F.col("s"))).alias("sb"),
        F.max(F.when(F.col("arm") == "A", F.col("sq"))).alias("qa"),
        F.max(F.when(F.col("arm") == "B", F.col("sq"))).alias("qb"),
    )
    return w.select(
        F.col("na").cast("bigint").alias("n_a"),
        F.col("nb").cast("bigint").alias("n_b"),
        F.expr("CAST(ROUND(CAST(sa AS DOUBLE) / 100 / na, 6) AS DOUBLE)").alias(
            "mean_a"
        ),
        F.expr("CAST(ROUND(CAST(sb AS DOUBLE) / 100 / nb, 6) AS DOUBLE)").alias(
            "mean_b"
        ),
        F.expr(
            """CAST(ROUND(
             (CAST(sa AS DOUBLE) / 100 / na - CAST(sb AS DOUBLE) / 100 / nb)
             / SQRT(
                ((CAST(qa AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE) / na)
                  / (na - 1) / 10000) / na
              + ((CAST(qb AS DOUBLE) - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE) / nb)
                  / (nb - 1) / 10000) / nb
             ), 6) AS DOUBLE)"""
        ).alias("welch_t"),
    )


# ---------------------------------------------------------------------------
# Poisson bootstrap confidence interval — resampling at data-warehouse scale.
# A classical bootstrap resamples rows WITH replacement B times (impossible
# to coordinate distributedly); the Poisson bootstrap (Chamandy et al.,
# Google) draws each row's per-replica multiplicity w ~ Poisson(1)
# independently, which needs no coordination at all. Here the draw is
# DERANDOMIZED: u = md5(replica:key)/2^32 through the Poisson(1) inverse
# CDF, so every engine reproduces the identical resample — the bootstrap
# becomes hash-checkable.
# ---------------------------------------------------------------------------
BOOT_B = 32  # replicas

# Poisson(1) inverse-CDF breakpoints: P(W<=k) for k=0..5; the residual tail
# above P(W<=5) (≈ 5.9e-4) maps to multiplicity 6. The table must run
# through k=5 — stopping at k=4 with a catch-all of 6 would skip
# multiplicity 5 entirely, biasing E[w] to ~1.003.
_POIS_CDF = (0.36787944117144233, 0.7357588823428847, 0.9196986029286058,
             0.9810118431238462, 0.9963401531726563, 0.9994058151824183)


def _boot_w(u_expr: str) -> str:
    w = "6"
    for k in range(len(_POIS_CDF) - 1, -1, -1):
        w = f"CASE WHEN {u_expr} < {_POIS_CDF[k]!r} THEN {k} ELSE {w} END"
    return w


def _boot_oracle() -> str:
    from csv_parquet_s3_spark.operators.dedup import _BLOOM_HEX_INT

    h = "md5(b || ':' || CAST(o_orderkey AS VARCHAR))"
    u = f"(CAST({_BLOOM_HEX_INT.format(h=h)} AS DOUBLE) / {16 ** 8})"
    return f"""
    WITH reps AS (
        SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(12,2)) AS x,
               CAST(u.b AS INT) AS b, {_boot_w(u)} AS w
        FROM orders, UNNEST(range(0, {BOOT_B})) AS u(b)
    ),
    means AS (
        SELECT b,
               CAST(ROUND(CAST(SUM(w * x) AS DOUBLE) / SUM(w), 6) AS DOUBLE)
                   AS m
        FROM reps GROUP BY b
    ),
    ext AS (SELECT MIN(m) AS ci_lo, MAX(m) AS ci_hi FROM means),
    base AS (
        SELECT CAST(ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)))
                   AS DOUBLE) / COUNT(*), 6) AS DOUBLE) AS sample_mean
        FROM orders
    )
    SELECT base.sample_mean, ext.ci_lo, ext.ci_hi,
           CAST({BOOT_B} AS INT) AS n_replicas
    FROM base, ext
    """


@register("q_revenue_bootstrap_ci", oracle=_boot_oracle())
def q_revenue_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bootstrap confidence interval for mean order value via the
    derandomized Poisson bootstrap: each order's multiplicity in replica b
    is the Poisson(1) inverse CDF of a uniform derived from
    md5(b:orderkey). One row out: the sample mean, the min/max of the
    {BOOT_B} replica means (≈ the 3%/97% envelope at B={BOOT_B}), and B.

    Scale shape: the corpus × B expansion happens MAP-SIDE (explode of a
    constant range — no shuffle amplification) and immediately folds into
    B partial aggregates with map-side combine: one shuffle of B·partitions
    tiny rows regardless of corpus size. Replica means accumulate exact
    DECIMAL weighted sums before ONE double division, so the oracle
    reproduces every replica bit-for-bit. The textbook version of what
    sampled-percentile error bars cost at 100 TB."""
    orders = load_table(spark, sf_dir, "orders")
    from csv_parquet_s3_spark.operators.dedup import _BLOOM_HEX_INT

    h = "md5(cast(concat(cast(b as string), ':', cast(o_orderkey as string)) as binary))"
    u = f"(CAST({_BLOOM_HEX_INT.format(h=h)} AS DOUBLE) / {16 ** 8})"
    reps = orders.select(
        "o_orderkey",
        F.expr("CAST(o_totalprice AS DECIMAL(12,2))").alias("x"),
        F.explode(F.expr(f"sequence(0, {BOOT_B - 1})")).alias("b"),
    ).select(
        "o_orderkey",
        "x",
        F.col("b").cast("int").alias("b"),
        F.expr(_boot_w(u)).alias("w"),
    )
    means = reps.groupBy("b").agg(
        F.expr("CAST(ROUND(CAST(SUM(w * x) AS DOUBLE) / SUM(w), 6) AS DOUBLE)").alias(
            "m"
        )
    )
    # One MIN/MAX aggregate over the B replica means — the earlier global
    # row_number window was referenced twice (lo, hi) and replayed the full
    # corpus × B expansion per reference (3 scans in a plan audit).
    ext = means.agg(
        F.min("m").alias("ci_lo"), F.max("m").alias("ci_hi")
    )
    base = orders.agg(
        F.expr(
            "CAST(ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)"
            " / COUNT(*), 6) AS DOUBLE)"
        ).alias("sample_mean")
    )
    return base.crossJoin(F.broadcast(ext)).select(
        "sample_mean",
        "ci_lo",
        "ci_hi",
        F.lit(BOOT_B).cast("int").alias("n_replicas"),
    )


# ---------------------------------------------------------------------------
# Kaplan-Meier time-to-reorder: survival analysis as a query. Each customer
# contributes one duration — days from first to second order (event=1), or
# days from first order to the corpus horizon if no reorder came (event=0,
# right-censored). Ignoring the censored rows (as a naive AVG does) biases
# retention optimistic; KM handles them correctly with a product-limit over
# the at-risk set.
# ---------------------------------------------------------------------------


@register(
    "q_survival_reorder_km",
    oracle="""
    WITH ranked AS (
        SELECT o_custkey, o_orderdate,
               ROW_NUMBER() OVER (PARTITION BY o_custkey
                                  ORDER BY o_orderdate, o_orderkey) AS rn
        FROM orders
    ),
    horizon AS (SELECT MAX(o_orderdate) AS h FROM orders),
    durations AS (
        SELECT f.o_custkey,
               CASE WHEN s.o_orderdate IS NOT NULL
                    THEN date_diff('day', f.o_orderdate, s.o_orderdate)
                    ELSE date_diff('day', f.o_orderdate, hz.h) END AS t,
               CASE WHEN s.o_orderdate IS NOT NULL THEN 1 ELSE 0 END AS ev
        FROM ranked f
        LEFT JOIN ranked s ON s.o_custkey = f.o_custkey AND s.rn = 2
        CROSS JOIN horizon hz
        WHERE f.rn = 1
    ),
    n_total AS (SELECT COUNT(*) AS n FROM durations),
    bytime AS (
        SELECT t, SUM(ev) AS d,
               COUNT(*) AS entering
        FROM durations GROUP BY t
    ),
    risk AS (
        SELECT t, d,
               nt.n - COALESCE(SUM(entering) OVER (
                   ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                   AND 1 PRECEDING), 0) AS n_risk
        FROM bytime CROSS JOIN n_total nt
    ),
    km AS (
        SELECT t, d, n_risk,
               SUM(CASE WHEN d < n_risk
                        THEN CAST(ROUND(LN(1 - CAST(d AS DOUBLE) / n_risk), 6)
                                  AS DECIMAL(20,6)) END) OVER (
                   ORDER BY t ROWS UNBOUNDED PRECEDING) AS logS,
               CASE WHEN d = n_risk THEN 1 ELSE 0 END AS died_out
        FROM risk WHERE d > 0
    )
    SELECT CAST(t AS BIGINT) AS t_days,
           CAST(n_risk AS BIGINT) AS n_risk,
           CAST(d AS BIGINT) AS n_events,
           CASE WHEN died_out = 1 THEN CAST(0.0 AS DOUBLE)
                ELSE CAST(ROUND(EXP(CAST(logS AS DOUBLE)), 6) AS DOUBLE)
           END AS survival
    FROM km
    """,
)
def q_survival_reorder_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve of time-to-reorder: S(t) = Π(1 − dᵢ/nᵢ)
    over event times, with customers who never reordered right-censored at
    the corpus horizon — they leave the risk set without counting as
    events, which is exactly what a plain average of observed gaps gets
    wrong. One row per event time: at-risk count, events, S(t).

    Determinism: the product-limit runs as exp(Σ ln(1 − d/n)) with each ln
    rounded to 6 into DECIMAL (house libm rule) — the running sum is
    order-defined by the time index, so both engines agree bit-for-bit.

    Scale shape: one window to rank orders per customer, one LEFT
    self-join for the second order, then everything is EVENT-TIME-sized
    (distinct durations): the cumulative at-risk window runs over at most
    |distinct t| rows on one partition — days-sized, not customer-sized.
    The rank-≤2 frame is localCheckpointed (both the first- and
    second-order legs reference it — un-checkpointed, each replays the
    orders window), as is the customer-sized durations frame (referenced
    by the total count and the per-time aggregate)."""
    orders = load_table(spark, sf_dir, "orders")
    wk = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    top2 = (
        orders.select(
            "o_custkey", "o_orderdate", F.row_number().over(wk).alias("rn")
        )
        .filter(F.col("rn") <= 2)
        .transform(materialize)
    )
    f = top2.filter(F.col("rn") == 1).select(
        "o_custkey", F.col("o_orderdate").alias("d1")
    )
    s2 = top2.filter(F.col("rn") == 2).select(
        F.col("o_custkey").alias("ck2"), F.col("o_orderdate").alias("d2")
    )
    hz = orders.agg(F.max("o_orderdate").alias("h"))
    durations = (
        f.join(s2, f.o_custkey == s2.ck2, "left")
        .crossJoin(F.broadcast(hz))
        .select(
            F.when(
                F.col("d2").isNotNull(),
                F.expr("datediff(CAST(d2 AS DATE), CAST(d1 AS DATE))"),
            )
            .otherwise(F.expr("datediff(CAST(h AS DATE), CAST(d1 AS DATE))"))
            .alias("t"),
            F.when(F.col("d2").isNotNull(), 1).otherwise(0).alias("ev"),
        )
        .transform(materialize)
    )
    n_total = durations.agg(F.count("*").alias("n"))
    bytime = durations.groupBy("t").agg(
        F.sum("ev").alias("d"), F.count("*").alias("entering")
    )
    wt = W.orderBy("t").rowsBetween(W.unboundedPreceding, -1)
    risk = bytime.crossJoin(F.broadcast(n_total)).select(
        "t",
        "d",
        (F.col("n") - F.coalesce(F.sum("entering").over(wt), F.lit(0))).alias(
            "n_risk"
        ),
    )
    wcum = W.orderBy("t").rowsBetween(W.unboundedPreceding, 0)
    km = (
        risk.filter(F.col("d") > 0)
        .withColumn(
            "logS",
            F.sum(
                F.when(
                    F.col("d") < F.col("n_risk"),
                    F.round(
                        F.log(1 - F.col("d").cast("double") / F.col("n_risk")),
                        6,
                    ).cast("decimal(20,6)"),
                )
            ).over(wcum),
        )
        .withColumn(
            "died_out", F.when(F.col("d") == F.col("n_risk"), 1).otherwise(0)
        )
    )
    return km.select(
        F.col("t").cast("bigint").alias("t_days"),
        F.col("n_risk").cast("bigint").alias("n_risk"),
        F.col("d").cast("bigint").alias("n_events"),
        F.when(F.col("died_out") == 1, F.lit(0.0))
        .otherwise(F.round(F.exp(F.col("logS").cast("double")), 6))
        .cast("double")
        .alias("survival"),
    )


# ---------------------------------------------------------------------------
# Gains / lift table: score-model evaluation as a query. Score customers by
# a ranking signal (account balance as the stand-in model score), label
# them by recent activity (an order within the final 90 days of the
# corpus), and report per-decile response, cumulative gain and lift — the
# table every targeting/propensity model review starts from.
# ---------------------------------------------------------------------------
GAINS_RECENT_DAYS = 90


@register(
    "q_model_gains_table",
    oracle=f"""
    WITH horizon AS (SELECT MAX(o_orderdate) AS h FROM orders),
    labels AS (
        SELECT c.c_custkey, c.c_acctbal,
               CASE WHEN EXISTS (
                   SELECT 1 FROM orders o, horizon hz
                   WHERE o.o_custkey = c.c_custkey
                     AND o.o_orderdate > hz.h - INTERVAL {GAINS_RECENT_DAYS} DAY
               ) THEN 1 ELSE 0 END AS label
        FROM customer c
    ),
    scored AS (
        SELECT label,
               NTILE(10) OVER (ORDER BY c_acctbal DESC, c_custkey) AS decile
        FROM labels
    ),
    base AS (
        SELECT COUNT(*) AS n_all, SUM(label) AS pos_all FROM scored
    ),
    dec AS (
        SELECT decile, COUNT(*) AS n, SUM(label) AS pos
        FROM scored GROUP BY decile
    )
    SELECT CAST(d.decile AS INT) AS decile,
           CAST(d.n AS BIGINT) AS n_customers,
           CAST(d.pos AS BIGINT) AS n_positive,
           CAST(ROUND(CAST(d.pos AS DOUBLE) / d.n, 6) AS DOUBLE)
               AS response_rate,
           CAST(ROUND(CAST(SUM(d.pos) OVER (ORDER BY d.decile
                    ROWS UNBOUNDED PRECEDING) AS DOUBLE)
                / b.pos_all, 6) AS DOUBLE) AS cumulative_gain,
           CAST(ROUND((CAST(d.pos AS DOUBLE) / d.n)
                / (CAST(b.pos_all AS DOUBLE) / b.n_all), 6) AS DOUBLE)
               AS lift
    FROM dec d CROSS JOIN base b
    """,
)
def q_model_gains_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile gains table for a customer-ranking score: response rate,
    cumulative gain (share of all positives captured through decile k) and
    lift vs the base rate. If the score carries signal the lift is front-
    loaded; a flat ~1.0 column says the score is noise — the go/no-go
    readout for shipping a targeting model.

    Scale shape: the label is one semi-join-shaped EXISTS against the
    orders feed (Spark side: left-semi + coalesce); the decile NTILE is
    TWO-PHASE (plans/ranking.py: distributed range sort +
    broadcast offsets + exact NTILE fill) so no customer-sized frame ever
    crosses an Exchange SinglePartition; the decile aggregate and the
    cumulative window over 10 rows are free."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    hz = orders.agg(F.max("o_orderdate").alias("h"))
    recent = (
        orders.crossJoin(F.broadcast(hz))
        .filter(
            F.expr(f"o_orderdate > h - INTERVAL {GAINS_RECENT_DAYS} DAYS")
        )
        .select(F.col("o_custkey").alias("rk"))
        .distinct()
    )
    labels = cust.join(recent, cust.c_custkey == recent.rk, "left").select(
        "c_custkey",
        "c_acctbal",
        F.when(F.col("rk").isNotNull(), 1).otherwise(0).alias("label"),
    )
    # materialize: the base-rate aggregate and the per-decile aggregate
    # both read the scored frame — un-materialized, each replays the label
    # semi-join + the two-phase rank.
    from csv_parquet_s3_spark.plans.ranking import (
        ntile_from_rn,
        with_global_row_number,
    )

    labels = materialize(labels)
    n_cust = labels.count()
    scored = (
        with_global_row_number(
            labels, [F.desc("c_acctbal"), F.asc("c_custkey")], "__rn"
        )
        .select(
            "label", ntile_from_rn(F.col("__rn"), 10, F.lit(n_cust)).alias("decile")
        )
        .transform(materialize)
    )
    base = scored.agg(
        F.count("*").alias("n_all"), F.sum("label").alias("pos_all")
    )
    dec = scored.groupBy("decile").agg(
        F.count("*").alias("n"), F.sum("label").alias("pos")
    )
    wc = W.orderBy("decile").rowsBetween(W.unboundedPreceding, 0)
    return (
        dec.crossJoin(F.broadcast(base))
        .select(
            F.col("decile").cast("int").alias("decile"),
            F.col("n").cast("bigint").alias("n_customers"),
            F.col("pos").cast("bigint").alias("n_positive"),
            F.round(F.col("pos").cast("double") / F.col("n"), 6)
            .cast("double")
            .alias("response_rate"),
            F.round(
                F.sum("pos").over(wc).cast("double") / F.col("pos_all"), 6
            )
            .cast("double")
            .alias("cumulative_gain"),
            F.round(
                (F.col("pos").cast("double") / F.col("n"))
                / (F.col("pos_all").cast("double") / F.col("n_all")),
                6,
            )
            .cast("double")
            .alias("lift"),
        )
    )
