"""Privacy and data-governance operators: re-identification risk audits and
derandomized differentially-private releases.

Reference scope: SURVEY.md §2.2 — the reference moves and deletes customer
data (`AutoPurge.sql` retention) but has no privacy surface at all; a modern
warehouse that EXPORTS aggregates needs both sides of that coin: measure the
re-identification risk of a candidate quasi-identifier set (k-anonymity),
and release noisy aggregates whose noise is calibrated (DP Laplace
mechanism). The DP noise here is DERANDOMIZED — the Laplace draw comes from
an md5-derived uniform through the inverse CDF, the same discipline as the
Poisson bootstrap in :mod:`statistics` — so the release is reproducible and
hash-checkable while keeping the correct noise DISTRIBUTION across groups.
(A production DP deployment would swap the keyed hash for a secret seed;
the mechanism, sensitivity bound, and plan shape are unchanged.)
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from csv_parquet_s3_spark.operators.dedup import _BLOOM_HEX_INT
from csv_parquet_s3_spark.operators.registry import register
from csv_parquet_s3_spark.sources.tables import load_table

K_ANON = 5  # anonymity threshold: equivalence classes smaller than this leak


@register(
    "q_kanonymity_quasi_id",
    oracle=f"""
    WITH classes AS (
        SELECT c_nationkey, c_mktsegment, COUNT(*) AS group_size
        FROM customer GROUP BY c_nationkey, c_mktsegment
    )
    SELECT CAST(group_size AS BIGINT) AS group_size,
           COUNT(*) AS n_groups,
           CAST(SUM(group_size) AS BIGINT) AS n_customers,
           group_size < {K_ANON} AS at_risk
    FROM classes GROUP BY group_size
    """,
)
def q_kanonymity_quasi_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit of the quasi-identifier pair (nation, market
    segment): the histogram of equivalence-class sizes, with classes
    smaller than k={K_ANON} flagged — those customers are re-identifiable
    by joining public attributes. The go/no-go a governance gate runs
    before approving an export; generalization (coarser nation → region)
    or suppression must push every class over k.

    Scale shape: one keyed aggregate over the quasi-identifier (map-side
    combined), then a classes-sized histogram aggregate — audit cost is a
    single pass regardless of table size."""
    cust = load_table(spark, sf_dir, "customer")
    classes = cust.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count("*").alias("group_size")
    )
    return classes.groupBy("group_size").agg(
        F.count("*").alias("n_groups"),
        F.sum("group_size").cast("bigint").alias("n_customers"),
        (F.col("group_size") < K_ANON).alias("at_risk"),
    ).select(
        F.col("group_size").cast("bigint").alias("group_size"),
        "n_groups",
        "n_customers",
        "at_risk",
    )


DP_EPSILON = 1.0  # privacy budget; counting query sensitivity = 1

# Seed for the derandomized Laplace draw. With the default (public) seed the
# noise is a recomputable function of the released group key, so the release
# demonstrates the MECHANISM but carries no real privacy guarantee — which is
# why the output column is ``nominal_epsilon``, not ``epsilon``. In production, set SPARK_GRAFT_DP_SEED to a secret held by the
# release authority: the mechanism, sensitivity bound, and plan shape are
# unchanged, and the ε guarantee then holds against anyone without the seed.
#
# The seed is interpolated into BOTH engines' SQL, so it is validated to a
# quote-free charset (a seed containing a quote or backslash would break —
# or inject into — both queries). And because the ORACLE string is baked into the registry at import, the operator re-reads
# the env at call time and fails LOUDLY if the seed changed after import
# (the two sides would otherwise silently diverge into a hash mismatch).
_DP_SEED_RE = re.compile(r"^[A-Za-z0-9_.:-]{1,128}$")


def _dp_seed() -> str:
    seed = os.environ.get("SPARK_GRAFT_DP_SEED", "public-demo-seed")
    if not _DP_SEED_RE.match(seed):
        raise ValueError(
            "SPARK_GRAFT_DP_SEED must match [A-Za-z0-9_.:-]{1,128} — it is "
            "interpolated into SQL on both engines"
        )
    return seed


DP_SEED = _dp_seed()


def _lap_expr(u: str) -> str:
    """Inverse-CDF Laplace(b=1/eps) noise from a uniform ``u`` in (0,1):
    x = -b·sign(u-0.5)·ln(1-2|u-0.5|). The ln is rounded to 6 digits
    (house libm rule) so both engines agree bit-for-bit."""
    b = 1.0 / DP_EPSILON
    return (
        f"CASE WHEN {u} >= 0.5 THEN -{b} * ROUND(LN(1 - 2 * ({u} - 0.5)), 6)"
        f" ELSE {b} * ROUND(LN(1 - 2 * (0.5 - {u})), 6) END"
    )


def _dp_oracle() -> str:
    h = f"md5('{DP_SEED}' || ':dp:' || n_name)"
    u = f"((CAST({_BLOOM_HEX_INT.format(h=h)} AS DOUBLE) + 0.5) / {16 ** 8})"
    return f"""
    WITH counts AS (
        SELECT n.n_name, COUNT(*) AS c
        FROM orders o
        JOIN customer cu ON cu.c_custkey = o.o_custkey
        JOIN nation n ON n.n_nationkey = cu.c_nationkey
        GROUP BY n.n_name
    )
    SELECT n_name,
           CAST(ROUND(c + ({_lap_expr(u)}), 4) AS DOUBLE) AS noisy_count,
           CAST({DP_EPSILON!r} AS DOUBLE) AS nominal_epsilon
    FROM counts
    """


@register("q_dp_noisy_counts_by_nation", oracle=_dp_oracle())
def q_dp_noisy_counts_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ε-differentially-private order counts per nation via the Laplace
    mechanism: count + Laplace(Δ/ε) with sensitivity Δ=1 (one customer's
    orders change one count by a bounded amount per-group here; a user-level
    guarantee would first cap orders per customer — the composition is
    noted, not hidden). Noise is drawn through the inverse CDF from a
    seeded md5 uniform, so the release replays identically on every
    engine — the reproducibility a DP audit trail needs. The ε column is
    named ``nominal_epsilon`` because with the default PUBLIC seed anyone
    can recompute and subtract the noise; the guarantee becomes real only
    when SPARK_GRAFT_DP_SEED is a secret (see DP_SEED above).

    Scale shape: the count aggregate is the only data-sized pass; noise is
    one codegen'd expression per GROUP (25 rows), not per row. The exact
    count never leaves the plan."""
    if _dp_seed() != DP_SEED:
        raise RuntimeError(
            "SPARK_GRAFT_DP_SEED changed after import: the registered oracle "
            "was baked with the import-time seed, so the release would "
            "silently diverge from its audit replay. Restart the session "
            "(or re-import the operators package) with the new seed."
        )
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    counts = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(F.count("*").alias("c"))
    )
    h = f"md5(cast(concat('{DP_SEED}', ':dp:', n_name) as binary))"
    u = f"((CAST({_BLOOM_HEX_INT.format(h=h)} AS DOUBLE) + 0.5) / {16 ** 8})"
    return counts.select(
        "n_name",
        F.expr(f"CAST(ROUND(c + ({_lap_expr(u)}), 4) AS DOUBLE)").alias(
            "noisy_count"
        ),
        F.lit(DP_EPSILON).cast("double").alias("nominal_epsilon"),
    )
