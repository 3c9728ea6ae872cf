"""Eighth round-7 batch of round-8-prepared operators: experiment
design and population estimation.

Same contract as ``prepared.py``. These three
close the experimentation loop the engine's test operators opened:
``ab_conversion_lift`` reports whether an effect was detected,
``ab_power_analysis`` says what sample the NEXT experiment needs,
``sprt_sequential_test`` is the always-valid sequential monitor that
ends experiments early, and ``capture_recapture_estimate`` is the
classic two-window population estimator (how many users exist that we
have only partially observed — the coverage question every event
pipeline eventually asks of itself).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flink_cookbook_spark.catalog import load
from flink_cookbook_spark.registry import register, rnd

#: conversion predicate shared with ab_conversion_lift's shape: a user
#: converts when any purchase exceeds this metric value.
POWER_CONVERT_VALUE = 90.0

#: absolute minimum-detectable-effect grid for the power table.
POWER_MDES = (0.01, 0.02, 0.05)

#: two-sided alpha=0.05 and power=0.80 normal quantiles.
Z_ALPHA_2 = 1.959964
Z_BETA = 0.841621


# --------------------------------------------------------------------------
# 1. A/B sample-size / power analysis
# --------------------------------------------------------------------------

def ab_power_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POWER ANALYSIS for the next experiment: given the observed
    baseline conversion rate, the required per-arm sample size to
    detect each absolute lift in ``POWER_MDES`` at alpha=0.05 /
    power=0.80 (the standard two-proportion formula
    ``(z_a*sqrt(2*p*q) + z_b*sqrt(p*q + p'*q'))^2 / mde^2``), next to
    the arm size actually available — the "can we even run this test?"
    table that should precede every ``ab_conversion_lift`` readout.
    All MDE rows always emit.

    Scale shape: one keyed aggregate to per-user flags, one 1-row
    rate aggregate, and the closed-form math fanned over a constant
    in-plan MDE list."""
    ev = load(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.max(
            (
                (F.col("event_type") == "purchase")
                & (F.col("value") > POWER_CONVERT_VALUE)
            ).cast("int")
        ).alias("converted")
    )
    base = per_user.agg(
        F.count("*").alias("n_users"),
        (F.sum("converted") / F.count("*")).alias("p_base"),
    )
    fanned = base.select(
        "n_users",
        "p_base",
        F.explode(
            F.array(*[F.lit(m) for m in POWER_MDES])
        ).alias("mde"),
    )
    p = F.col("p_base")
    q = 1.0 - p
    p2 = F.least(p + F.col("mde"), F.lit(0.999999))
    q2 = 1.0 - p2
    n_req = F.ceil(
        F.pow(
            Z_ALPHA_2 * F.sqrt(2.0 * p * q) + Z_BETA * F.sqrt(p * q + p2 * q2),
            2.0,
        )
        / (F.col("mde") * F.col("mde"))
    )
    avail = F.floor(F.col("n_users") / 2)
    return fanned.select(
        rnd("mde", 2).alias("mde_abs"),
        rnd(p, 6).alias("p_base"),
        n_req.alias("n_required_per_arm"),
        avail.alias("n_available_per_arm"),
        (avail >= n_req).alias("powered"),
    )


_POWER_ORACLE = f"""
WITH per_user AS (
  SELECT user_id,
         max(CASE WHEN event_type = 'purchase' AND value > {POWER_CONVERT_VALUE}
                  THEN 1 ELSE 0 END) AS converted
  FROM events GROUP BY user_id
),
base AS (
  SELECT count(*) AS n_users,
         sum(converted) / CAST(count(*) AS DOUBLE) AS p_base
  FROM per_user
),
fanned AS (
  SELECT b.n_users, b.p_base, t.mde
  FROM base b CROSS JOIN
       (VALUES {", ".join(f"(CAST({m!r} AS DOUBLE))" for m in POWER_MDES)}) t(mde)
)
SELECT round(mde + 1e-6, 2) AS mde_abs,
       round(p_base + 1e-6, 6) AS p_base,
       CAST(ceil(pow({Z_ALPHA_2} * sqrt(2.0 * p_base * (1.0 - p_base))
                     + {Z_BETA} * sqrt(p_base * (1.0 - p_base)
                         + least(p_base + mde, 0.999999)
                           * (1.0 - least(p_base + mde, 0.999999))), 2.0)
                 / (mde * mde)) AS BIGINT) AS n_required_per_arm,
       CAST(floor(n_users / 2.0) AS BIGINT) AS n_available_per_arm,
       CAST(floor(n_users / 2.0) AS BIGINT)
         >= CAST(ceil(pow({Z_ALPHA_2} * sqrt(2.0 * p_base * (1.0 - p_base))
                     + {Z_BETA} * sqrt(p_base * (1.0 - p_base)
                         + least(p_base + mde, 0.999999)
                           * (1.0 - least(p_base + mde, 0.999999))), 2.0)
                 / (mde * mde)) AS BIGINT) AS powered
FROM fanned
"""


# --------------------------------------------------------------------------
# 2. SPRT sequential test over the user conversion stream
# --------------------------------------------------------------------------

SPRT_P0 = 0.10  #: null conversion rate
SPRT_P1 = 0.15  #: alternative conversion rate
SPRT_ALPHA = 0.05
SPRT_BETA = 0.05


def sprt_sequential_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WALD'S SPRT over the user-conversion stream: cumulative
    log-likelihood ratio of H1 (p=``SPRT_P1``) vs H0 (p=``SPRT_P0``)
    in user first-seen order, with the classic decision boundaries
    ``ln((1-b)/a)`` / ``ln(b/(1-a))`` — the sequential monitor that
    stops an experiment the moment the evidence suffices instead of
    waiting for a fixed horizon. Reports the first boundary crossing
    (or 'continue') plus the final LLR. Naturally a streaming
    computation; this is its deterministic batch replay.

    Scale shape: one keyed aggregate to per-user (first_ts, converted),
    one ordered cumulative window (the sequential order IS the
    operator's semantics), one rank-limited first-crossing pick."""
    ev = load(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.min(F.col("ts").cast("double")).alias("first_ts"),
        F.max(
            (
                (F.col("event_type") == "purchase")
                & (F.col("value") > POWER_CONVERT_VALUE)
            ).cast("int")
        ).alias("x"),
    )
    import math

    l1 = math.log(SPRT_P1 / SPRT_P0)
    l0 = math.log((1.0 - SPRT_P1) / (1.0 - SPRT_P0))
    upper = math.log((1.0 - SPRT_BETA) / SPRT_ALPHA)
    lower = math.log(SPRT_BETA / (1.0 - SPRT_ALPHA))
    wo = Window.orderBy("first_ts", "user_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    llr = F.sum(
        F.col("x") * l1 + (1 - F.col("x")) * l0
    ).over(wo)
    seq = per_user.select(
        F.row_number()
        .over(Window.orderBy("first_ts", "user_id"))
        .alias("n"),
        llr.alias("llr"),
    )
    crossing = (
        seq.where((F.col("llr") >= upper) | (F.col("llr") <= lower))
        .orderBy("n")
        .limit(1)
        .select(
            F.col("n").alias("decided_at_n"),
            F.when(F.col("llr") >= upper, "accept_h1")
            .otherwise("accept_h0")
            .alias("decision"),
        )
    )
    final = seq.orderBy(F.col("n").desc()).limit(1).select(
        F.col("n").alias("n_total"), F.col("llr").alias("llr_final")
    )
    out = final.crossJoin(F.broadcast(crossing))
    # LEFT-ish semantics: if no crossing, emit 'continue' with NULL n.
    # crossJoin of an empty 1-row side would drop the row, so union the
    # no-crossing shape and keep the first (crossing wins when present).
    no_cross = final.select(
        "n_total",
        "llr_final",
        F.lit(None).cast("int").alias("decided_at_n"),
        F.lit("continue").alias("decision"),
    )
    merged = out.select(
        "n_total", "llr_final", "decided_at_n", "decision"
    ).unionAll(no_cross)
    w1 = Window.orderBy(F.col("decided_at_n").asc_nulls_last())
    return (
        merged.withColumn("rk", F.row_number().over(w1))
        .where(F.col("rk") == 1)
        .select(
            "n_total",
            rnd("llr_final", 4).alias("llr_final"),
            "decided_at_n",
            "decision",
            rnd(F.lit(upper), 4).alias("upper_bound"),
            rnd(F.lit(lower), 4).alias("lower_bound"),
        )
    )


def _sprt_oracle() -> str:
    import math

    l1 = math.log(SPRT_P1 / SPRT_P0)
    l0 = math.log((1.0 - SPRT_P1) / (1.0 - SPRT_P0))
    upper = math.log((1.0 - SPRT_BETA) / SPRT_ALPHA)
    lower = math.log(SPRT_BETA / (1.0 - SPRT_ALPHA))
    return f"""
WITH per_user AS (
  SELECT user_id, min(epoch(ts)) AS first_ts,
         max(CASE WHEN event_type = 'purchase' AND value > {POWER_CONVERT_VALUE}
                  THEN 1 ELSE 0 END) AS x
  FROM events GROUP BY user_id
),
seq AS (
  SELECT row_number() OVER (ORDER BY first_ts, user_id) AS n,
         sum(x * {l1!r} + (1 - x) * {l0!r})
           OVER (ORDER BY first_ts, user_id ROWS UNBOUNDED PRECEDING) AS llr
  FROM per_user
),
crossing AS (
  SELECT n AS decided_at_n,
         CASE WHEN llr >= {upper!r} THEN 'accept_h1'
              ELSE 'accept_h0' END AS decision
  FROM seq WHERE llr >= {upper!r} OR llr <= {lower!r}
  ORDER BY n LIMIT 1
),
final AS (
  SELECT CAST(max(n) AS BIGINT) AS n_total,
         arg_max(llr, n) AS llr_final
  FROM seq
)
SELECT f.n_total,
       round(f.llr_final + 1e-6, 4) AS llr_final,
       CAST(c.decided_at_n AS INTEGER) AS decided_at_n,
       COALESCE(c.decision, 'continue') AS decision,
       round({upper!r} + 1e-6, 4) AS upper_bound,
       round({lower!r} + 1e-6, 4) AS lower_bound
FROM final f LEFT JOIN crossing c ON true
"""


# --------------------------------------------------------------------------
# 3. capture-recapture (Chapman) population estimate
# --------------------------------------------------------------------------

#: the two observation windows (epoch seconds): week 1 and week 2 of
#: the fixture month.
CR_W1_END = 1704067200 + 7 * 86400
CR_W2_END = 1704067200 + 14 * 86400


def capture_recapture_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CAPTURE-RECAPTURE population estimate (Chapman's bias-corrected
    Lincoln-Petersen): treat week-1 actives as the marked sample and
    week-2 actives as the recapture sample; the overlap yields
    ``(n1+1)(n2+1)/(m+1) - 1`` — an estimate of the ACTIVE POPULATION
    including users the pipeline never observed in either window. The
    coverage self-audit ("how much are we not seeing?") next to the
    fully-observed month truth so the estimator's error is itself
    hash-checked.

    Scale shape: one keyed aggregate computes both window flags per
    user; every statistic reduces from that single pass (no joins, no
    second scan)."""
    ev = load(spark, sf_dir, "events")
    sec = F.col("ts").cast("double")
    per_user = ev.groupBy("user_id").agg(
        F.max((sec < CR_W1_END).cast("int")).alias("w1"),
        F.max(
            ((sec >= CR_W1_END) & (sec < CR_W2_END)).cast("int")
        ).alias("w2"),
    )
    agg = per_user.agg(
        F.count("*").alias("n_month"),
        F.sum("w1").cast("long").alias("n1"),
        F.sum("w2").cast("long").alias("n2"),
        F.sum((F.col("w1") * F.col("w2")).cast("long")).alias("m_recaptured"),
    )
    chapman = (
        (F.col("n1") + 1.0) * (F.col("n2") + 1.0) / (F.col("m_recaptured") + 1.0)
        - 1.0
    )
    return agg.select(
        "n1",
        "n2",
        "m_recaptured",
        rnd(chapman, 2).alias("chapman_estimate"),
        "n_month",
        rnd(chapman / F.col("n_month"), 4).alias("estimate_over_truth"),
    )


_CR_ORACLE = f"""
WITH per_user AS (
  SELECT user_id,
         max(CASE WHEN epoch(ts) < {CR_W1_END} THEN 1 ELSE 0 END) AS w1,
         max(CASE WHEN epoch(ts) >= {CR_W1_END} AND epoch(ts) < {CR_W2_END}
                  THEN 1 ELSE 0 END) AS w2
  FROM events GROUP BY user_id
),
agg AS (
  SELECT count(*) AS n_month,
         CAST(sum(w1) AS BIGINT) AS n1,
         CAST(sum(w2) AS BIGINT) AS n2,
         CAST(sum(w1 * w2) AS BIGINT) AS m_recaptured
  FROM per_user
)
SELECT n1, n2, m_recaptured,
       round((n1 + 1.0) * (n2 + 1.0) / (m_recaptured + 1.0) - 1.0 + 1e-6, 2)
         AS chapman_estimate,
       n_month,
       round(((n1 + 1.0) * (n2 + 1.0) / (m_recaptured + 1.0) - 1.0)
             / n_month + 1e-6, 4) AS estimate_over_truth
FROM agg
"""


register("ab_power_analysis", oracle=_POWER_ORACLE,
         tags=("prepared-r8",))(ab_power_analysis)
register("sprt_sequential_test", oracle=_sprt_oracle(),
         tags=("prepared-r8",))(sprt_sequential_test)
register("capture_recapture_estimate", oracle=_CR_ORACLE,
         tags=("prepared-r8",))(capture_recapture_estimate)
