"""Tenth round-7 batch of round-8-prepared operators: distributional
distance, a trained-and-evaluated model baseline, and causal hygiene.

Same contract as ``prepared.py``. Wasserstein-1
completes the drift-distance battery (PSI sees binned mass, KS the
worst point, W1 the INTEGRATED shift — it keeps ordering information
the other two discard); the logistic baseline is the engine's first
trained-then-scored model with an in-plan evaluation (unrolled
full-batch gradient descent, the Lloyd-k-means discipline, finished
with a rank-based AUC); the SMD table is the covariate-balance check
every experiment readout should print before anyone believes a lift.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flink_cookbook_spark.catalog import load
from flink_cookbook_spark.registry import register, rnd

#: first-half/second-half split shared with the other drift tests.
SPLIT_EPOCH_S = 1705363200


# --------------------------------------------------------------------------
# 1. Wasserstein-1 (earth-mover) drift distance
# --------------------------------------------------------------------------

def wasserstein_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WASSERSTEIN-1 DRIFT per event type between the month's halves:
    the earth-mover distance computed as the integral of |ECDF_a -
    ECDF_b| over the binned value axis (unit-width bins, so the sum of
    per-bin CDF gaps IS the integral). Completes the drift battery:
    PSI weighs binned mass shifts, KS takes the single worst CDF gap,
    W1 integrates the gap — so a small-but-everywhere shift that KS
    underrates and a far-but-tiny mass move that PSI underrates both
    register, in the metric's own units.

    Scale shape: identical to ``ks_test_drift`` — one combinable hash
    agg to unit bins, one bounded per-key window, one final agg. The
    bin width (1.0) multiplies each gap, so the result converges to
    the true W1 as finely as the binning allows."""
    ev = load(spark, sf_dir, "events")
    sec = F.col("ts").cast("double")
    binned = ev.groupBy(
        F.col("event_type"),
        F.floor("value").cast("long").alias("bin"),
    ).agg(
        F.sum((sec < SPLIT_EPOCH_S).cast("long")).alias("n_a"),
        F.sum((sec >= SPLIT_EPOCH_S).cast("long")).alias("n_b"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    tot = Window.partitionBy("event_type")
    cdf = binned.select(
        "event_type",
        (F.sum("n_a").over(w) / F.sum("n_a").over(tot)).alias("cdf_a"),
        (F.sum("n_b").over(w) / F.sum("n_b").over(tot)).alias("cdf_b"),
        F.sum("n_a").over(tot).alias("tot_a"),
        F.sum("n_b").over(tot).alias("tot_b"),
    )
    return cdf.groupBy("event_type").agg(
        F.max("tot_a").alias("n_a"),
        F.max("tot_b").alias("n_b"),
        rnd(
            F.sum(F.abs(F.col("cdf_a") - F.col("cdf_b"))), 4
        ).alias("wasserstein_1"),
    )


_W1_ORACLE = f"""
WITH binned AS (
  SELECT event_type, CAST(floor(value) AS BIGINT) AS bin,
         CAST(sum(CASE WHEN epoch(ts) < {SPLIT_EPOCH_S} THEN 1 ELSE 0 END)
              AS BIGINT) AS n_a,
         CAST(sum(CASE WHEN epoch(ts) >= {SPLIT_EPOCH_S} THEN 1 ELSE 0 END)
              AS BIGINT) AS n_b
  FROM events GROUP BY 1, 2
),
cdf AS (
  SELECT event_type,
         CAST(sum(n_a) OVER (PARTITION BY event_type ORDER BY bin
                             ROWS UNBOUNDED PRECEDING) AS DOUBLE)
           / sum(n_a) OVER (PARTITION BY event_type) AS cdf_a,
         CAST(sum(n_b) OVER (PARTITION BY event_type ORDER BY bin
                             ROWS UNBOUNDED PRECEDING) AS DOUBLE)
           / sum(n_b) OVER (PARTITION BY event_type) AS cdf_b,
         CAST(sum(n_a) OVER (PARTITION BY event_type) AS BIGINT) AS tot_a,
         CAST(sum(n_b) OVER (PARTITION BY event_type) AS BIGINT) AS tot_b
  FROM binned
)
SELECT event_type, max(tot_a) AS n_a, max(tot_b) AS n_b,
       round(sum(abs(cdf_a - cdf_b)) + 1e-6, 4) AS wasserstein_1
FROM cdf GROUP BY event_type
"""


# --------------------------------------------------------------------------
# 2. logistic-regression conversion baseline with AUC
# --------------------------------------------------------------------------

LOGIT_ITERS = 5  #: full-batch gradient steps
LOGIT_LR = 1.0  #: learning rate
LOGIT_CONVERT_VALUE = 90.0  #: conversion predicate threshold
LOGIT_AUC_BINS = 1_000_000  #: fixed score-histogram grid for the binned AUC
#  1e-6-wide cells: the binned AUC is an APPROXIMATION of the exact
#  Mann-Whitney value — distinct scores landing in the same cell are
#  counted as ties (half-credit), a coarsening that grows with score
#  density (the 1e-6 grid is 1000x coarser than the 9-dp score
#  rounding, so at high cardinality real orderings inside a cell are
#  lost). Engine-vs-oracle parity is unaffected: both sides bin on the
#  identical grid. The histogram stays bounded by the grid (and in
#  practice by the distinct-score count), never by user cardinality.


def _user_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(user_id, x1=ln(1+events), x2=mean value/100, y=converted)."""
    ev = load(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.log(1.0 + F.count("*")).alias("x1"),
        (F.avg("value") / 100.0).alias("x2"),
        F.max(
            (
                (F.col("event_type") == "purchase")
                & (F.col("value") > LOGIT_CONVERT_VALUE)
            ).cast("int")
        ).alias("y"),
    )


def logistic_churn_baseline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAINED + EVALUATED MODEL BASELINE: full-batch gradient descent
    for logistic regression of conversion on two user features
    (activity volume, mean metric), unrolled for ``LOGIT_ITERS`` fixed
    steps from zero init — the Lloyd-k-means discipline applied to a
    supervised model, so an ITERATIVE trainer gets a full value-hash
    oracle. The fit finishes with a BINNED Mann-Whitney AUC computed
    in-plan over a fixed ``LOGIT_AUC_BINS``-cell score histogram
    (within-bin positive/negative ties counted half), making this the
    engine's first train-and-evaluate loop: coefficient recovery AND
    ranking quality, both driver-checkable.

    Scale shape: each step is ONE combinable aggregate producing the
    3-scalar mean gradient (the only driver state — the k-means
    centroid contract); scoring is zero-shuffle arithmetic; the AUC
    reduces the corpus to a <= ``LOGIT_AUC_BINS``-row histogram in one
    combinable aggregate, and the only ordered window runs over that
    BOUNDED histogram — never a user-cardinality sort (the global
    score-midrank window this replaces was the engine's last
    single-partition sort at entity cardinality). Scores are rounded
    to 9 dp before binning, so the bin index is the same integer on
    both engines despite 1e-15 gradient-sum divergence."""
    feats = _user_features(spark, sf_dir).persist()
    w0 = w1 = w2 = 0.0
    try:
        for _ in range(LOGIT_ITERS):
            z = w0 + w1 * F.col("x1") + w2 * F.col("x2")
            p = 1.0 / (1.0 + F.exp(-z))
            r = F.col("y") - p
            [g] = feats.agg(
                F.avg(r).alias("g0"),
                F.avg(r * F.col("x1")).alias("g1"),
                F.avg(r * F.col("x2")).alias("g2"),
            ).collect()
            w0 += LOGIT_LR * g.g0
            w1 += LOGIT_LR * g.g1
            w2 += LOGIT_LR * g.g2
        z = w0 + w1 * F.col("x1") + w2 * F.col("x2")
        scored = feats.select(
            "y", F.round(1.0 / (1.0 + F.exp(-z)), 9).alias("s")
        )
        b = F.least(
            F.floor(F.col("s") * LOGIT_AUC_BINS), F.lit(LOGIT_AUC_BINS - 1)
        ).cast("long")
        hist = scored.groupBy(b.alias("bin")).agg(
            F.count("*").alias("n"),
            F.sum("y").cast("long").alias("np"),
        )
        w_below = Window.orderBy("bin").rowsBetween(
            Window.unboundedPreceding, -1
        )
        cum = hist.select(
            "n",
            "np",
            F.coalesce(
                F.sum(F.col("n") - F.col("np")).over(w_below), F.lit(0)
            ).alias("neg_below"),
        )
        agg = cum.agg(
            F.sum("n").alias("n_users"),
            F.sum("np").alias("n_pos"),
            F.sum(
                F.col("np").cast("double")
                * (
                    F.col("neg_below").cast("double")
                    + (F.col("n") - F.col("np")).cast("double") / 2.0
                )
            ).alias("u_stat"),
        )
        n1 = F.col("n_pos").cast("double")
        n0 = (F.col("n_users") - F.col("n_pos")).cast("double")
        auc = F.when((n1 > 0) & (n0 > 0), F.col("u_stat") / (n1 * n0))
        return agg.select(
            "n_users",
            "n_pos",
            rnd(F.lit(w0), 6).alias("w_intercept"),
            rnd(F.lit(w1), 6).alias("w_log_events"),
            rnd(F.lit(w2), 6).alias("w_mean_value"),
            rnd(auc, 6).alias("auc"),
        )
    finally:
        feats.unpersist()


def _logit_oracle() -> str:
    # unroll the gradient steps as CTEs w0..w{n}: each wi holds the
    # three coefficients; the next step's gradient references them.
    steps = ["w0 AS (SELECT 0.0 AS b0, 0.0 AS b1, 0.0 AS b2)"]
    for i in range(LOGIT_ITERS):
        prev = f"w{i}"
        steps.append(f"""w{i + 1} AS (
  SELECT {prev}.b0 + {LOGIT_LR} * avg(f.y - 1.0 / (1.0 + exp(-({prev}.b0
           + {prev}.b1 * f.x1 + {prev}.b2 * f.x2)))) AS b0,
         {prev}.b1 + {LOGIT_LR} * avg((f.y - 1.0 / (1.0 + exp(-({prev}.b0
           + {prev}.b1 * f.x1 + {prev}.b2 * f.x2)))) * f.x1) AS b1,
         {prev}.b2 + {LOGIT_LR} * avg((f.y - 1.0 / (1.0 + exp(-({prev}.b0
           + {prev}.b1 * f.x1 + {prev}.b2 * f.x2)))) * f.x2) AS b2
  FROM feats f CROSS JOIN {prev}
  GROUP BY {prev}.b0, {prev}.b1, {prev}.b2
)""")
    final = f"w{LOGIT_ITERS}"
    chain = ",\n".join(steps)
    return f"""
WITH feats AS (
  SELECT user_id,
         ln(1.0 + count(*)) AS x1,
         avg(value) / 100.0 AS x2,
         max(CASE WHEN event_type = 'purchase'
                       AND value > {LOGIT_CONVERT_VALUE}
                  THEN 1 ELSE 0 END) AS y
  FROM events GROUP BY user_id
),
{chain},
scored AS (
  SELECT f.y,
         round(1.0 / (1.0 + exp(-(w.b0 + w.b1 * f.x1 + w.b2 * f.x2))), 9) AS s
  FROM feats f CROSS JOIN {final} w
),
hist AS (
  SELECT CAST(least(floor(s * {LOGIT_AUC_BINS}), {LOGIT_AUC_BINS - 1})
              AS BIGINT) AS bin,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(y) AS BIGINT) AS np
  FROM scored GROUP BY 1
),
cum AS (
  SELECT n, np,
         COALESCE(sum(n - np) OVER (ORDER BY bin
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS neg_below
  FROM hist
),
agg AS (
  SELECT CAST(sum(n) AS BIGINT) AS n_users,
         CAST(sum(np) AS BIGINT) AS n_pos,
         sum(CAST(np AS DOUBLE)
             * (CAST(neg_below AS DOUBLE)
                + CAST(n - np AS DOUBLE) / 2.0)) AS u_stat
  FROM cum
)
SELECT a.n_users, a.n_pos,
       round(w.b0 + 1e-6, 6) AS w_intercept,
       round(w.b1 + 1e-6, 6) AS w_log_events,
       round(w.b2 + 1e-6, 6) AS w_mean_value,
       round(CASE WHEN a.n_pos > 0 AND a.n_users > a.n_pos
                  THEN a.u_stat
                       / (CAST(a.n_pos AS DOUBLE)
                          * (a.n_users - a.n_pos)) END + 1e-6, 6) AS auc
FROM agg a CROSS JOIN {final} w
"""


# --------------------------------------------------------------------------
# 3. covariate balance (standardized mean differences)
# --------------------------------------------------------------------------

#: |SMD| above this flags imbalance (the conventional 0.1 rule).
SMD_FLAG = 0.1


def covariate_balance_smd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COVARIATE BALANCE between the A/B arms: standardized mean
    difference ``(mean_b - mean_a) / sqrt((var_a + var_b) / 2)`` for
    each pre-treatment user feature (activity volume, mean metric,
    active days), with the conventional |SMD| > 0.1 imbalance flag —
    the table a reviewer checks BEFORE believing ``ab_conversion_
    lift``: arms that differ on covariates confound the lift. All
    features always emit.

    Scale shape: one keyed aggregate to per-user features, one
    per-arm moment aggregate, and a 3-row in-plan feature unpivot."""
    ev = load(spark, sf_dir, "events")
    feats = ev.groupBy("user_id").agg(
        F.count("*").cast("double").alias("n_events"),
        F.avg("value").alias("mean_value"),
        F.countDistinct(
            F.floor(F.col("ts").cast("double") / 86400)
        ).cast("double").alias("active_days"),
    ).withColumn("arm", (F.col("user_id") % 2).cast("int"))
    stacked = feats.select(
        "arm",
        F.expr(
            "stack(3, 'n_events', n_events, 'mean_value', mean_value, "
            "'active_days', active_days) as (feature, v)"
        ),
    )
    arms = stacked.groupBy("feature", "arm").agg(
        F.count("*").alias("n"),
        F.avg("v").alias("m"),
        F.var_samp("v").alias("s2"),
    )
    one = arms.groupBy("feature").agg(
        F.max(F.when(F.col("arm") == 0, F.col("m"))).alias("mean_a"),
        F.max(F.when(F.col("arm") == 1, F.col("m"))).alias("mean_b"),
        F.max(F.when(F.col("arm") == 0, F.col("s2"))).alias("v_a"),
        F.max(F.when(F.col("arm") == 1, F.col("s2"))).alias("v_b"),
    )
    smd = F.when(
        (F.col("v_a") + F.col("v_b")) > 0,
        (F.col("mean_b") - F.col("mean_a"))
        / F.sqrt((F.col("v_a") + F.col("v_b")) / 2.0),
    )
    return one.select(
        "feature",
        rnd("mean_a", 4).alias("mean_a"),
        rnd("mean_b", 4).alias("mean_b"),
        rnd(smd, 4).alias("smd"),
        (F.abs(smd) > SMD_FLAG).alias("imbalanced"),
    )


_SMD_ORACLE = f"""
WITH feats AS (
  SELECT user_id, user_id % 2 AS arm,
         CAST(count(*) AS DOUBLE) AS n_events,
         avg(value) AS mean_value,
         CAST(count(DISTINCT CAST(floor(epoch(ts) / 86400) AS BIGINT))
              AS DOUBLE) AS active_days
  FROM events GROUP BY user_id
),
stacked AS (
  SELECT arm, 'n_events' AS feature, n_events AS v FROM feats
  UNION ALL
  SELECT arm, 'mean_value', mean_value FROM feats
  UNION ALL
  SELECT arm, 'active_days', active_days FROM feats
),
arms AS (
  SELECT feature, arm, count(*) AS n, avg(v) AS m, var_samp(v) AS s2
  FROM stacked GROUP BY 1, 2
),
one AS (
  SELECT feature,
         max(CASE WHEN arm = 0 THEN m END) AS mean_a,
         max(CASE WHEN arm = 1 THEN m END) AS mean_b,
         max(CASE WHEN arm = 0 THEN s2 END) AS v_a,
         max(CASE WHEN arm = 1 THEN s2 END) AS v_b
  FROM arms GROUP BY feature
)
SELECT feature,
       round(mean_a + 1e-6, 4) AS mean_a,
       round(mean_b + 1e-6, 4) AS mean_b,
       round(CASE WHEN v_a + v_b > 0
                  THEN (mean_b - mean_a) / sqrt((v_a + v_b) / 2.0) END
             + 1e-6, 4) AS smd,
       abs(CASE WHEN v_a + v_b > 0
                THEN (mean_b - mean_a) / sqrt((v_a + v_b) / 2.0) END)
         > {SMD_FLAG} AS imbalanced
FROM one
"""


register("wasserstein_drift", oracle=_W1_ORACLE,
         tags=("prepared-r8",))(wasserstein_drift)
register("logistic_churn_baseline", oracle=_logit_oracle(),
         tags=("prepared-r8",))(logistic_churn_baseline)
register("covariate_balance_smd", oracle=_SMD_ORACLE,
         tags=("prepared-r8",))(covariate_balance_smd)
