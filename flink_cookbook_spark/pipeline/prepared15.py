"""Fifteenth (final) round-7 batch of round-8-prepared operators:
long-range dependence, control charts, tail risk, and rank
correlation.

Same contract as ``prepared.py``. The Hurst
exponent detects long-range dependence that ACF's fixed lags miss
(H > 0.5 means shocks persist — exactly when the reference's
z-score alerting over-fires); the Western Electric rules are the
classical control-chart discipline the reference's monitoring domain
comes from; VaR/CVaR are the tail-risk numbers a revenue stream is
judged by; Kendall's tau is the rank-robust sibling of
``crosscorr_daily_series``'s Pearson co-movement.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flink_cookbook_spark.catalog import load
from flink_cookbook_spark.registry import register, rnd


# --------------------------------------------------------------------------
# 1. Hurst exponent via rescaled-range (R/S) analysis
# --------------------------------------------------------------------------

#: block sizes (hours) for the R/S regression.
HURST_BLOCKS = (8, 16, 32)


def hurst_exponent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HURST EXPONENT per event type via rescaled-range analysis over
    the hourly mean series: for each block size n, partition the
    series into disjoint n-blocks, compute each block's rescaled range
    R/S (range of the cumulative mean-deviation over the block's
    stddev), average per size, and fit log(R/S) ~ log(n) — the slope
    is H. H near 0.5 = memoryless; H > 0.5 = persistent long memory
    (the regime where trailing z-score alerting systematically
    over-fires); H < 0.5 = mean-reverting. Complements
    ``autocorrelation`` (fixed lags) with the scaling-law view.

    Scale shape: the corpus reduces to (key, hour) means first; block
    stats are hash aggs over (key, size, block) with the in-block
    cumulative deviation one bounded keyed window; the final fit is a
    per-key 3-point regression."""
    ev = load(spark, sf_dir, "events")
    sec = F.col("ts").cast("double")
    hourly = (
        ev.select(
            "event_type", (F.floor(sec / 3600)).cast("long").alias("h"), "value"
        )
        .groupBy("event_type", "h")
        .agg(F.avg("value").alias("v"))
    )
    wk = Window.partitionBy("event_type").orderBy("h")
    indexed = hourly.select(
        "event_type", "v", (F.row_number().over(wk) - 1).alias("i")
    )
    fanned = indexed.select(
        "event_type",
        "v",
        "i",
        F.explode(
            F.array(*[F.lit(n) for n in HURST_BLOCKS])
        ).alias("bs"),
    ).select(
        "event_type",
        "v",
        "bs",
        F.floor(F.col("i") / F.col("bs")).alias("blk"),
        "i",
    )
    wb = (
        Window.partitionBy("event_type", "bs", "blk")
        .orderBy("i")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wball = Window.partitionBy("event_type", "bs", "blk")
    # cumulative deviation from the block mean; complete blocks only
    cum = fanned.select(
        "event_type",
        "bs",
        "blk",
        F.count("*").over(wball).alias("nb"),
        (
            F.sum("v").over(wb)
            - F.count("*").over(wb) * F.avg("v").over(wball)
        ).alias("dev"),
        F.stddev_samp("v").over(wball).alias("s"),
    ).where(F.col("nb") == F.col("bs"))
    rs = (
        cum.groupBy("event_type", "bs", "blk")
        .agg(
            ((F.max("dev") - F.min("dev")) / F.max("s")).alias("rs_blk"),
            F.max("s").alias("s_blk"),
        )
        .where(F.col("s_blk") > 0)
        .groupBy("event_type", "bs")
        .agg(F.avg("rs_blk").alias("rs"), F.count("*").alias("n_blocks"))
    )
    x = F.log(F.col("bs").cast("double"))
    y = F.log(F.col("rs"))
    fit = rs.groupBy("event_type").agg(
        F.count("*").cast("double").alias("m"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * y).alias("sxy"),
        F.sum(x * x).alias("sxx"),
        F.sum("n_blocks").alias("total_blocks"),
    )
    h_est = F.when(
        F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx") > 0,
        (F.col("m") * F.col("sxy") - F.col("sx") * F.col("sy"))
        / (F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx")),
    )
    return fit.select(
        "event_type",
        F.col("total_blocks").cast("long").alias("n_blocks"),
        rnd(h_est, 4).alias("hurst_h"),
        F.when(h_est > 0.55, "persistent")
        .when(h_est < 0.45, "mean_reverting")
        .otherwise("memoryless")
        .alias("regime"),
    )


_HURST_ORACLE = f"""
WITH hourly AS (
  SELECT event_type, CAST(floor(epoch(ts) / 3600) AS BIGINT) AS h,
         avg(value) AS v
  FROM events GROUP BY 1, 2
),
indexed AS (
  SELECT event_type, v,
         row_number() OVER (PARTITION BY event_type ORDER BY h) - 1 AS i
  FROM hourly
),
fanned AS (
  SELECT ix.event_type, ix.v, t.bs,
         CAST(floor(ix.i / t.bs) AS BIGINT) AS blk, ix.i
  FROM indexed ix CROSS JOIN
       (VALUES {", ".join(f"({n})" for n in HURST_BLOCKS)}) t(bs)
),
cum AS (
  SELECT event_type, bs, blk,
         count(*) OVER (PARTITION BY event_type, bs, blk) AS nb,
         sum(v) OVER (PARTITION BY event_type, bs, blk ORDER BY i
                      ROWS UNBOUNDED PRECEDING)
           - (row_number() OVER (PARTITION BY event_type, bs, blk ORDER BY i))
             * avg(v) OVER (PARTITION BY event_type, bs, blk) AS dev,
         stddev_samp(v) OVER (PARTITION BY event_type, bs, blk) AS s
  FROM fanned
),
rs AS (
  SELECT event_type, bs, avg(rs_blk) AS rs, count(*) AS n_blocks
  FROM (
    SELECT event_type, bs, blk,
           (max(dev) - min(dev)) / max(s) AS rs_blk, max(s) AS s_blk
    FROM cum WHERE nb = bs GROUP BY 1, 2, 3
  ) WHERE s_blk > 0
  GROUP BY 1, 2
),
fit AS (
  SELECT event_type,
         CAST(count(*) AS DOUBLE) AS m,
         sum(ln(CAST(bs AS DOUBLE))) AS sx,
         sum(ln(rs)) AS sy,
         sum(ln(CAST(bs AS DOUBLE)) * ln(rs)) AS sxy,
         sum(ln(CAST(bs AS DOUBLE)) * ln(CAST(bs AS DOUBLE))) AS sxx,
         CAST(sum(n_blocks) AS BIGINT) AS total_blocks
  FROM rs GROUP BY event_type
)
SELECT event_type, total_blocks AS n_blocks,
       round(CASE WHEN m * sxx - sx * sx > 0
                  THEN (m * sxy - sx * sy) / (m * sxx - sx * sx) END
             + 1e-6, 4) AS hurst_h,
       CASE WHEN (m * sxy - sx * sy) / (m * sxx - sx * sx) > 0.55
              THEN 'persistent'
            WHEN (m * sxy - sx * sy) / (m * sxx - sx * sx) < 0.45
              THEN 'mean_reverting'
            ELSE 'memoryless' END AS regime
FROM fit
"""


# --------------------------------------------------------------------------
# 2. Western Electric control-chart rules
# --------------------------------------------------------------------------

def western_electric_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WESTERN ELECTRIC CONTROL-CHART RULES per event type over the
    hourly mean series: rule 1 (a point beyond 3 sigma of the key's
    center line) and rule 4 (nine consecutive points on the same side
    of center) — the classical SPC discipline the reference's
    z-score alerting descends from, with the run-based rule catching
    small sustained shifts 3-sigma alone misses. Reports per key the
    violation counts and the share of in-control hours.

    Scale shape: center/sigma are one per-key aggregate joined back
    (bounded); the consecutive-run rule is one keyed ordered window
    (9-row frame sum); the summary is a per-key reduce."""
    ev = load(spark, sf_dir, "events")
    sec = F.col("ts").cast("double")
    hourly = (
        ev.select(
            "event_type", (F.floor(sec / 3600)).cast("long").alias("h"), "value"
        )
        .groupBy("event_type", "h")
        .agg(F.avg("value").alias("v"))
    )
    center = hourly.groupBy("event_type").agg(
        F.avg("v").alias("cl"), F.stddev_samp("v").alias("sig")
    )
    j = hourly.join(center, "event_type")
    side = F.when(F.col("v") > F.col("cl"), 1).otherwise(-1)
    w9 = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(-8, 0)
    )
    flagged = j.select(
        "event_type",
        "h",
        (F.abs(F.col("v") - F.col("cl")) > 3.0 * F.col("sig")).cast(
            "int"
        ).alias("r1"),
        (
            (F.abs(F.sum(side).over(w9)) == 9)
            & (F.count("*").over(w9) == 9)
        ).cast("int").alias("r4"),
    )
    return flagged.groupBy("event_type").agg(
        F.count("*").alias("n_hours"),
        F.sum("r1").cast("long").alias("rule1_beyond_3sigma"),
        F.sum("r4").cast("long").alias("rule4_nine_one_side"),
        rnd(
            1.0
            - F.sum(
                F.greatest(F.col("r1"), F.col("r4")).cast("double")
            )
            / F.count("*"),
            6,
        ).alias("in_control_share"),
    )


_WE_ORACLE = """
WITH hourly AS (
  SELECT event_type, CAST(floor(epoch(ts) / 3600) AS BIGINT) AS h,
         avg(value) AS v
  FROM events GROUP BY 1, 2
),
center AS (
  SELECT event_type, avg(v) AS cl, stddev_samp(v) AS sig
  FROM hourly GROUP BY event_type
),
flagged AS (
  SELECT j.event_type, j.h,
         CASE WHEN abs(j.v - c.cl) > 3.0 * c.sig THEN 1 ELSE 0 END AS r1,
         CASE WHEN abs(sum(CASE WHEN j.v > c.cl THEN 1 ELSE -1 END)
                        OVER (PARTITION BY j.event_type ORDER BY j.h
                              ROWS BETWEEN 8 PRECEDING AND CURRENT ROW)) = 9
                   AND count(*) OVER (PARTITION BY j.event_type ORDER BY j.h
                              ROWS BETWEEN 8 PRECEDING AND CURRENT ROW) = 9
              THEN 1 ELSE 0 END AS r4
  FROM hourly j JOIN center c ON j.event_type = c.event_type
)
SELECT event_type, count(*) AS n_hours,
       CAST(sum(r1) AS BIGINT) AS rule1_beyond_3sigma,
       CAST(sum(r4) AS BIGINT) AS rule4_nine_one_side,
       round(1.0 - sum(CAST(greatest(r1, r4) AS DOUBLE)) / count(*)
             + 1e-6, 6) AS in_control_share
FROM flagged GROUP BY event_type
"""


# --------------------------------------------------------------------------
# 3. value-at-risk / conditional VaR of daily revenue changes
# --------------------------------------------------------------------------

#: VaR confidence level (share of days the loss should NOT exceed VaR).
VAR_LEVEL = 0.95


def value_at_risk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VALUE-AT-RISK of the daily purchase-revenue CHANGE: the
    5th-percentile daily drop (discrete order statistic — the
    cross-engine percentile discipline) and the conditional VaR (mean
    of the drops at or beyond VaR) — the tail-risk pair that mean-and-
    sigma monitoring cannot see (a fat lower tail hides inside a calm
    sigma). One row, in revenue units.

    Scale shape: the corpus reduces to one row per day, diffs are one
    lag window over the bounded daily series, and the discrete
    order-statistic pick is a rank-limited window."""
    ev = load(spark, sf_dir, "events")
    day = F.floor(F.col("ts").cast("double") / 86400).cast("long")
    # round-12: daily revenue is an extensive money sum (whole corpus
    # into ~a-month of days) — DECIMAL discipline; the day-over-day
    # diff is exact decimal subtraction cast to double (exact below
    # 2^53), so the order statistic ranks identical values in both
    # engines at any scale
    daily = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy(day.alias("day"))
        .agg(F.sum(F.col("value").cast("decimal(14,2)")).alias("rev"))
    )
    wd = Window.orderBy("day")
    diffs = daily.select(
        (F.col("rev") - F.lag("rev").over(wd)).cast("double").alias("chg")
    ).where(F.col("chg").isNotNull())
    wrank = Window.orderBy("chg")
    wt = Window.partitionBy()
    ranked = diffs.select(
        "chg",
        F.row_number().over(wrank).alias("rn"),
        F.count("*").over(wt).alias("n"),
    )
    # discrete index: ceil((1 - level) * n) >= 1
    idx = F.greatest(
        F.lit(1), F.ceil((1.0 - VAR_LEVEL) * F.col("n"))
    )
    var_row = ranked.where(F.col("rn") == idx).select(
        F.col("chg").alias("var_raw"), "n"
    )
    cvar = (
        ranked.join(F.broadcast(var_row.select("var_raw")), how="cross")
        .where(F.col("chg") <= F.col("var_raw"))
        .agg(F.avg("chg").alias("cvar_raw"), F.count("*").alias("n_tail"))
    )
    return var_row.crossJoin(F.broadcast(cvar)).select(
        F.col("n").alias("n_days"),
        rnd(F.lit(VAR_LEVEL), 2).alias("level"),
        rnd("var_raw", 2).alias("var_daily_change"),
        rnd("cvar_raw", 2).alias("cvar_daily_change"),
        "n_tail",
    )


_VAR_ORACLE = f"""
WITH daily AS (
  SELECT CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day,
         sum(CAST(value AS DECIMAL(14,2))) AS rev
  FROM events WHERE event_type = 'purchase' GROUP BY 1
),
diffs AS (
  SELECT chg FROM (
    SELECT CAST(rev - lag(rev) OVER (ORDER BY day) AS DOUBLE) AS chg
    FROM daily
  ) WHERE chg IS NOT NULL
),
ranked AS (
  SELECT chg, row_number() OVER (ORDER BY chg) AS rn, count(*) OVER () AS n
  FROM diffs
),
var_row AS (
  SELECT chg AS var_raw, n FROM ranked
  WHERE rn = greatest(1, CAST(ceil((1.0 - {VAR_LEVEL}) * n) AS BIGINT))
),
cvar AS (
  SELECT avg(r.chg) AS cvar_raw, count(*) AS n_tail
  FROM ranked r CROSS JOIN var_row v
  WHERE r.chg <= v.var_raw
)
SELECT v.n AS n_days,
       round({VAR_LEVEL} + 1e-6, 2) AS level,
       round(v.var_raw + 1e-6, 2) AS var_daily_change,
       round(c.cvar_raw + 1e-6, 2) AS cvar_daily_change,
       c.n_tail
FROM var_row v CROSS JOIN cvar c
"""


# --------------------------------------------------------------------------
# 4. Kendall's tau rank correlation of the daily series
# --------------------------------------------------------------------------

def kendall_tau_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KENDALL'S TAU between the daily click and purchase volumes:
    concordant-minus-discordant day pairs over all C(n,2) pairs
    (tau-a; ties count neither way) — the rank-robust sibling of
    ``crosscorr_daily_series``'s Pearson co-movement: outlier days
    cannot drag it, only the ORDER of days matters. Quadratic only in
    the bounded daily-series length (30 days -> 435 pairs).

    Scale shape: corpus -> one row per day, one bounded self-join on
    the day-pair grid, one 1-row aggregate."""
    ev = load(spark, sf_dir, "events")
    day = F.floor(F.col("ts").cast("double") / 86400).cast("long")
    daily = ev.groupBy(day.alias("day")).agg(
        F.sum((F.col("event_type") == "click").cast("long")).alias("x"),
        F.sum((F.col("event_type") == "purchase").cast("long")).alias("y"),
    )
    a = daily.select(
        F.col("day").alias("d1"), F.col("x").alias("x1"), F.col("y").alias("y1")
    )
    b = daily.select(
        F.col("day").alias("d2"), F.col("x").alias("x2"), F.col("y").alias("y2")
    )
    # calendar-bounded side (one row per day) broadcast for the
    # non-equi pair join — never a plain cartesian
    pairs = a.join(F.broadcast(b), a.d1 < b.d2)
    sgn = F.signum((F.col("x2") - F.col("x1")) * (F.col("y2") - F.col("y1")))
    agg = pairs.agg(
        F.count("*").alias("n_pairs"),
        F.sum((sgn > 0).cast("long")).alias("concordant"),
        F.sum((sgn < 0).cast("long")).alias("discordant"),
    )
    tau = (F.col("concordant") - F.col("discordant")) / F.col(
        "n_pairs"
    ).cast("double")
    return agg.select(
        "n_pairs",
        "concordant",
        "discordant",
        rnd(tau, 6).alias("kendall_tau"),
    )


_KENDALL_ORACLE = """
WITH daily AS (
  SELECT CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day,
         CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
              AS BIGINT) AS x,
         CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS y
  FROM events GROUP BY 1
),
pairs AS (
  SELECT a.x AS x1, a.y AS y1, b.x AS x2, b.y AS y2
  FROM daily a JOIN daily b ON a.day < b.day
),
agg AS (
  SELECT count(*) AS n_pairs,
         CAST(sum(CASE WHEN (x2 - x1) * (y2 - y1) > 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS concordant,
         CAST(sum(CASE WHEN (x2 - x1) * (y2 - y1) < 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS discordant
  FROM pairs
)
SELECT n_pairs, concordant, discordant,
       round((concordant - discordant) / CAST(n_pairs AS DOUBLE) + 1e-6, 6)
         AS kendall_tau
FROM agg
"""


register("hurst_exponent", oracle=_HURST_ORACLE, tags=("prepared-r8",))(hurst_exponent)
register("western_electric_rules", oracle=_WE_ORACLE,
         tags=("prepared-r8",))(western_electric_rules)
register("value_at_risk", oracle=_VAR_ORACLE, tags=("prepared-r8",))(value_at_risk)
register("kendall_tau_daily", oracle=_KENDALL_ORACLE,
         tags=("prepared-r8",))(kendall_tau_daily)
