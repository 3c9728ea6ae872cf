"""Second batch of operators prepared in round 7 for round-8 registration.

Same contract as ``prepared.py``: every query registers with
``register(...)`` as a complete (query fn, DuckDB oracle) pair held to
the driver-identical comparison by tests/test_oracle.py.

This batch covers the classical statistical-testing surface a data
platform bolts onto the warehouse — two-sample drift tests, contingency
association, correlation analysis, A/B lift — i.e. the "is this slice
different?" questions that follow every PSI/KL drift alarm the engine
already raises (``psi_value_drift``, ``source_kl_divergence``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flink_cookbook_spark.catalog import load
from flink_cookbook_spark.registry import register, rnd


# --------------------------------------------------------------------------
# 1. two-sample Kolmogorov-Smirnov drift test (binned ECDF)
# --------------------------------------------------------------------------

#: epoch-second boundary splitting the fixture month in half
#: (2024-01-16 00:00 UTC); at production scale this is "reference
#: window vs current window".
KS_SPLIT_EPOCH_S = 1705363200

#: KS critical-value coefficient at alpha = 0.05 (two-sided).
KS_C_ALPHA_95 = 1.358


def ks_test_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample KOLMOGOROV-SMIRNOV drift test per event type: D =
    max |ECDF_first_half(v) - ECDF_second_half(v)| of the metric
    distribution, with the alpha=0.05 critical value
    ``c(a) * sqrt((n1+n2)/(n1*n2))`` and a drift verdict. The
    distribution-shape complement to the engine's PSI (binned mass
    shift) and KL (per-source mix) drift monitors — KS is what a
    platform reaches for when the metric is continuous and the
    question is "did the whole CDF move?".

    Scale shape: values are binned to unit width FIRST (floor(value)),
    so the per-key ECDF window runs over the bounded bin vocabulary
    (~500 bins), never over raw rows — the standard binned-KS design
    that keeps the sort state constant while the corpus grows 1000x.
    One combinable hash agg + one bounded per-key window.
    """
    ev = load(spark, sf_dir, "events")
    sec = F.col("ts").cast("double")
    binned = ev.groupBy(
        F.col("event_type"),
        F.floor("value").cast("long").alias("bin"),
    ).agg(
        F.sum((sec < KS_SPLIT_EPOCH_S).cast("long")).alias("n_a"),
        F.sum((sec >= KS_SPLIT_EPOCH_S).cast("long")).alias("n_b"),
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
    crit = KS_C_ALPHA_95 * F.sqrt(
        (F.col("n_a") + F.col("n_b")) / (F.col("n_a") * F.col("n_b"))
    )
    return (
        cdf.groupBy("event_type")
        .agg(
            F.max("tot_a").alias("n_a"),
            F.max("tot_b").alias("n_b"),
            F.max(F.abs(F.col("cdf_a") - F.col("cdf_b"))).alias("d_raw"),
        )
        .select(
            "event_type",
            "n_a",
            "n_b",
            rnd("d_raw", 6).alias("ks_d"),
            rnd(crit, 6).alias("ks_crit_95"),
            (F.col("d_raw") > crit).alias("drifted"),
        )
    )


_KS_ORACLE = f"""
WITH binned AS (
  SELECT event_type,
         CAST(floor(value) AS BIGINT) AS bin,
         CAST(sum(CASE WHEN epoch(ts) < {KS_SPLIT_EPOCH_S} THEN 1 ELSE 0 END)
              AS BIGINT) AS n_a,
         CAST(sum(CASE WHEN epoch(ts) >= {KS_SPLIT_EPOCH_S} THEN 1 ELSE 0 END)
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
),
agg AS (
  SELECT event_type, max(tot_a) AS n_a, max(tot_b) AS n_b,
         max(abs(cdf_a - cdf_b)) AS d_raw
  FROM cdf GROUP BY event_type
)
SELECT event_type, n_a, n_b,
       round(d_raw + 1e-6, 6) AS ks_d,
       round({KS_C_ALPHA_95} * sqrt((n_a + n_b) / (CAST(n_a AS DOUBLE) * n_b))
             + 1e-6, 6) AS ks_crit_95,
       d_raw > {KS_C_ALPHA_95} * sqrt((n_a + n_b) / (CAST(n_a AS DOUBLE) * n_b))
         AS drifted
FROM agg
"""


# --------------------------------------------------------------------------
# 2. contingency-table association: chi-square, Cramer's V, mutual info
# --------------------------------------------------------------------------

def contingency_association(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASSOCIATION STRENGTH between event type and day-of-week in one
    contingency pass: Pearson chi-square statistic, Cramer's V (the
    [0,1]-normalized effect size), and mutual information in nats —
    the three numbers that turn "the heatmap looks uneven"
    (``weekday_hour_heatmap``) into a defensible dependence claim.
    Day-of-week is (epoch_days + 4) mod 7 on BOTH engines (Sunday=0).

    Scale shape: one combinable hash aggregate to the 5x7 contingency
    cells; every downstream term (expected counts, chi-square, MI)
    runs over that bounded cell table via windows — the raw corpus is
    scanned exactly once. MI sums only o > 0 cells, sidestepping the
    Spark-ln(0)-is-NULL vs DuckDB-ln(0)-is--inf divergence."""
    ev = load(spark, sf_dir, "events")
    sec = F.col("ts").cast("double")
    dow = ((F.floor(sec / 86400) + 4) % 7).cast("int")
    cells = ev.groupBy(F.col("event_type"), dow.alias("dow")).agg(
        F.count("*").alias("o")
    )
    row_w = Window.partitionBy("event_type")
    col_w = Window.partitionBy("dow")
    all_w = Window.partitionBy()
    with_margins = cells.select(
        "o",
        F.sum("o").over(row_w).alias("rt"),
        F.sum("o").over(col_w).alias("ct"),
        F.sum("o").over(all_w).alias("n"),
        F.size(F.collect_set("event_type").over(all_w)).alias("r"),
        F.size(F.collect_set("dow").over(all_w)).alias("c"),
    )
    e = F.col("rt") * F.col("ct") / F.col("n")
    mi_term = (F.col("o") / F.col("n")) * F.log(
        F.col("o") * F.col("n") / (F.col("rt") * F.col("ct"))
    )
    agg = with_margins.agg(
        F.max("n").alias("n_events"),
        F.max("r").alias("n_types"),
        F.max("c").alias("n_days"),
        F.sum((F.col("o") - e) * (F.col("o") - e) / e).alias("chi2_raw"),
        F.sum(mi_term).alias("mi_raw"),
    )
    v = F.sqrt(
        F.col("chi2_raw")
        / (F.col("n_events") * F.least(F.col("n_types") - 1, F.col("n_days") - 1))
    )
    return agg.select(
        "n_events",
        "n_types",
        "n_days",
        rnd("chi2_raw", 4).alias("chi2"),
        rnd(v, 6).alias("cramers_v"),
        rnd("mi_raw", 6).alias("mutual_info_nats"),
    )


_CONTINGENCY_ORACLE = """
WITH cells AS (
  SELECT event_type,
         CAST((CAST(floor(epoch(ts) / 86400) AS BIGINT) + 4) % 7 AS INTEGER)
           AS dow,
         count(*) AS o
  FROM events GROUP BY 1, 2
),
m AS (
  SELECT o,
         sum(o) OVER (PARTITION BY event_type) AS rt,
         sum(o) OVER (PARTITION BY dow) AS ct,
         sum(o) OVER () AS n,
         (SELECT count(DISTINCT event_type) FROM cells) AS r,
         (SELECT count(DISTINCT dow) FROM cells) AS c
  FROM cells
),
agg AS (
  SELECT CAST(max(n) AS BIGINT) AS n_events,
         CAST(max(r) AS INTEGER) AS n_types,
         CAST(max(c) AS INTEGER) AS n_days,
         sum((o - CAST(rt AS DOUBLE) * ct / n) * (o - CAST(rt AS DOUBLE) * ct / n)
             / (CAST(rt AS DOUBLE) * ct / n)) AS chi2_raw,
         sum((CAST(o AS DOUBLE) / n)
             * ln(CAST(o AS DOUBLE) * n / (CAST(rt AS DOUBLE) * ct))) AS mi_raw
  FROM m
)
SELECT n_events, n_types, n_days,
       round(chi2_raw + 1e-6, 4) AS chi2,
       round(sqrt(chi2_raw / (n_events * least(n_types - 1, n_days - 1)))
             + 1e-6, 6) AS cramers_v,
       round(mi_raw + 1e-6, 6) AS mutual_info_nats
FROM agg
"""


# --------------------------------------------------------------------------
# 3. pairwise correlation matrix over the lineitem measures
# --------------------------------------------------------------------------

#: the measure columns whose pairwise correlations are reported.
CORR_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")


def correlation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PAIRWISE PEARSON CORRELATION matrix (upper triangle) across the
    lineitem measures — the feature-redundancy screen run before any
    modeling on warehouse facts (a |r| near 1 means one column is
    carrying the other's information, e.g. price ~ quantity x unit
    price). Emits one row per unordered column pair.

    Scale shape: ALL six correlations reduce in a single combinable
    aggregate pass over one scan (each ``corr`` is one accumulator
    triple), then unpivot via a 6-row ``stack`` — adding a column pair
    costs an accumulator, not a job."""
    li = load(spark, sf_dir, "lineitem")
    pairs = [
        (a, b) for i, a in enumerate(CORR_COLS) for b in CORR_COLS[i + 1:]
    ]
    agg = li.agg(
        F.count("*").alias("n"),
        *[
            rnd(F.corr(a, b), 6).alias(f"r_{i}")
            for i, (a, b) in enumerate(pairs)
        ],
    )
    stack_expr = "stack({}, {}) as (col_a, col_b, pearson_r)".format(
        len(pairs),
        ", ".join(f"'{a}', '{b}', r_{i}" for i, (a, b) in enumerate(pairs)),
    )
    return agg.select(F.expr(stack_expr), F.col("n").alias("n_rows"))


def _corr_oracle() -> str:
    pairs = [
        (a, b) for i, a in enumerate(CORR_COLS) for b in CORR_COLS[i + 1:]
    ]
    arms = "\n  UNION ALL\n".join(
        f"  SELECT '{a}' AS col_a, '{b}' AS col_b,"
        f" round(corr({a}, {b}) + 1e-6, 6) AS pearson_r,"
        f" count(*) AS n_rows FROM lineitem"
        for a, b in pairs
    )
    return arms


# --------------------------------------------------------------------------
# 4. rolling cross-correlation between two daily event series
# --------------------------------------------------------------------------

#: trailing window length (days) for the rolling correlation.
XCORR_WINDOW_DAYS = 7


def crosscorr_daily_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLING CROSS-CORRELATION between the daily click and purchase
    volumes: 7-day trailing Pearson r from windowed moment sums — the
    co-movement monitor that tells a pipeline whether engagement and
    conversion are still coupled (a decoupling day is a leading
    incident indicator even when each series alone looks healthy).
    Emits only days with a full 7-day window, with r NULL when either
    series is constant in the window (undefined, both engines).

    Scale shape: the corpus reduces to ONE row per day in a combinable
    hash agg; the ordered window runs over that bounded daily series
    (single partition of ~n_days rows — already aggregate-scale, the
    same bounded-series contract as ``holt_linear_forecast``)."""
    ev = load(spark, sf_dir, "events")
    day = (F.floor(F.col("ts").cast("double") / 86400)).cast("long")
    daily = ev.groupBy(day.alias("day")).agg(
        F.sum((F.col("event_type") == "click").cast("long"))
        .cast("double")
        .alias("x"),
        F.sum((F.col("event_type") == "purchase").cast("long"))
        .cast("double")
        .alias("y"),
    )
    w = (
        Window.partitionBy(F.lit(1))
        .orderBy("day")
        .rowsBetween(-(XCORR_WINDOW_DAYS - 1), 0)
    )
    n = F.count("*").over(w).cast("double")
    sx, sy = F.sum("x").over(w), F.sum("y").over(w)
    sxy = F.sum(F.col("x") * F.col("y")).over(w)
    sxx = F.sum(F.col("x") * F.col("x")).over(w)
    syy = F.sum(F.col("y") * F.col("y")).over(w)
    vx = n * sxx - sx * sx
    vy = n * syy - sy * sy
    r = F.when(
        (vx > 0) & (vy > 0),
        (n * sxy - sx * sy) / F.sqrt(vx * vy),
    )
    return (
        daily.select(
            "day",
            F.col("x").cast("long").alias("n_click"),
            F.col("y").cast("long").alias("n_purchase"),
            n.cast("long").alias("window_days"),
            rnd(r, 6).alias("xcorr_7d"),
        )
        .where(F.col("window_days") == XCORR_WINDOW_DAYS)
    )


_XCORR_ORACLE = f"""
WITH daily AS (
  SELECT CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day,
         CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS DOUBLE)
           AS x,
         CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS DOUBLE)
           AS y
  FROM events GROUP BY 1
),
win AS (
  SELECT day, x, y,
         count(*) OVER w AS n,
         sum(x) OVER w AS sx, sum(y) OVER w AS sy,
         sum(x * y) OVER w AS sxy,
         sum(x * x) OVER w AS sxx, sum(y * y) OVER w AS syy
  FROM daily
  WINDOW w AS (ORDER BY day ROWS BETWEEN {XCORR_WINDOW_DAYS - 1} PRECEDING
               AND CURRENT ROW)
)
SELECT day,
       CAST(x AS BIGINT) AS n_click,
       CAST(y AS BIGINT) AS n_purchase,
       CAST(n AS BIGINT) AS window_days,
       round(CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
                  THEN (n * sxy - sx * sy)
                       / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
             END + 1e-6, 6) AS xcorr_7d
FROM win
WHERE n = {XCORR_WINDOW_DAYS}
"""


# --------------------------------------------------------------------------
# 5. A/B conversion lift with a two-proportion z-test
# --------------------------------------------------------------------------

#: a user "converts" when any purchase exceeds this metric value (the
#: fixture's high-value tail; at production scale this is the business
#: conversion predicate).
AB_CONVERT_VALUE = 90.0


def ab_conversion_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B CONVERSION LIFT with a pooled two-proportion z-test: users
    split into arms by id parity (the deterministic stand-in for an
    assignment column), conversion = any purchase above
    ``AB_CONVERT_VALUE``; reports per-arm rates, absolute lift, the
    z statistic, and the alpha=0.05 verdict — the experiment readout
    every growth pipeline computes daily.

    Scale shape: per-user flags reduce in one combinable hash agg
    keyed by user (conversion is MAX over the user's rows — no
    distinct-count), arms reduce over the user table, and the z-test
    math runs on a 1-row aggregate. Two exchanges total, both keyed."""
    ev = load(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.max(
            (
                (F.col("event_type") == "purchase")
                & (F.col("value") > AB_CONVERT_VALUE)
            ).cast("int")
        ).alias("converted")
    )
    arms = per_user.groupBy((F.col("user_id") % 2).alias("arm")).agg(
        F.count("*").alias("n_users"),
        F.sum("converted").alias("n_conv"),
    )
    one = arms.agg(
        F.max(F.when(F.col("arm") == 0, F.col("n_users"))).alias("n_a"),
        F.max(F.when(F.col("arm") == 0, F.col("n_conv"))).alias("c_a"),
        F.max(F.when(F.col("arm") == 1, F.col("n_users"))).alias("n_b"),
        F.max(F.when(F.col("arm") == 1, F.col("n_conv"))).alias("c_b"),
    )
    p_a = F.col("c_a") / F.col("n_a")
    p_b = F.col("c_b") / F.col("n_b")
    pool = (F.col("c_a") + F.col("c_b")) / (F.col("n_a") + F.col("n_b"))
    se = F.sqrt(pool * (1 - pool) * (1.0 / F.col("n_a") + 1.0 / F.col("n_b")))
    z = F.when(se > 0, (p_b - p_a) / se)
    return one.select(
        "n_a",
        "c_a",
        "n_b",
        "c_b",
        rnd(p_a, 6).alias("rate_a"),
        rnd(p_b, 6).alias("rate_b"),
        rnd(p_b - p_a, 6).alias("abs_lift"),
        rnd(z, 4).alias("z_score"),
        (F.abs(z) > 1.96).alias("significant_95"),
    )


_AB_ORACLE = f"""
WITH per_user AS (
  SELECT user_id,
         max(CASE WHEN event_type = 'purchase' AND value > {AB_CONVERT_VALUE}
                  THEN 1 ELSE 0 END) AS converted
  FROM events GROUP BY user_id
),
arms AS (
  SELECT user_id % 2 AS arm, count(*) AS n_users,
         CAST(sum(converted) AS BIGINT) AS n_conv
  FROM per_user GROUP BY 1
),
one AS (
  SELECT max(CASE WHEN arm = 0 THEN n_users END) AS n_a,
         max(CASE WHEN arm = 0 THEN n_conv END) AS c_a,
         max(CASE WHEN arm = 1 THEN n_users END) AS n_b,
         max(CASE WHEN arm = 1 THEN n_conv END) AS c_b
  FROM arms
),
stats AS (
  SELECT n_a, c_a, n_b, c_b,
         CAST(c_a AS DOUBLE) / n_a AS p_a,
         CAST(c_b AS DOUBLE) / n_b AS p_b,
         CAST(c_a + c_b AS DOUBLE) / (n_a + n_b) AS pool
  FROM one
),
z AS (
  SELECT *,
         CASE WHEN sqrt(pool * (1 - pool) * (1.0 / n_a + 1.0 / n_b)) > 0
              THEN (p_b - p_a)
                   / sqrt(pool * (1 - pool) * (1.0 / n_a + 1.0 / n_b))
         END AS zr
  FROM stats
)
SELECT n_a, c_a, n_b, c_b,
       round(p_a + 1e-6, 6) AS rate_a,
       round(p_b + 1e-6, 6) AS rate_b,
       round(p_b - p_a + 1e-6, 6) AS abs_lift,
       round(zr + 1e-6, 4) AS z_score,
       abs(zr) > 1.96 AS significant_95
FROM z
"""


register("ks_test_drift", oracle=_KS_ORACLE, tags=("prepared-r8",))(ks_test_drift)
register("contingency_association", oracle=_CONTINGENCY_ORACLE,
         tags=("prepared-r8",))(contingency_association)
register("correlation_matrix", oracle=_corr_oracle(),
         tags=("prepared-r8",))(correlation_matrix)
register("crosscorr_daily_series", oracle=_XCORR_ORACLE,
         tags=("prepared-r8",))(crosscorr_daily_series)
register("ab_conversion_lift", oracle=_AB_ORACLE,
         tags=("prepared-r8",))(ab_conversion_lift)
