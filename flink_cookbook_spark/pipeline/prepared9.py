"""Ninth round-7 batch of round-8-prepared operators: multiple-testing
control, admission control, classifier agreement, and extreme values.

Same contract as ``prepared.py``. The FDR scan
is the missing discipline on top of the engine's per-segment tests
(run 35 z-tests a day and alpha=0.05 hands you ~2 false alarms daily —
Benjamini-Hochberg is how a platform reports segment shifts without
crying wolf); the token-bucket replay audits rate-limiting policy
against real traffic; Cohen's kappa collapses the language confusion
matrix into the chance-corrected agreement number; the Gumbel return
levels answer capacity planning's "what daily maximum should we
expect once a month / once a year?".
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flink_cookbook_spark.catalog import load
from flink_cookbook_spark.registry import register, rnd

#: first-half/second-half split shared with the other drift tests.
SPLIT_EPOCH_S = 1705363200


def _phi_upper(z):
    """Two-sided normal p-value 2*(1 - Phi(|z|)) via the Zelen-Severo
    polynomial (A&S 26.2.17) — spelled out with plain arithmetic so the
    DuckDB twin computes bit-near-identical doubles."""
    az = F.abs(z)
    t = 1.0 / (1.0 + 0.2316419 * az)
    pdf = F.exp(-az * az / 2.0) / math.sqrt(2.0 * math.pi)
    poly = t * (
        0.319381530
        + t * (-0.356563782 + t * (1.781477937 + t * (-1.821255978 + t * 1.330274429)))
    )
    return 2.0 * pdf * poly


_PHI_SQL = (
    "2.0 * (exp(-abs({z}) * abs({z}) / 2.0) / sqrt(2.0 * pi())) "
    "* ((1.0 / (1.0 + 0.2316419 * abs({z}))) * (0.319381530 "
    "+ (1.0 / (1.0 + 0.2316419 * abs({z}))) * (-0.356563782 "
    "+ (1.0 / (1.0 + 0.2316419 * abs({z}))) * (1.781477937 "
    "+ (1.0 / (1.0 + 0.2316419 * abs({z}))) * (-1.821255978 "
    "+ (1.0 / (1.0 + 0.2316419 * abs({z}))) * 1.330274429)))))"
)

#: Benjamini-Hochberg false-discovery rate.
FDR_Q = 0.10


# --------------------------------------------------------------------------
# 1. FDR-controlled segment shift scan (Benjamini-Hochberg)
# --------------------------------------------------------------------------

def fdr_segment_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEGMENT SHIFT SCAN WITH FDR CONTROL: for every (event type x
    day-of-week) segment, a two-sample z-test of the metric mean
    between the month's halves; the 35 p-values then pass through
    Benjamini-Hochberg at q=``FDR_Q`` — the multiple-testing
    discipline that separates "5 segments shifted" from "we ran 35
    tests and alpha did its thing". Reports each segment's z, p, BH
    critical value, and the final reject flag.

    Scale shape: one combinable hash agg computes each segment's
    per-half moments; the test + p-value is per-row closed-form math;
    the BH step is two window passes over the bounded segment table.
    The normal CDF uses the same explicit polynomial on both engines
    (no erf dependency)."""
    ev = load(spark, sf_dir, "events")
    sec = F.col("ts").cast("double")
    dow = ((F.floor(sec / 86400) + 4) % 7).cast("int")
    is_a = (sec < SPLIT_EPOCH_S).cast("int")
    seg = ev.groupBy("event_type", dow.alias("dow")).agg(
        F.sum(is_a).cast("long").alias("n_a"),
        F.sum(1 - is_a).cast("long").alias("n_b"),
        F.sum(F.col("value") * is_a).alias("s_a"),
        F.sum(F.col("value") * (1 - is_a)).alias("s_b"),
        F.sum(F.col("value") * F.col("value") * is_a).alias("ss_a"),
        F.sum(F.col("value") * F.col("value") * (1 - is_a)).alias("ss_b"),
    ).where((F.col("n_a") >= 2) & (F.col("n_b") >= 2))
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    ma, mb = F.col("s_a") / na, F.col("s_b") / nb
    va = (F.col("ss_a") - F.col("s_a") * F.col("s_a") / na) / (na - 1.0)
    vb = (F.col("ss_b") - F.col("s_b") * F.col("s_b") / nb) / (nb - 1.0)
    z = (mb - ma) / F.sqrt(va / na + vb / nb)
    tested = seg.select(
        "event_type",
        "dow",
        "n_a",
        "n_b",
        z.alias("z_raw"),
        F.least(_phi_upper(z), F.lit(1.0)).alias("p_raw"),
    )
    wp = Window.orderBy("p_raw", "event_type", "dow")
    wm = Window.partitionBy()
    ranked = tested.select(
        "*",
        F.row_number().over(wp).alias("i"),
        F.count("*").over(wm).alias("m"),
    ).withColumn(
        "crit", F.col("i").cast("double") / F.col("m") * FDR_Q
    )
    pstar = ranked.select(
        "*",
        F.max(
            F.when(F.col("p_raw") <= F.col("crit"), F.col("p_raw"))
        ).over(wm).alias("p_star"),
    )
    return pstar.select(
        "event_type",
        "dow",
        "n_a",
        "n_b",
        rnd("z_raw", 4).alias("z_score"),
        rnd("p_raw", 6).alias("p_value"),
        rnd("crit", 6).alias("bh_critical"),
        F.coalesce(
            F.col("p_raw") <= F.col("p_star"), F.lit(False)
        ).alias("rejected"),
    )


_FDR_ORACLE = f"""
WITH seg AS (
  SELECT event_type,
         CAST((CAST(floor(epoch(ts) / 86400) AS BIGINT) + 4) % 7 AS INTEGER)
           AS dow,
         CAST(sum(CASE WHEN epoch(ts) < {SPLIT_EPOCH_S} THEN 1 ELSE 0 END)
              AS BIGINT) AS n_a,
         CAST(sum(CASE WHEN epoch(ts) < {SPLIT_EPOCH_S} THEN 0 ELSE 1 END)
              AS BIGINT) AS n_b,
         sum(value * CASE WHEN epoch(ts) < {SPLIT_EPOCH_S} THEN 1 ELSE 0 END)
           AS s_a,
         sum(value * CASE WHEN epoch(ts) < {SPLIT_EPOCH_S} THEN 0 ELSE 1 END)
           AS s_b,
         sum(value * value
             * CASE WHEN epoch(ts) < {SPLIT_EPOCH_S} THEN 1 ELSE 0 END) AS ss_a,
         sum(value * value
             * CASE WHEN epoch(ts) < {SPLIT_EPOCH_S} THEN 0 ELSE 1 END) AS ss_b
  FROM events GROUP BY 1, 2
  HAVING n_a >= 2 AND n_b >= 2
),
tested AS (
  SELECT event_type, dow, n_a, n_b,
         (s_b / n_b - s_a / n_a)
           / sqrt(((ss_a - s_a * s_a / n_a) / (n_a - 1.0)) / n_a
                  + ((ss_b - s_b * s_b / n_b) / (n_b - 1.0)) / n_b) AS z_raw
  FROM seg
),
withp AS (
  SELECT *, least({_PHI_SQL.format(z="z_raw")}, 1.0) AS p_raw FROM tested
),
ranked AS (
  SELECT *,
         row_number() OVER (ORDER BY p_raw, event_type, dow) AS i,
         count(*) OVER () AS m
  FROM withp
),
crits AS (
  SELECT *, CAST(i AS DOUBLE) / m * {FDR_Q} AS crit FROM ranked
),
pstar AS (
  SELECT *,
         max(CASE WHEN p_raw <= crit THEN p_raw END) OVER () AS p_star
  FROM crits
)
SELECT event_type, dow, n_a, n_b,
       round(z_raw + 1e-6, 4) AS z_score,
       round(p_raw + 1e-6, 6) AS p_value,
       round(crit + 1e-6, 6) AS bh_critical,
       COALESCE(p_raw <= p_star, false) AS rejected
FROM pstar
"""


# --------------------------------------------------------------------------
# 2. token-bucket rate-limit replay
# --------------------------------------------------------------------------

RL_BURST = 3.0  #: bucket capacity (tokens)
RL_REFILL_S = 60.0  #: seconds to refill one token


def rate_limit_simulation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOKEN-BUCKET RATE-LIMIT REPLAY: run each user-day's event
    sequence through a token bucket (capacity ``RL_BURST``, one token
    per ``RL_REFILL_S`` seconds) and report how many requests the
    policy WOULD have throttled — the offline audit every admission-
    control change runs against real traffic before shipping. Emits
    only user-days the policy touches plus a deterministic sample of
    clean days (none at the shipped sizes — the aggregate keeps all
    days so zero-throttle days still appear).

    Scale shape: per-(user, day) event times collect into a bounded
    in-day array (the A3 bounded-state contract) and fold through the
    bucket recurrence in a codegen'd ``aggregate``; the DuckDB twin
    replays the identical fold with a RECURSIVE CTE (the
    ``holt_linear_forecast`` discipline — never list_reduce)."""
    ev = load(spark, sf_dir, "events")
    sec = F.col("ts").cast("double")
    day = F.floor(sec / 86400).cast("long")
    series = (
        ev.select("user_id", day.alias("day"), sec.alias("t"))
        .groupBy("user_id", "day")
        .agg(F.array_sort(F.collect_list("t")).alias("tv"))
    )
    b, r = RL_BURST, RL_REFILL_S
    # acc: (tok, last, thr); refill then admit-or-throttle
    tok_after = (
        f"least({b}D, acc.tok + (x - acc.last) / {r}D)"
    )
    fold = (
        f"aggregate(slice(tv, 2, size(tv) - 1), "
        f"named_struct('tok', {b - 1.0}D, 'last', element_at(tv, 1), "
        f"'thr', 0L), "
        f"(acc, x) -> named_struct("
        f"'tok', CASE WHEN {tok_after} >= 1.0D THEN {tok_after} - 1.0D "
        f"ELSE {tok_after} END, "
        f"'last', x, "
        f"'thr', acc.thr + CASE WHEN {tok_after} >= 1.0D THEN 0L ELSE 1L END))"
    )
    return (
        series.withColumn("st", F.expr(fold))
        .select(
            "user_id",
            "day",
            F.size("tv").alias("n_requests"),
            F.col("st.thr").alias("n_throttled"),
            rnd(F.col("st.thr") / F.size("tv").cast("double"), 4).alias(
                "throttle_share"
            ),
        )
    )


def _rl_oracle() -> str:
    b, r = RL_BURST, RL_REFILL_S
    tok_after = f"least({b}, tok + (tv[i + 1] - last) / {r})"
    return f"""
WITH RECURSIVE series AS (
  SELECT user_id, CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day,
         list(epoch(ts) ORDER BY epoch(ts)) AS tv
  FROM events GROUP BY 1, 2
),
steps AS (
  SELECT user_id, day, tv, 1 AS i,
         CAST({b - 1.0} AS DOUBLE) AS tok,
         CAST(tv[1] AS DOUBLE) AS last,
         CAST(0 AS BIGINT) AS thr
  FROM series
  UNION ALL
  SELECT user_id, day, tv, i + 1,
         CASE WHEN {tok_after} >= 1.0 THEN {tok_after} - 1.0
              ELSE {tok_after} END,
         tv[i + 1],
         thr + CASE WHEN {tok_after} >= 1.0 THEN 0 ELSE 1 END
  FROM steps WHERE i < len(tv)
)
SELECT user_id, day,
       CAST(len(tv) AS INTEGER) AS n_requests,
       thr AS n_throttled,
       round(thr / CAST(len(tv) AS DOUBLE) + 1e-6, 4) AS throttle_share
FROM steps WHERE i = len(tv)
"""


# --------------------------------------------------------------------------
# 3. Cohen's kappa for the language-ID heuristic
# --------------------------------------------------------------------------

def lang_id_agreement_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COHEN'S KAPPA between the declared language (collapsed to the
    classifier's {en, other} label space) and the marker-token
    language-ID prediction — the chance-corrected scalar the
    ``lang_confusion_matrix`` table rolls up to. Raw agreement flatters
    a classifier when one class dominates; kappa subtracts exactly the
    agreement the marginals would produce by luck.

    Scale shape: composes the per-doc classifier (zero-shuffle
    codegen) with one 1-row aggregate — marginal products come from
    the same pass via conditional sums."""
    from flink_cookbook_spark.pipeline.text import lang_id_heuristic

    per_doc = lang_id_heuristic(spark, sf_dir).select(
        F.when(F.col("declared_lang") == "en", "en")
        .otherwise("other")
        .alias("a"),
        F.col("predicted_lang").alias("b"),
    )
    agg = per_doc.agg(
        F.count("*").alias("n_docs"),
        F.sum((F.col("a") == F.col("b")).cast("long")).alias("n_agree"),
        F.sum((F.col("a") == "en").cast("long")).alias("a_en"),
        F.sum((F.col("b") == "en").cast("long")).alias("b_en"),
    )
    n = F.col("n_docs").cast("double")
    po = F.col("n_agree") / n
    pe = (F.col("a_en") / n) * (F.col("b_en") / n) + (
        1.0 - F.col("a_en") / n
    ) * (1.0 - F.col("b_en") / n)
    kappa = F.when(pe < 1.0, (po - pe) / (1.0 - pe))
    return agg.select(
        "n_docs",
        "n_agree",
        rnd(po, 6).alias("observed_agreement"),
        rnd(pe, 6).alias("chance_agreement"),
        rnd(kappa, 6).alias("cohens_kappa"),
    )


def _kappa_oracle() -> str:
    from flink_cookbook_spark.pipeline.text import STOPWORDS

    stop_in = ", ".join(f"'{s}'" for s in STOPWORDS)
    return f"""
WITH per_doc AS (
  SELECT CASE WHEN lang = 'en' THEN 'en' ELSE 'other' END AS a,
         CASE WHEN len(list_filter(string_split(text, ' '),
                                   t -> t IN ({stop_in})))
                   / CAST(len(string_split(text, ' ')) AS DOUBLE) >= 0.05
              THEN 'en' ELSE 'other' END AS b
  FROM documents
),
agg AS (
  SELECT count(*) AS n_docs,
         CAST(sum(CASE WHEN a = b THEN 1 ELSE 0 END) AS BIGINT) AS n_agree,
         CAST(sum(CASE WHEN a = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS a_en,
         CAST(sum(CASE WHEN b = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS b_en
  FROM per_doc
)
SELECT n_docs, n_agree,
       round(n_agree / CAST(n_docs AS DOUBLE) + 1e-6, 6)
         AS observed_agreement,
       round((a_en / CAST(n_docs AS DOUBLE)) * (b_en / CAST(n_docs AS DOUBLE))
             + (1.0 - a_en / CAST(n_docs AS DOUBLE))
               * (1.0 - b_en / CAST(n_docs AS DOUBLE)) + 1e-6, 6)
         AS chance_agreement,
       round(CASE WHEN (a_en / CAST(n_docs AS DOUBLE))
                       * (b_en / CAST(n_docs AS DOUBLE))
                       + (1.0 - a_en / CAST(n_docs AS DOUBLE))
                         * (1.0 - b_en / CAST(n_docs AS DOUBLE)) < 1.0
                  THEN (n_agree / CAST(n_docs AS DOUBLE)
                        - ((a_en / CAST(n_docs AS DOUBLE))
                           * (b_en / CAST(n_docs AS DOUBLE))
                           + (1.0 - a_en / CAST(n_docs AS DOUBLE))
                             * (1.0 - b_en / CAST(n_docs AS DOUBLE))))
                       / (1.0 - ((a_en / CAST(n_docs AS DOUBLE))
                                 * (b_en / CAST(n_docs AS DOUBLE))
                                 + (1.0 - a_en / CAST(n_docs AS DOUBLE))
                                   * (1.0 - b_en / CAST(n_docs AS DOUBLE))))
             END + 1e-6, 6) AS cohens_kappa
FROM agg
"""


# --------------------------------------------------------------------------
# 4. Gumbel block-maxima return levels
# --------------------------------------------------------------------------

#: Euler-Mascheroni constant (Gumbel mean offset).
_EULER_GAMMA = 0.5772156649015329

#: return periods (in blocks = days).
RETURN_PERIODS = (30, 365)


def extreme_value_return_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GUMBEL RETURN LEVELS from daily block maxima, per event type:
    fit the Gumbel distribution by method of moments over the daily
    maxima (beta = s*sqrt(6)/pi, mu = m - gamma*beta) and report the
    T-day return level ``mu - beta * ln(-ln(1 - 1/T))`` for T in
    ``RETURN_PERIODS`` — the extreme-value answer to "what daily peak
    should capacity absorb once a month / once a year?", which the
    mean-and-sigma monitors (z-score alerting) systematically
    underestimate because maxima are not Gaussian.

    Scale shape: block maxima are a combinable (key, day) hash agg;
    moments and the closed-form fit reduce per key; return periods fan
    over a constant in-plan list."""
    ev = load(spark, sf_dir, "events")
    day = F.floor(F.col("ts").cast("double") / 86400).cast("long")
    maxima = ev.groupBy("event_type", day.alias("day")).agg(
        F.max("value").alias("mx")
    )
    fit = maxima.groupBy("event_type").agg(
        F.count("*").alias("n_blocks"),
        F.avg("mx").alias("m"),
        F.stddev_samp("mx").alias("s"),
    )
    beta = F.col("s") * math.sqrt(6.0) / math.pi
    mu = F.col("m") - _EULER_GAMMA * beta
    fanned = fit.select(
        "event_type",
        "n_blocks",
        mu.alias("mu_raw"),
        beta.alias("beta_raw"),
        F.explode(
            F.array(*[F.lit(t) for t in RETURN_PERIODS])
        ).alias("return_period_days"),
    )
    level = F.col("mu_raw") - F.col("beta_raw") * F.log(
        -F.log(1.0 - 1.0 / F.col("return_period_days"))
    )
    return fanned.select(
        "event_type",
        "n_blocks",
        "return_period_days",
        rnd("mu_raw", 4).alias("gumbel_mu"),
        rnd("beta_raw", 4).alias("gumbel_beta"),
        rnd(level, 4).alias("return_level"),
    )


_EVT_ORACLE = f"""
WITH maxima AS (
  SELECT event_type, CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day,
         max(value) AS mx
  FROM events GROUP BY 1, 2
),
fit AS (
  SELECT event_type, count(*) AS n_blocks, avg(mx) AS m, stddev_samp(mx) AS s
  FROM maxima GROUP BY event_type
),
fanned AS (
  SELECT f.event_type, f.n_blocks,
         f.m - {_EULER_GAMMA} * (f.s * {math.sqrt(6.0)!r} / pi()) AS mu_raw,
         f.s * {math.sqrt(6.0)!r} / pi() AS beta_raw,
         t.return_period_days
  FROM fit f CROSS JOIN (VALUES {", ".join(f"({t})" for t in RETURN_PERIODS)})
       t(return_period_days)
)
SELECT event_type, n_blocks, return_period_days,
       round(mu_raw + 1e-6, 4) AS gumbel_mu,
       round(beta_raw + 1e-6, 4) AS gumbel_beta,
       round(mu_raw - beta_raw
             * ln(-ln(1.0 - 1.0 / return_period_days)) + 1e-6, 4)
         AS return_level
FROM fanned
"""


register("fdr_segment_scan", oracle=_FDR_ORACLE,
         tags=("prepared-r8",))(fdr_segment_scan)
register("rate_limit_simulation", oracle=_rl_oracle(),
         tags=("prepared-r8",))(rate_limit_simulation)
register("lang_id_agreement_kappa", oracle=_kappa_oracle(),
         tags=("prepared-r8",))(lang_id_agreement_kappa)
register("extreme_value_return_levels", oracle=_EVT_ORACLE,
         tags=("prepared-r8",))(extreme_value_return_levels)
