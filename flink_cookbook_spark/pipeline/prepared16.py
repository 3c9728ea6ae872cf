"""Sixteenth round-7 batch of round-8-prepared operators: distribution-
free uncertainty and unseen-mass estimation.

Same contract as ``prepared.py``. Split-conformal
prediction is the modern distribution-free answer to "how wrong can
this forecast be?" — a finite-sample coverage guarantee from nothing
but a calibration split and an order statistic, which composes with
ANY point forecaster the engine ships (here the seasonal-naive
baseline from ``forecast_backtest``). Chao1 is the classical
unseen-species estimator: how much vocabulary exists that the corpus
has NOT yet shown us — the other side of ``vocab_coverage_curve``'s
seen-mass view, and the corpus-side sibling of
``capture_recapture_estimate``'s population logic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flink_cookbook_spark.catalog import load
from flink_cookbook_spark.registry import register, rnd


# --------------------------------------------------------------------------
# 1. split-conformal prediction interval for the seasonal-naive forecast
# --------------------------------------------------------------------------

#: miscoverage level (interval targets 1 - alpha coverage).
CONFORMAL_ALPHA = 0.1

#: seasonal lag (observations) of the base forecaster.
CONFORMAL_SEASON = 24


def conformal_prediction_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPLIT-CONFORMAL PREDICTION INTERVAL around the seasonal-naive
    forecaster, per event type: the first half of each key's hourly
    series calibrates the absolute-residual quantile at the standard
    conformal index ceil((n_cal + 1) * (1 - alpha)); the second half
    measures EMPIRICAL coverage of "prediction +/- q". The
    finite-sample guarantee (coverage >= 1 - alpha in expectation,
    under exchangeability) holds with NO distributional assumptions —
    the uncertainty wrapper any of the engine's forecasters can wear.
    Quantiles are discrete order statistics (the cross-engine
    percentile discipline).

    Scale shape: one (key, hour) agg, one per-key lag window, one
    rank-limited calibration-quantile pick, one eval aggregate — all
    keyed, nothing global."""
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
    scored = hourly.select(
        "event_type",
        "h",
        "v",
        F.lag("v", CONFORMAL_SEASON).over(wk).alias("pred"),
        F.row_number().over(wk).alias("rn"),
        F.count("*").over(Window.partitionBy("event_type")).alias("n_tot"),
    ).where(F.col("pred").isNotNull())
    half = F.floor(F.col("n_tot") / 2)
    cal = scored.where(F.col("rn") <= half).select(
        "event_type", F.abs(F.col("v") - F.col("pred")).alias("score")
    )
    wq = Window.partitionBy("event_type").orderBy("score")
    wc = Window.partitionBy("event_type")
    qpick = (
        cal.select(
            "event_type",
            "score",
            F.row_number().over(wq).alias("qrn"),
            F.count("*").over(wc).alias("n_cal"),
        )
        .where(
            F.col("qrn")
            == F.least(
                F.col("n_cal"),
                F.ceil((F.col("n_cal") + 1) * (1.0 - CONFORMAL_ALPHA)),
            )
        )
        .select("event_type", "n_cal", F.col("score").alias("q_alpha"))
    )
    eval_ = scored.where(F.col("rn") > half).select(
        "event_type", F.abs(F.col("v") - F.col("pred")).alias("err")
    )
    cov = (
        eval_.join(qpick, "event_type")
        .groupBy("event_type")
        .agg(
            F.max("n_cal").alias("n_cal"),
            F.count("*").alias("n_eval"),
            F.max("q_alpha").alias("q_raw"),
            F.avg(
                (F.col("err") <= F.col("q_alpha")).cast("double")
            ).alias("cov_raw"),
        )
    )
    return cov.select(
        "event_type",
        "n_cal",
        "n_eval",
        rnd("q_raw", 4).alias("q_alpha"),
        rnd("cov_raw", 4).alias("empirical_coverage"),
        rnd(F.lit(1.0 - CONFORMAL_ALPHA), 2).alias("target_coverage"),
    )


_CONFORMAL_ORACLE = f"""
WITH hourly AS (
  SELECT event_type, CAST(floor(epoch(ts) / 3600) AS BIGINT) AS h,
         avg(value) AS v
  FROM events GROUP BY 1, 2
),
scored AS (
  SELECT * FROM (
    SELECT event_type, h, v,
           lag(v, {CONFORMAL_SEASON}) OVER w AS pred,
           row_number() OVER w AS rn,
           count(*) OVER (PARTITION BY event_type) AS n_tot
    FROM hourly
    WINDOW w AS (PARTITION BY event_type ORDER BY h)
  ) WHERE pred IS NOT NULL
),
cal AS (
  SELECT event_type, abs(v - pred) AS score
  FROM scored WHERE rn <= n_tot // 2
),
qpick AS (
  SELECT event_type, n_cal, score AS q_alpha FROM (
    SELECT event_type, score,
           row_number() OVER (PARTITION BY event_type ORDER BY score) AS qrn,
           count(*) OVER (PARTITION BY event_type) AS n_cal
    FROM cal
  ) WHERE qrn = least(n_cal,
                      CAST(ceil((n_cal + 1) * {1.0 - CONFORMAL_ALPHA})
                           AS BIGINT))
),
eval_ AS (
  SELECT event_type, abs(v - pred) AS err
  FROM scored WHERE rn > n_tot // 2
),
cov AS (
  SELECT e.event_type,
         max(q.n_cal) AS n_cal,
         count(*) AS n_eval,
         max(q.q_alpha) AS q_raw,
         avg(CASE WHEN e.err <= q.q_alpha THEN 1.0 ELSE 0.0 END) AS cov_raw
  FROM eval_ e JOIN qpick q ON e.event_type = q.event_type
  GROUP BY e.event_type
)
SELECT event_type, CAST(n_cal AS BIGINT) AS n_cal, n_eval,
       round(q_raw + 1e-6, 4) AS q_alpha,
       round(cov_raw + 1e-6, 4) AS empirical_coverage,
       round({1.0 - CONFORMAL_ALPHA} + 1e-6, 2) AS target_coverage
FROM cov
"""


# --------------------------------------------------------------------------
# 2. Chao1 unseen-vocabulary richness
# --------------------------------------------------------------------------

def chao1_vocabulary_richness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHAO1 RICHNESS per source: estimate the TRUE vocabulary size —
    including tokens never observed — from the frequency spectrum's
    rare end (``V + f1^2 / (2 f2)``; the bias-corrected
    ``V + f1(f1-1)/2`` form when no doubletons exist), plus the
    implied unseen share. The unseen-mass counterpart of
    ``vocab_coverage_curve`` (how much of what we HAVE is covered) and
    the corpus-side sibling of ``capture_recapture_estimate``: both
    infer what sampling has not yet shown. A source with a high unseen
    share needs more data before its token statistics stabilize.

    Scale shape: two stacked combinable hash aggs ((source, token)
    counts, then the per-source spectrum reduce)."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "source", F.explode(F.split("text", " ")).alias("tok")
    ).where(F.col("tok") != "")
    counts = toks.groupBy("source", "tok").agg(F.count("*").alias("c"))
    spec = counts.groupBy("source").agg(
        F.count("*").alias("v_obs"),
        F.sum((F.col("c") == 1).cast("long")).alias("f1"),
        F.sum((F.col("c") == 2).cast("long")).alias("f2"),
    )
    f1 = F.col("f1").cast("double")
    f2 = F.col("f2").cast("double")
    chao = F.col("v_obs") + F.when(
        F.col("f2") > 0, f1 * f1 / (2.0 * f2)
    ).otherwise(f1 * (f1 - 1.0) / 2.0)
    return spec.select(
        "source",
        "v_obs",
        "f1",
        "f2",
        rnd(chao, 2).alias("chao1_estimate"),
        rnd(1.0 - F.col("v_obs") / chao, 6).alias("unseen_share"),
    )


_CHAO1_ORACLE = """
WITH toks AS (
  SELECT source, t.tok
  FROM documents, unnest(string_split(text, ' ')) AS t(tok)
  WHERE t.tok != ''
),
counts AS (
  SELECT source, tok, count(*) AS c FROM toks GROUP BY 1, 2
),
spec AS (
  SELECT source, count(*) AS v_obs,
         CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
         CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2
  FROM counts GROUP BY source
)
SELECT source, v_obs, f1, f2,
       round(v_obs + CASE WHEN f2 > 0
                          THEN CAST(f1 AS DOUBLE) * f1 / (2.0 * f2)
                          ELSE CAST(f1 AS DOUBLE) * (f1 - 1.0) / 2.0 END
             + 1e-6, 2) AS chao1_estimate,
       round(1.0 - v_obs / (v_obs + CASE WHEN f2 > 0
                          THEN CAST(f1 AS DOUBLE) * f1 / (2.0 * f2)
                          ELSE CAST(f1 AS DOUBLE) * (f1 - 1.0) / 2.0 END)
             + 1e-6, 6) AS unseen_share
FROM spec
"""


register("conformal_prediction_interval", oracle=_CONFORMAL_ORACLE,
         tags=("prepared-r8",))(conformal_prediction_interval)
register("chao1_vocabulary_richness", oracle=_CHAO1_ORACLE,
         tags=("prepared-r8",))(chao1_vocabulary_richness)
