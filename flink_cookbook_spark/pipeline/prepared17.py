"""Seventeenth (capstone) round-7 batch: effective sample size.

Same contract as ``prepared.py``. The hundredth
prepared operator closes the loop on the session's statistical-testing
family: every z/U/KS/F test in the cohort prices evidence by the raw
observation count, but an autocorrelated series carries FEWER
independent observations than rows — the effective sample size
``n / (1 + 2 * sum(rho_k))`` is the correction factor, and a small
ESS ratio is the one-number warning that the tests' p-values are
optimistic for that key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flink_cookbook_spark.catalog import load
from flink_cookbook_spark.registry import register, rnd

#: autocorrelation lags folded into the ESS correction.
ESS_LAGS = (1, 2, 3, 4, 5)


def effective_sample_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EFFECTIVE SAMPLE SIZE per event type over the hourly mean
    series: ``n_eff = n / (1 + 2 * sum_k max(rho_k, 0))`` with rho_k
    the lag-k Pearson autocorrelation over lags 1..5 (negative terms
    floored at 0 — the initial-positive-sequence convention, so ESS
    never exceeds n from anti-correlation). The ESS ratio is the
    discount every independence-assuming test in the engine should
    apply to this key's evidence; a ratio near 1 certifies the i.i.d.
    pricing, a small one flags optimistic p-values.

    Scale shape: one (key, hour) agg, five lag columns over ONE keyed
    window pass, one per-key ``corr`` aggregate per lag — identical
    plan shape to ``autocorrelation``, generalized to the lag sweep
    and reduced to the single actionable number."""
    ev = load(spark, sf_dir, "events")
    sec = F.col("ts").cast("double")
    hourly = (
        ev.select(
            "event_type", (F.floor(sec / 3600)).cast("long").alias("h"), "value"
        )
        .groupBy("event_type", "h")
        .agg(F.avg("value").alias("x"))
    )
    w = Window.partitionBy("event_type").orderBy("h")
    lagged = hourly.select(
        "event_type",
        "x",
        *[F.lag("x", k).over(w).alias(f"x{k}") for k in ESS_LAGS],
    )
    agg = lagged.groupBy("event_type").agg(
        F.count("*").alias("n_obs"),
        *[F.corr("x", f"x{k}").alias(f"r{k}") for k in ESS_LAGS],
    )
    rho_sum = None
    for k in ESS_LAGS:
        term = F.greatest(F.coalesce(F.col(f"r{k}"), F.lit(0.0)), F.lit(0.0))
        rho_sum = term if rho_sum is None else rho_sum + term
    n = F.col("n_obs").cast("double")
    n_eff = n / (1.0 + 2.0 * rho_sum)
    return agg.select(
        "event_type",
        "n_obs",
        rnd(rho_sum, 6).alias("rho_sum_pos"),
        rnd(n_eff, 2).alias("n_effective"),
        rnd(n_eff / n, 6).alias("ess_ratio"),
    )


def _ess_oracle() -> str:
    lag_cols = ",\n         ".join(
        f"lag(x, {k}) OVER w AS x{k}" for k in ESS_LAGS
    )
    corr_cols = ",\n         ".join(
        f"corr(x, x{k}) AS r{k}" for k in ESS_LAGS
    )
    rho = " + ".join(
        f"greatest(COALESCE(r{k}, 0.0), 0.0)" for k in ESS_LAGS
    )
    return f"""
WITH hourly AS (
  SELECT event_type, CAST(floor(epoch(ts) / 3600) AS BIGINT) AS h,
         avg(value) AS x
  FROM events GROUP BY 1, 2
),
lagged AS (
  SELECT event_type, x,
         {lag_cols}
  FROM hourly
  WINDOW w AS (PARTITION BY event_type ORDER BY h)
),
agg AS (
  SELECT event_type, count(*) AS n_obs,
         {corr_cols}
  FROM lagged GROUP BY event_type
)
SELECT event_type, n_obs,
       round(({rho}) + 1e-6, 6) AS rho_sum_pos,
       round(n_obs / (1.0 + 2.0 * ({rho})) + 1e-6, 2) AS n_effective,
       round((n_obs / (1.0 + 2.0 * ({rho}))) / n_obs + 1e-6, 6) AS ess_ratio
FROM agg
"""


register("effective_sample_size", oracle=_ess_oracle(),
         tags=("prepared-r8",))(effective_sample_size)
