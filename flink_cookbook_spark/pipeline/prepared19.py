"""Round-9-prepared operators, registered LIVE since round 10.

Round 9 froze registrations so the driver's ~50-slot correctness window
could drain the 59-query pending backlog (round-8 verdict ask #1); the
cohort was built and verified through the driver-identical harness that
round but held out of the registry. Round 10 registered it: each batch
below ends with its ``register(...)`` calls under tag ``prepared-r10``,
and every pair is exercised by the registry-wide driver replica in
tests/test_oracle.py. REVERIFY_AFTER needs no entries — these names had
no driver record before registration.

Batch 1's seven operators close real gaps (later batches are
documented at their own section headers below):

- ``welch_t_test`` — the unequal-variance two-sample test the A/B
  battery lacked (t, Welch-Satterthwaite df) next to
  ``ab_conversion_lift``/``covariate_balance_smd``;
- ``pacf_durbin_levinson`` — partial autocorrelations from the ACF via
  the closed-form Durbin-Levinson recursion (the statistic that picks
  AR orders; the reference hardcodes its SARIMAX orders — ACF/PACF is
  how those orders get picked from data);
- ``nelson_aalen_hazard`` — the cumulative-hazard counterpart of
  ``kaplan_meier_survival`` (NA is the estimator of choice when
  hazards, not survival curves, are compared);
- ``ewma_control_chart`` — the per-day EWMA SPC chart with
  time-varying control limits, completing the SPC trio (CUSUM detects,
  Western Electric patterns flag, EWMA tracks small sustained shifts);
- ``matryoshka_recall`` — recall@k of PREFIX-dimension (truncated)
  embeddings vs the full-dimension ranking: the measurement behind
  matryoshka-representation truncation decisions in vector stores;
- ``decision_stump_split`` — the best single (feature, threshold)
  split by information gain over bounded feature histograms: an
  in-plan trained model (the depth-1 tree) with every candidate split
  and its gain hash-checked;
- ``retrieval_precision_recall_at_k`` — P@k / R@k / F1 for the BM25
  ranking, completing the IR metric set next to NDCG/MRR.

Engine-parity disciplines reused from the live cohort: registry.rnd /
NUDGE rounding on both sides; ACF values rounded to 9 dp BEFORE the
Durbin-Levinson recursion so the downstream algebra runs on identical
doubles; EWMA weights precomputed as Python-float literals embedded on
BOTH sides (pow(0.8, j) in two libms can differ in the last ulp — a
literal cannot); ranking on bit-identical sequential-fold dot products
(the ``cosine_topk`` contract).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flink_cookbook_spark.catalog import load
from flink_cookbook_spark.registry import NUDGE, register, rnd


# --------------------------------------------------------------------------
# 1. Welch's unequal-variance t-test between the A/B arms
# --------------------------------------------------------------------------

#: two-sided normal-approximation critical value at alpha = 0.05. The
#: Welch df on this fixture is in the thousands, where t and normal
#: quantiles agree to 3 decimals — and neither engine ships a t-CDF.
WELCH_CRIT = 1.96


def welch_t_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WELCH'S T-TEST of ``value`` between the deterministic A/B arms
    (user_id parity), per event type: the unequal-variance two-sample
    test (t statistic + Welch-Satterthwaite df) that belongs between
    ``ab_conversion_lift`` (which assumes pooled proportions) and
    ``mann_whitney_u`` (which drops the parametric assumption
    entirely). Significance is judged on the ROUNDED t against the
    normal-approx critical value so a last-ulp variance divergence can
    never flip the flag between engines.

    Scale shape: one combinable (event_type, arm) moment aggregate,
    then a conditional-aggregation pivot to one row per event type —
    no joins, no windows."""
    ev = load(spark, sf_dir, "events")
    arms = ev.select(
        "event_type",
        (F.col("user_id") % 2).cast("int").alias("arm"),
        "value",
    ).groupBy("event_type", "arm").agg(
        F.count("*").alias("n"),
        F.avg("value").alias("m"),
        F.var_samp("value").alias("s2"),
    )
    one = arms.groupBy("event_type").agg(
        F.max(F.when(F.col("arm") == 0, F.col("n"))).alias("n_a"),
        F.max(F.when(F.col("arm") == 1, F.col("n"))).alias("n_b"),
        F.max(F.when(F.col("arm") == 0, F.col("m"))).alias("mean_a"),
        F.max(F.when(F.col("arm") == 1, F.col("m"))).alias("mean_b"),
        F.max(F.when(F.col("arm") == 0, F.col("s2"))).alias("v_a"),
        F.max(F.when(F.col("arm") == 1, F.col("s2"))).alias("v_b"),
    )
    va_n = F.col("v_a") / F.col("n_a")
    vb_n = F.col("v_b") / F.col("n_b")
    se2 = va_n + vb_n
    t = F.when(se2 > 0, (F.col("mean_b") - F.col("mean_a")) / F.sqrt(se2))
    df_w = F.when(
        se2 > 0,
        (se2 * se2)
        / (
            va_n * va_n / (F.col("n_a") - 1)
            + vb_n * vb_n / (F.col("n_b") - 1)
        ),
    )
    t_r = rnd(t, 4)
    return one.select(
        "event_type",
        "n_a",
        "n_b",
        rnd("mean_a", 4).alias("mean_a"),
        rnd("mean_b", 4).alias("mean_b"),
        t_r.alias("t_stat"),
        rnd(df_w, 2).alias("df_welch"),
        (F.abs(t_r) > WELCH_CRIT).alias("significant"),
    )


_WELCH_ORACLE = f"""
WITH arms AS (
  SELECT event_type, CAST(user_id % 2 AS INTEGER) AS arm,
         count(*) AS n, avg(value) AS m, var_samp(value) AS s2
  FROM events GROUP BY 1, 2
),
one AS (
  SELECT event_type,
         max(CASE WHEN arm = 0 THEN n END) AS n_a,
         max(CASE WHEN arm = 1 THEN n END) AS n_b,
         max(CASE WHEN arm = 0 THEN m END) AS mean_a,
         max(CASE WHEN arm = 1 THEN m END) AS mean_b,
         max(CASE WHEN arm = 0 THEN s2 END) AS v_a,
         max(CASE WHEN arm = 1 THEN s2 END) AS v_b
  FROM arms GROUP BY event_type
),
calc AS (
  SELECT *,
         v_a / n_a + v_b / n_b AS se2
  FROM one
)
SELECT event_type, n_a, n_b,
       round(mean_a + {NUDGE}, 4) AS mean_a,
       round(mean_b + {NUDGE}, 4) AS mean_b,
       round(CASE WHEN se2 > 0
                  THEN (mean_b - mean_a) / sqrt(se2) END + {NUDGE}, 4)
         AS t_stat,
       round(CASE WHEN se2 > 0
                  THEN se2 * se2
                       / ((v_a / n_a) * (v_a / n_a) / (n_a - 1)
                          + (v_b / n_b) * (v_b / n_b) / (n_b - 1)) END
             + {NUDGE}, 2) AS df_welch,
       abs(round(CASE WHEN se2 > 0
                      THEN (mean_b - mean_a) / sqrt(se2) END + {NUDGE}, 4))
         > {WELCH_CRIT} AS significant
FROM calc
"""


# --------------------------------------------------------------------------
# 2. PACF via the Durbin-Levinson recursion (lags 1..4)
# --------------------------------------------------------------------------

#: number of PACF lags emitted (the Durbin-Levinson recursion is
#: unrolled in closed form to this depth on both engines).
PACF_LAGS = 4
#: decimals the raw ACF values are rounded to BEFORE the recursion —
#: identical doubles in, bit-identical recursion out (the
#: logistic-score discipline applied to correlation inputs).
PACF_ACF_DP = 9


def pacf_durbin_levinson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARTIAL AUTOCORRELATIONS of the corpus hourly mean-value series
    at lags 1..4, from the sample ACF via the closed-form
    Durbin-Levinson recursion — the companion statistic to
    ``autocorrelation``: ACF says WHICH lags correlate, PACF says which
    correlate DIRECTLY (the AR-order picker; the reference hardcodes
    its (1,1,1)x(0,1,1,288) SARIMAX orders, and PACF cutoff is how an
    AR order is read off data).

    Scale shape: one combinable (hour) aggregate reduces the corpus to
    a calendar-bounded series; four lag columns ride ONE ordered window
    over those hours (calendar-bounded, not data-bounded — the
    ``kaplan_meier_survival`` argument); four corr aggregates reduce to
    a 1-row ACF vector; the recursion is pure column algebra on that
    row; a 4-row stack unpivots. ACF values are rounded to
    ``PACF_ACF_DP`` before the recursion so its divisions amplify
    nothing engine-specific."""
    ev = load(spark, sf_dir, "events")
    hourly = (
        ev.select(
            (F.floor(F.col("ts").cast("double") / 3600) * 3600).alias("h"),
            "value",
        )
        .groupBy("h")
        .agg(F.avg("value").alias("x"))
    )
    w = Window.orderBy("h")
    lagged = hourly.select(
        "x",
        *[F.lag("x", k).over(w).alias(f"x{k}") for k in range(1, PACF_LAGS + 1)],
    )
    acf = lagged.agg(
        F.count("x").alias("n_hours"),
        *[
            F.round(F.corr("x", f"x{k}") + F.lit(NUDGE), PACF_ACF_DP).alias(
                f"r{k}"
            )
            for k in range(1, PACF_LAGS + 1)
        ],
    )
    # Durbin-Levinson unrolled: phi_kk columns from r1..r4
    p11 = F.col("r1")
    step1 = acf.withColumn("p11", p11)
    p22 = (F.col("r2") - F.col("p11") * F.col("r1")) / (
        1 - F.col("p11") * F.col("r1")
    )
    step2 = step1.withColumn("p22", p22).withColumn(
        "p21", F.col("p11") - F.col("p22") * F.col("p11")
    )
    p33 = (
        F.col("r3") - F.col("p21") * F.col("r2") - F.col("p22") * F.col("r1")
    ) / (1 - F.col("p21") * F.col("r1") - F.col("p22") * F.col("r2"))
    step3 = (
        step2.withColumn("p33", p33)
        .withColumn("p31", F.col("p21") - F.col("p33") * F.col("p22"))
        .withColumn("p32", F.col("p22") - F.col("p33") * F.col("p21"))
    )
    p44 = (
        F.col("r4")
        - F.col("p31") * F.col("r3")
        - F.col("p32") * F.col("r2")
        - F.col("p33") * F.col("r1")
    ) / (
        1
        - F.col("p31") * F.col("r1")
        - F.col("p32") * F.col("r2")
        - F.col("p33") * F.col("r3")
    )
    step4 = step3.withColumn("p44", p44)
    return step4.select(
        "n_hours",
        F.expr(
            "stack(4, 1, r1, p11, 2, r2, p22, 3, r3, p33, 4, r4, p44) "
            "as (lag, acf_raw, pacf_raw)"
        ),
    ).select(
        F.col("lag").cast("int").alias("lag"),
        "n_hours",
        (rnd("acf_raw", 6) + F.lit(0.0)).alias("acf"),
        (rnd("pacf_raw", 6) + F.lit(0.0)).alias("pacf"),
    )


_PACF_ORACLE = f"""
WITH hourly AS (
  SELECT (CAST(floor(epoch(ts)) AS BIGINT) // 3600) * 3600 AS h,
         avg(value) AS x
  FROM events GROUP BY 1
),
lagged AS (
  SELECT x,
         lag(x, 1) OVER (ORDER BY h) AS x1,
         lag(x, 2) OVER (ORDER BY h) AS x2,
         lag(x, 3) OVER (ORDER BY h) AS x3,
         lag(x, 4) OVER (ORDER BY h) AS x4
  FROM hourly
),
acf AS (
  SELECT count(x) AS n_hours,
         round(corr(x, x1) + {NUDGE}, {PACF_ACF_DP}) AS r1,
         round(corr(x, x2) + {NUDGE}, {PACF_ACF_DP}) AS r2,
         round(corr(x, x3) + {NUDGE}, {PACF_ACF_DP}) AS r3,
         round(corr(x, x4) + {NUDGE}, {PACF_ACF_DP}) AS r4
  FROM lagged
),
s1 AS (SELECT *, r1 AS p11 FROM acf),
s2 AS (
  SELECT *, (r2 - p11 * r1) / (1 - p11 * r1) AS p22 FROM s1
),
s2b AS (SELECT *, p11 - p22 * p11 AS p21 FROM s2),
s3 AS (
  SELECT *, (r3 - p21 * r2 - p22 * r1) / (1 - p21 * r1 - p22 * r2) AS p33
  FROM s2b
),
s3b AS (
  SELECT *, p21 - p33 * p22 AS p31, p22 - p33 * p21 AS p32 FROM s3
),
s4 AS (
  SELECT *, (r4 - p31 * r3 - p32 * r2 - p33 * r1)
            / (1 - p31 * r1 - p32 * r2 - p33 * r3) AS p44
  FROM s3b
),
stacked AS (
  SELECT 1 AS lag, n_hours, r1 AS acf_raw, p11 AS pacf_raw FROM s4
  UNION ALL SELECT 2, n_hours, r2, p22 FROM s4
  UNION ALL SELECT 3, n_hours, r3, p33 FROM s4
  UNION ALL SELECT 4, n_hours, r4, p44 FROM s4
)
SELECT CAST(lag AS INTEGER) AS lag, n_hours,
       round(acf_raw + {NUDGE}, 6) + 0.0 AS acf,
       round(pacf_raw + {NUDGE}, 6) + 0.0 AS pacf
FROM stacked
"""


# --------------------------------------------------------------------------
# 3. Nelson-Aalen cumulative hazard
# --------------------------------------------------------------------------


def nelson_aalen_hazard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NELSON-AALEN CUMULATIVE HAZARD over the signup -> first-purchase
    delay, right-censored at corpus end — the estimator companion of
    ``kaplan_meier_survival``: KM multiplies survival factors, NA sums
    hazard increments d/n, and NA is the standard choice when hazard
    CURVES (not survival probabilities) are compared or fed to
    regression. The per-time variance increment d/n² rides along
    (Poisson-type variance), so the estimator's uncertainty contract is
    itself hash-checked.

    Scale shape: identical to KM — two keyed min-aggs, a 1-row
    corpus-max broadcast, and ordered windows over DISTINCT hour
    durations (calendar-bounded, never user-bounded)."""
    ev = load(spark, sf_dir, "events")
    sec = F.col("ts").cast("double")
    s0 = (
        ev.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min(sec).alias("t0"))
    )
    purch = ev.where(F.col("event_type") == "purchase").select(
        "user_id", sec.alias("tp")
    )
    first_p = (
        s0.join(purch, "user_id")
        .where(F.col("tp") >= F.col("t0"))
        .groupBy("user_id")
        .agg(F.min("tp").alias("tp"))
    )
    tmax = ev.agg(F.max(sec).alias("tmax"))
    subj = (
        s0.join(first_p, "user_id", "left")
        .crossJoin(F.broadcast(tmax))
        .select(
            F.floor(
                (F.coalesce("tp", "tmax") - F.col("t0")) / 3600
            ).alias("dur"),
            F.col("tp").isNotNull().cast("int").alias("obs"),
        )
    )
    g = subj.groupBy("dur").agg(
        F.count("*").alias("n_all"), F.sum("obs").alias("d")
    )
    w_ord = Window.orderBy("dur")
    w_before = w_ord.rowsBetween(Window.unboundedPreceding, -1)
    r = g.select(
        "dur",
        "d",
        (
            F.sum("n_all").over(
                w_ord.rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            )
            - F.coalesce(F.sum("n_all").over(w_before), F.lit(0))
        ).alias("n_at_risk"),
    )
    dn = F.col("d").cast("double") / F.col("n_at_risk")
    dn2 = F.col("d").cast("double") / (
        F.col("n_at_risk").cast("double") * F.col("n_at_risk").cast("double")
    )
    h = r.select(
        "dur",
        "d",
        "n_at_risk",
        F.sum(dn).over(w_ord).alias("na_raw"),
        F.sum(dn2).over(w_ord).alias("var_raw"),
    )
    return h.where(F.col("d") > 0).select(
        F.col("dur").alias("t_hours"),
        "n_at_risk",
        F.col("d").alias("n_events"),
        rnd("na_raw", 6).alias("cum_hazard"),
        rnd("var_raw", 8).alias("var_hazard"),
    )


_NA_ORACLE = f"""
WITH sec AS (SELECT user_id, event_type, epoch(ts) AS s FROM events),
s0 AS (
  SELECT user_id, min(s) AS t0 FROM sec
  WHERE event_type = 'signup' GROUP BY user_id
),
fp AS (
  SELECT p.user_id, min(p.s) AS tp
  FROM sec p JOIN s0 ON p.user_id = s0.user_id
  WHERE p.event_type = 'purchase' AND p.s >= s0.t0
  GROUP BY p.user_id
),
tmax AS (SELECT max(s) AS tmax FROM sec),
subj AS (
  SELECT CAST(floor((COALESCE(fp.tp, t.tmax) - s0.t0) / 3600) AS BIGINT)
           AS dur,
         CASE WHEN fp.tp IS NOT NULL THEN 1 ELSE 0 END AS obs
  FROM s0 LEFT JOIN fp ON s0.user_id = fp.user_id CROSS JOIN tmax t
),
g AS (
  SELECT dur, count(*) AS n_all, CAST(sum(obs) AS BIGINT) AS d
  FROM subj GROUP BY dur
),
r AS (
  SELECT dur, d,
         CAST(sum(n_all) OVER ()
              - COALESCE(sum(n_all) OVER (ORDER BY dur
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS n_at_risk
  FROM g
),
h AS (
  SELECT dur, d, n_at_risk,
         sum(CAST(d AS DOUBLE) / n_at_risk)
           OVER (ORDER BY dur ROWS UNBOUNDED PRECEDING) AS na_raw,
         sum(CAST(d AS DOUBLE)
             / (CAST(n_at_risk AS DOUBLE) * CAST(n_at_risk AS DOUBLE)))
           OVER (ORDER BY dur ROWS UNBOUNDED PRECEDING) AS var_raw
  FROM r
)
SELECT dur AS t_hours, n_at_risk, d AS n_events,
       round(na_raw + {NUDGE}, 6) AS cum_hazard,
       round(var_raw + {NUDGE}, 8) AS var_hazard
FROM h WHERE d > 0
"""


# --------------------------------------------------------------------------
# 4. EWMA control chart with time-varying limits
# --------------------------------------------------------------------------

EWMA_LAMBDA = 0.2  #: smoothing weight
EWMA_L = 3.0  #: control-limit width in sigma units
#: truncation horizon: weight beyond W days is (1-lambda)^W ~ 1.5e-6 of
#: a day's mean — the truncated chart IS the exact recursion whenever
#: the series is shorter than W (true at every fixture SF), and a
#: bounded-memory, bounded-fan-in operator at any corpus age.
EWMA_W = 60

#: weights embedded as PYTHON-FLOAT LITERALS on both engines: pow(0.8,j)
#: evaluated by two different libms can differ in the last ulp, a
#: repr'd literal cannot (the decile-boundary lesson applied to
#: exponential weights).
_EWMA_DECAY = [(1.0 - EWMA_LAMBDA) ** j for j in range(EWMA_W + 1)]


def ewma_control_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA CONTROL CHART over each event type's daily mean-value
    series: z_t = lambda*x_t + (1-lambda)*z_{t-1} anchored at the
    series mean, with the exact time-varying control limits
    mu +- L*sigma*sqrt(lambda/(2-lambda)*(1-(1-lambda)^(2t))) — the SPC
    chart for SMALL SUSTAINED shifts, completing the trio with CUSUM
    (changepoint excursions) and the Western Electric run rules.

    The recursion is computed in CLOSED FORM as a ``EWMA_W``-term
    weighted sum of lagged daily means (weights are Python-float
    literals, identical on both engines), so each output row is a
    single window pass — no sequential state, no recursive CTE on the
    Spark side, bounded fan-in at any series length. Out-of-control is
    judged on ROUNDED z vs rounded limits so a last-ulp divergence can
    never flip the flag.

    Scale shape: one combinable (event_type, day) aggregate; per-key
    series stats via one more aggregate broadcast back; one ordered
    window per key carrying ``EWMA_W`` lag expressions (a single
    window pass) over the calendar-bounded day axis."""
    ev = load(spark, sf_dir, "events")
    daily = (
        ev.select(
            "event_type",
            (F.floor(F.col("ts").cast("double") / 86400) * 86400)
            .cast("long")
            .alias("day_start"),
            "value",
        )
        .groupBy("event_type", "day_start")
        .agg(F.avg("value").alias("x"))
    )
    stats = daily.groupBy("event_type").agg(
        F.avg("x").alias("mu0"), F.stddev_samp("x").alias("sigma")
    )
    w = Window.partitionBy("event_type").orderBy("day_start")
    seq = daily.select(
        "event_type",
        "day_start",
        F.col("x").alias("l0"),
        F.row_number().over(w).alias("t"),
        *[F.lag("x", j).over(w).alias(f"l{j}") for j in range(1, EWMA_W)],
    )
    joined = seq.join(F.broadcast(stats), "event_type")
    z = None
    for j in range(EWMA_W):
        term = F.when(
            F.col(f"l{j}").isNotNull(),
            F.lit(EWMA_LAMBDA * _EWMA_DECAY[j]) * F.col(f"l{j}"),
        ).otherwise(F.lit(0.0))
        z = term if z is None else z + term
    anchor_arr = F.array(*[F.lit(v) for v in _EWMA_DECAY])
    anchor_w = F.element_at(anchor_arr, F.least(F.col("t"), F.lit(EWMA_W)) + 1)
    z = z + anchor_w * F.col("mu0")
    sig_t = F.col("sigma") * F.sqrt(
        F.lit(EWMA_LAMBDA / (2.0 - EWMA_LAMBDA))
        * (1.0 - anchor_w * anchor_w)
    )
    z_r = rnd(z, 4)
    ucl_r = rnd(F.col("mu0") + EWMA_L * sig_t, 4)
    lcl_r = rnd(F.col("mu0") - EWMA_L * sig_t, 4)
    return joined.select(
        "event_type",
        "day_start",
        F.col("t").alias("t"),
        rnd("l0", 4).alias("x"),
        z_r.alias("ewma"),
        lcl_r.alias("lcl"),
        ucl_r.alias("ucl"),
        ((z_r > ucl_r) | (z_r < lcl_r)).alias("out_of_control"),
    )


def _ewma_oracle() -> str:
    lam = EWMA_LAMBDA
    terms = []
    for j in range(EWMA_W):
        lag = "x" if j == 0 else f"lag(x, {j}) OVER w"
        terms.append(
            f"COALESCE({lam * _EWMA_DECAY[j]!r} * ({lag}), 0.0)"
        )
    zsum = "\n           + ".join(terms)
    anchors = ", ".join(repr(v) for v in _EWMA_DECAY)
    return f"""
WITH daily AS (
  SELECT event_type,
         (CAST(floor(epoch(ts)) AS BIGINT) // 86400) * 86400 AS day_start,
         avg(value) AS x
  FROM events GROUP BY 1, 2
),
stats AS (
  SELECT event_type, avg(x) AS mu0, stddev_samp(x) AS sigma
  FROM daily GROUP BY event_type
),
seq AS (
  SELECT d.event_type, d.day_start, d.x,
         CAST(row_number() OVER w AS BIGINT) AS t,
         {zsum} AS zpart
  FROM daily d
  WINDOW w AS (PARTITION BY d.event_type ORDER BY d.day_start)
),
calc AS (
  SELECT s.event_type, s.day_start, s.t, s.x,
         s.zpart + ([{anchors}])[least(s.t, {EWMA_W}) + 1] * st.mu0 AS z,
         st.mu0,
         st.sigma
           * sqrt({lam / (2.0 - lam)!r}
                  * (1.0 - ([{anchors}])[least(s.t, {EWMA_W}) + 1]
                           * ([{anchors}])[least(s.t, {EWMA_W}) + 1]))
           AS sig_t
  FROM seq s JOIN stats st ON s.event_type = st.event_type
)
SELECT event_type, day_start, CAST(t AS INTEGER) AS t,
       round(x + {NUDGE}, 4) AS x,
       round(z + {NUDGE}, 4) AS ewma,
       round(mu0 - {EWMA_L} * sig_t + {NUDGE}, 4) AS lcl,
       round(mu0 + {EWMA_L} * sig_t + {NUDGE}, 4) AS ucl,
       round(z + {NUDGE}, 4) > round(mu0 + {EWMA_L} * sig_t + {NUDGE}, 4)
         OR round(z + {NUDGE}, 4) < round(mu0 - {EWMA_L} * sig_t + {NUDGE}, 4)
         AS out_of_control
FROM calc
"""


# --------------------------------------------------------------------------
# 5. matryoshka (prefix-dimension) recall vs the full-dimension ranking
# --------------------------------------------------------------------------

MAT_DIMS = (8, 16, 32)  #: prefix dimensionalities evaluated
MAT_FULL_DIM = 64  #: ground-truth dimensionality (the fixture's)
MAT_QUERIES = 8  #: deterministic query set: vec_id < MAT_QUERIES
MAT_K = 10  #: ranking depth for truth and test lists


def matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATRYOSHKA TRUNCATION RECALL: for each prefix dimensionality d,
    the recall@k of the top-k neighbor list computed on the FIRST d
    embedding components against the full-dimension top-k — the
    measurement behind every "can we store 8x fewer floats" truncation
    decision on matryoshka-trained embeddings. Emitted per (d, query)
    so the variance across queries is visible, not averaged away.

    Scale shape: the ``cosine_topk`` contract — the bounded query set
    is broadcast, the corpus side never moves, prefix dot products use
    the same sequential fold as DuckDB's list_dot_product so ranking
    ties cannot flip between engines; per-(d, query) top-k windows
    partition on (dim, query). Brute force by design: this is the
    small-query-set measurement tool, not the serving path (that is
    ``ivf_topk``)."""
    emb = load(spark, sf_dir, "embeddings").withColumn(
        "emb", F.col("embedding").cast("array<double>")
    )
    dims = list(MAT_DIMS) + [MAT_FULL_DIM]

    def _dot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    def _norm(a):
        return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))

    queries = emb.where(F.col("vec_id") < MAT_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("qemb")
    )
    pairs = (
        emb.select(F.col("vec_id").alias("cand_id"), F.col("emb").alias("cemb"))
        .crossJoin(F.broadcast(queries))
        .where(F.col("cand_id") != F.col("query_id"))
        .select(
            "query_id",
            "cand_id",
            F.explode(F.array(*[F.lit(d) for d in dims])).alias("dim"),
            "qemb",
            "cemb",
        )
        .select(
            "query_id",
            "cand_id",
            "dim",
            F.slice("qemb", 1, F.col("dim")).alias("q"),
            F.slice("cemb", 1, F.col("dim")).alias("c"),
        )
        .select(
            "query_id",
            "cand_id",
            "dim",
            (
                _dot(F.col("q"), F.col("c"))
                / (_norm(F.col("q")) * _norm(F.col("c")))
            ).alias("cosine_raw"),
        )
    )
    w = Window.partitionBy("dim", "query_id").orderBy(
        F.col("cosine_raw").desc(), F.col("cand_id").asc()
    )
    topk = (
        pairs.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= MAT_K)
        .select("dim", "query_id", "cand_id")
    )
    truth = topk.where(F.col("dim") == MAT_FULL_DIM).select(
        "query_id", "cand_id"
    )
    test = topk.where(F.col("dim") != MAT_FULL_DIM)
    overlap = (
        test.join(truth, ["query_id", "cand_id"], "left_semi")
        .groupBy("dim", "query_id")
        .agg(F.count("*").alias("n_overlap"))
    )
    grid = queries.select("query_id").crossJoin(
        F.broadcast(spark.createDataFrame([(d,) for d in MAT_DIMS], "dim int"))
    )
    return (
        grid.join(overlap, ["dim", "query_id"], "left")
        .select(
            "dim",
            "query_id",
            F.coalesce("n_overlap", F.lit(0)).cast("long").alias("n_overlap"),
            rnd(
                F.coalesce("n_overlap", F.lit(0)).cast("double") / MAT_K, 4
            ).alias("recall_at_k"),
        )
    )


_MAT_ORACLE = f"""
WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
pairs AS (
  SELECT q.vec_id AS query_id, c.vec_id AS cand_id, d.dim,
         list_dot_product(q.e[1:d.dim], c.e[1:d.dim])
           / (sqrt(list_dot_product(q.e[1:d.dim], q.e[1:d.dim]))
              * sqrt(list_dot_product(c.e[1:d.dim], c.e[1:d.dim])))
           AS cosine_raw
  FROM emb q
  JOIN emb c ON q.vec_id < {MAT_QUERIES} AND c.vec_id != q.vec_id
  CROSS JOIN (SELECT unnest([{", ".join(str(d) for d in list(MAT_DIMS) + [MAT_FULL_DIM])}]) AS dim) d
),
topk AS (
  SELECT dim, query_id, cand_id FROM (
    SELECT *, row_number() OVER (PARTITION BY dim, query_id
                ORDER BY cosine_raw DESC, cand_id ASC) AS rk
    FROM pairs
  ) WHERE rk <= {MAT_K}
),
truth AS (
  SELECT query_id, cand_id FROM topk WHERE dim = {MAT_FULL_DIM}
),
overlap AS (
  SELECT t.dim, t.query_id, count(*) AS n_overlap
  FROM topk t JOIN truth tr
    ON t.query_id = tr.query_id AND t.cand_id = tr.cand_id
  WHERE t.dim != {MAT_FULL_DIM}
  GROUP BY t.dim, t.query_id
),
grid AS (
  SELECT d.dim, q.vec_id AS query_id
  FROM (SELECT unnest([{", ".join(str(d) for d in MAT_DIMS)}]) AS dim) d
  CROSS JOIN (SELECT vec_id FROM emb WHERE vec_id < {MAT_QUERIES}) q
)
SELECT CAST(g.dim AS INTEGER) AS dim, g.query_id,
       CAST(COALESCE(o.n_overlap, 0) AS BIGINT) AS n_overlap,
       round(COALESCE(o.n_overlap, 0) / CAST({MAT_K} AS DOUBLE) + {NUDGE}, 4)
         AS recall_at_k
FROM grid g LEFT JOIN overlap o
  ON g.dim = o.dim AND g.query_id = o.query_id
"""


# --------------------------------------------------------------------------
# 6. decision stump: best single split by information gain
# --------------------------------------------------------------------------

STUMP_CONVERT_VALUE = 90.0  #: label predicate, shared with the logistic
STUMP_COUNT_CAP = 30  #: n_events feature bins capped at this count
STUMP_VALUE_BIN = 5.0  #: mean-value feature bin width


def decision_stump_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DECISION STUMP TRAINED IN-PLAN: every candidate (feature,
    threshold) split of the user conversion label, scored by
    information gain over BOUNDED feature histograms, with the winning
    split flagged — the depth-1 tree next to
    ``logistic_churn_baseline``'s linear model, and the exact shape of
    a gradient-boosting split finder's inner loop (histogram-based
    split enumeration, the LightGBM discipline).

    Scale shape: one corpus pass reduces users to (feature, bin)
    histograms (bins capped by construction: event counts clip at
    ``STUMP_COUNT_CAP``, mean values bin at width ``STUMP_VALUE_BIN``
    over the generator's bounded value range); thresholds ARE the bin
    edges, so candidate enumeration and gain evaluation touch only the
    bounded histogram — never the corpus. Split sides are prefix sums
    along each feature's ordered bins (window over the bins)."""
    ev = load(spark, sf_dir, "events")
    feats = ev.groupBy("user_id").agg(
        F.count("*").alias("n_ev"),
        F.avg("value").alias("mv"),
        F.max(
            (
                (F.col("event_type") == "purchase")
                & (F.col("value") > STUMP_CONVERT_VALUE)
            ).cast("int")
        ).alias("y"),
    )
    binned = feats.select(
        F.expr(
            f"stack(2, 'n_events', CAST(least(n_ev, {STUMP_COUNT_CAP}) AS DOUBLE), "
            f"'mean_value', CAST(floor(mv / {STUMP_VALUE_BIN}) AS DOUBLE) "
            f"* {STUMP_VALUE_BIN}) "
            "as (feature, bin)"
        ),
        "y",
    )
    hist = binned.groupBy("feature", "bin").agg(
        F.count("*").alias("n"), F.sum("y").cast("long").alias("np")
    )
    wf = Window.partitionBy("feature").orderBy("bin")
    wtot = Window.partitionBy("feature")
    cum = hist.select(
        "feature",
        F.col("bin").alias("threshold"),
        F.sum("n").over(wf).alias("nl"),
        F.sum("np").over(wf).alias("npl"),
        F.sum("n").over(wtot).alias("nt"),
        F.sum("np").over(wtot).alias("npt"),
    ).where(F.col("nl") < F.col("nt"))  # right side must be non-empty

    def _ent(pos, n):
        p = pos.cast("double") / n.cast("double")
        q = 1.0 - p
        return -(
            F.when(p > 0, p * F.log(p)).otherwise(F.lit(0.0))
            + F.when(q > 0, q * F.log(q)).otherwise(F.lit(0.0))
        )

    nr = F.col("nt") - F.col("nl")
    npr = F.col("npt") - F.col("npl")
    gain = (
        _ent(F.col("npt"), F.col("nt"))
        - (F.col("nl").cast("double") / F.col("nt")) * _ent(F.col("npl"), F.col("nl"))
        - (nr.cast("double") / F.col("nt")) * _ent(npr, nr)
    )
    scored = cum.select(
        "feature",
        rnd("threshold", 4).alias("threshold"),
        F.col("nl").alias("n_left"),
        nr.alias("n_right"),
        rnd(gain, 6).alias("info_gain"),
    )
    wbest = Window.orderBy(
        F.col("info_gain").desc(), F.col("feature").asc(), F.col("threshold").asc()
    )
    return scored.withColumn(
        "is_best", F.row_number().over(wbest) == 1
    )


_STUMP_ORACLE = f"""
WITH feats AS (
  SELECT user_id, count(*) AS n_ev, avg(value) AS mv,
         max(CASE WHEN event_type = 'purchase'
                       AND value > {STUMP_CONVERT_VALUE}
                  THEN 1 ELSE 0 END) AS y
  FROM events GROUP BY user_id
),
binned AS (
  SELECT 'n_events' AS feature,
         CAST(least(n_ev, {STUMP_COUNT_CAP}) AS DOUBLE) AS bin, y
  FROM feats
  UNION ALL
  SELECT 'mean_value', floor(mv / {STUMP_VALUE_BIN}) * {STUMP_VALUE_BIN}, y
  FROM feats
),
hist AS (
  SELECT feature, bin, count(*) AS n, CAST(sum(y) AS BIGINT) AS np
  FROM binned GROUP BY 1, 2
),
cum AS (
  SELECT feature, bin AS threshold,
         sum(n) OVER (PARTITION BY feature ORDER BY bin
                      ROWS UNBOUNDED PRECEDING) AS nl,
         sum(np) OVER (PARTITION BY feature ORDER BY bin
                       ROWS UNBOUNDED PRECEDING) AS npl,
         sum(n) OVER (PARTITION BY feature) AS nt,
         sum(np) OVER (PARTITION BY feature) AS npt
  FROM hist
),
sides AS (SELECT * FROM cum WHERE nl < nt),
scored AS (
  SELECT feature,
         round(threshold + {NUDGE}, 4) AS threshold,
         CAST(nl AS BIGINT) AS n_left,
         CAST(nt - nl AS BIGINT) AS n_right,
         round(
           (CASE WHEN npt > 0 AND npt < nt
                 THEN -(CAST(npt AS DOUBLE) / nt) * ln(CAST(npt AS DOUBLE) / nt)
                      - (1.0 - CAST(npt AS DOUBLE) / nt)
                        * ln(1.0 - CAST(npt AS DOUBLE) / nt)
                 ELSE 0.0 END)
           - (CAST(nl AS DOUBLE) / nt)
             * (CASE WHEN npl > 0 AND npl < nl
                     THEN -(CAST(npl AS DOUBLE) / nl) * ln(CAST(npl AS DOUBLE) / nl)
                          - (1.0 - CAST(npl AS DOUBLE) / nl)
                            * ln(1.0 - CAST(npl AS DOUBLE) / nl)
                     ELSE 0.0 END)
           - (CAST(nt - nl AS DOUBLE) / nt)
             * (CASE WHEN npt - npl > 0 AND npt - npl < nt - nl
                     THEN -(CAST(npt - npl AS DOUBLE) / (nt - nl))
                            * ln(CAST(npt - npl AS DOUBLE) / (nt - nl))
                          - (1.0 - CAST(npt - npl AS DOUBLE) / (nt - nl))
                            * ln(1.0 - CAST(npt - npl AS DOUBLE) / (nt - nl))
                     ELSE 0.0 END)
           + {NUDGE}, 6) AS info_gain
  FROM sides
)
SELECT feature, threshold, n_left, n_right, info_gain,
       row_number() OVER (ORDER BY info_gain DESC, feature ASC,
                          threshold ASC) = 1 AS is_best
FROM scored
"""


# --------------------------------------------------------------------------
# 7. precision / recall / F1 at k for the BM25 ranking
# --------------------------------------------------------------------------


def retrieval_precision_recall_at_k(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """P@k / R@k / F1 for the BM25 ranking against the same binary
    relevance bar as MRR (tf >= REL_TF) — the set-based IR metrics
    next to ``retrieval_ndcg_mrr``'s rank-weighted ones: precision says
    how clean the page is, recall how much of the relevant pool it
    found, and the denominator of recall is the query's FULL relevant
    count over all postings, not just the retrieved ones.

    Scale shape: rides the shared BM25 scored-postings derivation
    (broadcast bounded query set, inverted-postings equi-join,
    per-token windows over that token's postings only); the metric
    aggregation is one grouped pass over the scored postings."""
    from flink_cookbook_spark.pipeline.retrieval import (
        REL_TF, TOP_K, _scored,
    )

    scored = _scored(spark, sf_dir)
    rel = (F.col("tf") >= REL_TF).cast("int")
    per = scored.groupBy("token").agg(
        F.sum(rel).cast("long").alias("n_rel_total"),
        F.sum(F.when(F.col("rank") <= TOP_K, rel).otherwise(F.lit(0)))
        .cast("long")
        .alias("n_rel_topk"),
    )
    p = F.col("n_rel_topk").cast("double") / TOP_K
    r = F.col("n_rel_topk").cast("double") / F.greatest(
        F.col("n_rel_total"), F.lit(1)
    ).cast("double")
    f1 = F.when(p + r > 0, 2.0 * p * r / (p + r)).otherwise(F.lit(0.0))
    return per.select(
        "token",
        "n_rel_total",
        "n_rel_topk",
        rnd(p, 6).alias("precision_at_k"),
        rnd(r, 6).alias("recall_at_k"),
        rnd(f1, 6).alias("f1_at_k"),
    )


def _pr_oracle() -> str:
    from flink_cookbook_spark.pipeline.retrieval import (
        _BM25_CTES, REL_TF, TOP_K,
    )

    return (
        _BM25_CTES
        + f"""
, per AS (
  SELECT token,
         CAST(sum(CASE WHEN tf >= {REL_TF} THEN 1 ELSE 0 END) AS BIGINT)
           AS n_rel_total,
         CAST(sum(CASE WHEN rank <= {TOP_K} AND tf >= {REL_TF}
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_rel_topk
  FROM ranked GROUP BY token
),
calc AS (
  SELECT *,
         CAST(n_rel_topk AS DOUBLE) / {TOP_K} AS p,
         CAST(n_rel_topk AS DOUBLE) / greatest(n_rel_total, 1) AS r
  FROM per
)
SELECT token, n_rel_total, n_rel_topk,
       round(p + {NUDGE}, 6) AS precision_at_k,
       round(r + {NUDGE}, 6) AS recall_at_k,
       round(CASE WHEN p + r > 0 THEN 2.0 * p * r / (p + r)
                  ELSE 0.0 END + {NUDGE}, 6) AS f1_at_k
FROM calc
"""
    )


register("welch_t_test", oracle=_WELCH_ORACLE, tags=("prepared-r10",))(welch_t_test)
register("pacf_durbin_levinson", oracle=_PACF_ORACLE,
         tags=("prepared-r10",))(pacf_durbin_levinson)
register("nelson_aalen_hazard", oracle=_NA_ORACLE,
         tags=("prepared-r10",))(nelson_aalen_hazard)
register("ewma_control_chart", oracle=_ewma_oracle(),
         tags=("prepared-r10",))(ewma_control_chart)
register("matryoshka_recall", oracle=_MAT_ORACLE,
         tags=("prepared-r10",))(matryoshka_recall)
register("decision_stump_split", oracle=_STUMP_ORACLE,
         tags=("prepared-r10",))(decision_stump_split)
register("retrieval_precision_recall_at_k", oracle=_pr_oracle(),
         tags=("prepared-r10",))(retrieval_precision_recall_at_k)


# ==========================================================================
# batch 2
# ==========================================================================

# --------------------------------------------------------------------------
# 8. Page-Hinkley drift replay
# --------------------------------------------------------------------------

PH_DELTA = 0.1  #: magnitude tolerance subtracted per step (value units)
PH_LAMBDA = 10.0  #: alarm threshold on the PH excursion


def page_hinkley_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PAGE-HINKLEY DRIFT REPLAY over each event type's daily mean
    series: m_t = sum_{i<=t}(x_i - xbar_i - delta) with xbar_i the
    RUNNING mean at step i, excursion PH_t = m_t - min_{0<=i<=t} m_i
    with m_0 = 0 (the min includes the initial state, matching the
    streaming twin ``streaming/pagehinkley.py`` which seeds
    m_min = 0.0), alarm when PH_t exceeds lambda — the classic
    sequential mean-shift detector, completing the drift battery's
    SEQUENTIAL corner (CUSUM here is a two-half excursion test; PH is
    the online form that names its alarm day). Alarmed on the ROUNDED
    excursion so a last-ulp running-mean divergence cannot flip the
    flag.

    Scale shape: one combinable (event_type, day) aggregate; three
    window passes (running mean, running sum, prefix min) over the SAME
    per-key ordering — one exchange, calendar-bounded partitions."""
    ev = load(spark, sf_dir, "events")
    daily = (
        ev.select(
            "event_type",
            (F.floor(F.col("ts").cast("double") / 86400) * 86400)
            .cast("long")
            .alias("day_start"),
            "value",
        )
        .groupBy("event_type", "day_start")
        .agg(F.avg("value").alias("x"))
    )
    w = Window.partitionBy("event_type").orderBy("day_start")
    wp = w.rowsBetween(Window.unboundedPreceding, 0)
    dev = daily.select(
        "event_type",
        "day_start",
        "x",
        (F.col("x") - F.avg("x").over(wp) - PH_DELTA).alias("dev"),
    )
    m = dev.select(
        "event_type",
        "day_start",
        "x",
        F.sum("dev").over(wp).alias("m"),
    )
    ph = m.select(
        "event_type",
        "day_start",
        rnd("x", 4).alias("x"),
        (F.col("m") - F.least(F.lit(0.0), F.min("m").over(wp))).alias(
            "ph_raw"
        ),
    )
    ph_r = rnd("ph_raw", 4)
    return ph.select(
        "event_type",
        "day_start",
        "x",
        ph_r.alias("ph_stat"),
        (ph_r > PH_LAMBDA).alias("alarm"),
    )


_PH_ORACLE = f"""
WITH daily AS (
  SELECT event_type,
         (CAST(floor(epoch(ts)) AS BIGINT) // 86400) * 86400 AS day_start,
         avg(value) AS x
  FROM events GROUP BY 1, 2
),
dev AS (
  SELECT event_type, day_start, x,
         x - avg(x) OVER (PARTITION BY event_type ORDER BY day_start
                          ROWS UNBOUNDED PRECEDING) - {PH_DELTA} AS dev
  FROM daily
),
m AS (
  SELECT event_type, day_start, x,
         sum(dev) OVER (PARTITION BY event_type ORDER BY day_start
                        ROWS UNBOUNDED PRECEDING) AS m
  FROM dev
),
ph AS (
  SELECT event_type, day_start, round(x + {NUDGE}, 4) AS x,
         m - least(0, min(m) OVER (PARTITION BY event_type
                                   ORDER BY day_start
                                   ROWS UNBOUNDED PRECEDING)) AS ph_raw
  FROM m
)
SELECT event_type, day_start, x,
       round(ph_raw + {NUDGE}, 4) AS ph_stat,
       round(ph_raw + {NUDGE}, 4) > {PH_LAMBDA} AS alarm
FROM ph
"""


# --------------------------------------------------------------------------
# 9. Theil inequality index with between/within decomposition
# --------------------------------------------------------------------------


def theil_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THEIL-T INEQUALITY of document token counts, DECOMPOSED by
    source: T = (1/N) sum (x/mu) ln(x/mu) splits EXACTLY into
    between-group + within-group components — the property Gini lacks
    (``revenue_concentration_gini`` compresses to one number; Theil
    says how much inequality lives BETWEEN sources vs INSIDE them,
    which is the actionable split for corpus balancing). The exact
    additivity T = B + W is itself a pytest invariant.

    Scale shape: ONE combinable per-source aggregate carrying
    (n, sum x, sum x*ln x) — sufficient statistics for every component
    — then pure algebra over the source-bounded rows. Per-source rows
    emit group stats + contribution; the global T/B/W ride along as
    constant columns."""
    docs = load(spark, sf_dir, "documents")
    x = F.size(F.split("text", " ")).cast("double")
    per = (
        docs.select("source", x.alias("x"))
        .where(F.col("x") > 0)
        .groupBy("source")
        .agg(
            F.count("*").alias("n_g"),
            F.sum("x").alias("s_g"),
            F.sum(F.col("x") * F.log("x")).alias("sxlx_g"),
        )
    )
    tot = per.agg(
        F.sum("n_g").alias("n"),
        F.sum("s_g").alias("s"),
        F.sum("sxlx_g").alias("sxlx"),
    )
    j = per.crossJoin(F.broadcast(tot))
    mu = F.col("s") / F.col("n")
    mu_g = F.col("s_g") / F.col("n_g")
    # T_g = (1/(n_g*mu_g)) * (sxlx_g - ln(mu_g)*s_g)
    t_g = (F.col("sxlx_g") - F.log(mu_g) * F.col("s_g")) / (
        F.col("n_g") * mu_g
    )
    share_g = F.col("s_g") / F.col("s")  # = (n_g/N)(mu_g/mu)
    between = F.log(mu_g / mu) * share_g  # summed over groups -> B
    total_t = (F.col("sxlx") - F.log(mu) * F.col("s")) / (F.col("n") * mu)
    wall = Window.partitionBy()
    out = j.select(
        "source",
        F.col("n_g").alias("n_docs"),
        rnd(mu_g, 4).alias("mean_tokens"),
        rnd(t_g, 6).alias("theil_within_group"),
        rnd(share_g, 6).alias("token_share"),
        rnd(between, 6).alias("between_contrib"),
        rnd(total_t, 6).alias("theil_total"),
        rnd(F.sum(between).over(wall), 6).alias("theil_between"),
        rnd(F.sum(share_g * t_g).over(wall), 6).alias("theil_within"),
    )
    return out


_THEIL_ORACLE = f"""
WITH per AS (
  SELECT source, count(*) AS n_g, sum(x) AS s_g, sum(x * ln(x)) AS sxlx_g
  FROM (
    SELECT source,
           CAST(len(string_split(text, ' ')) AS DOUBLE) AS x
    FROM documents
  ) WHERE x > 0
  GROUP BY source
),
tot AS (
  SELECT sum(n_g) AS n, sum(s_g) AS s, sum(sxlx_g) AS sxlx FROM per
),
j AS (
  SELECT p.*, t.n, t.s, t.sxlx,
         t.s / t.n AS mu, p.s_g / p.n_g AS mu_g,
         (p.sxlx_g - ln(p.s_g / p.n_g) * p.s_g) / (p.n_g * (p.s_g / p.n_g))
           AS t_g,
         p.s_g / t.s AS share_g,
         ln((p.s_g / p.n_g) / (t.s / t.n)) * (p.s_g / t.s) AS between_c,
         (t.sxlx - ln(t.s / t.n) * t.s) / (t.n * (t.s / t.n)) AS total_t
  FROM per p CROSS JOIN tot t
)
SELECT source,
       CAST(n_g AS BIGINT) AS n_docs,
       round(mu_g + {NUDGE}, 4) AS mean_tokens,
       round(t_g + {NUDGE}, 6) AS theil_within_group,
       round(share_g + {NUDGE}, 6) AS token_share,
       round(between_c + {NUDGE}, 6) AS between_contrib,
       round(total_t + {NUDGE}, 6) AS theil_total,
       round(sum(between_c) OVER () + {NUDGE}, 6) AS theil_between,
       round(sum(share_g * t_g) OVER () + {NUDGE}, 6) AS theil_within
FROM j
"""


# --------------------------------------------------------------------------
# 10. Kruskal-Wallis by binned midranks
# --------------------------------------------------------------------------

KW_BIN_DP = 2  #: values bin at this rounding before midranking


def kruskal_wallis_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KRUSKAL-WALLIS one-way rank test of ``value`` across event
    types, computed on BINNED MIDRANKS (values rounded to ``KW_BIN_DP``
    decimals; every observation in a bin shares the bin's midrank) —
    the rank-based ANOVA next to ``anova_oneway``'s parametric one and
    ``mann_whitney_u``'s two-sample case, with the H statistic
    tie-corrected for the binning it performs. Per-group mean ranks
    emit so the DIRECTION of separation is visible, with H / corrected
    H / df as constant columns.

    Scale shape: the binned-AUC discipline — one combinable
    (bin, event_type) histogram bounds everything downstream: the
    midrank window runs over the bin axis (bounded by the generator's
    fixed value range x 10^dp, data-independent), never a
    corpus-cardinality rank sort."""
    ev = load(spark, sf_dir, "events")
    b = F.round(F.col("value") + F.lit(NUDGE), KW_BIN_DP)
    hist = ev.groupBy(b.alias("bin"), "event_type").agg(
        F.count("*").alias("n")
    )
    bins = hist.groupBy("bin").agg(F.sum("n").alias("t"))
    wb = Window.orderBy("bin")
    ranked_bins = bins.select(
        "bin",
        "t",
        (
            F.coalesce(
                F.sum("t").over(wb.rowsBetween(Window.unboundedPreceding, -1)),
                F.lit(0),
            ).cast("double")
            + (F.col("t").cast("double") + 1.0) / 2.0
        ).alias("midrank"),
    )
    per = (
        hist.join(ranked_bins, "bin")
        .groupBy("event_type")
        .agg(
            F.sum("n").alias("n_g"),
            F.sum(F.col("n").cast("double") * F.col("midrank")).alias("r_g"),
        )
    )
    ties = ranked_bins.agg(
        F.sum(
            F.col("t").cast("double") * F.col("t") * F.col("t")
            - F.col("t").cast("double")
        ).alias("tie_sum")
    )
    tot = per.agg(
        F.sum("n_g").alias("n"),
        F.count("*").alias("k"),
        F.sum(
            F.col("r_g") * F.col("r_g") / F.col("n_g").cast("double")
        ).alias("rr"),
    )
    j = per.crossJoin(F.broadcast(tot)).crossJoin(F.broadcast(ties))
    nn = F.col("n").cast("double")
    h = 12.0 / (nn * (nn + 1.0)) * F.col("rr") - 3.0 * (nn + 1.0)
    c = 1.0 - F.col("tie_sum") / (nn * nn * nn - nn)
    return j.select(
        "event_type",
        F.col("n_g").alias("n_obs"),
        rnd(F.col("r_g") / F.col("n_g").cast("double"), 4).alias("mean_rank"),
        rnd(h, 4).alias("h_stat"),
        rnd(F.when(c > 0, h / c), 4).alias("h_corrected"),
        (F.col("k") - 1).cast("int").alias("df"),
    )


_KW_ORACLE = f"""
WITH hist AS (
  SELECT round(value + {NUDGE}, {KW_BIN_DP}) AS bin, event_type,
         count(*) AS n
  FROM events GROUP BY 1, 2
),
bins AS (SELECT bin, sum(n) AS t FROM hist GROUP BY bin),
ranked_bins AS (
  SELECT bin, t,
         CAST(COALESCE(sum(t) OVER (ORDER BY bin
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS DOUBLE)
           + (CAST(t AS DOUBLE) + 1.0) / 2.0 AS midrank
  FROM bins
),
per AS (
  SELECT h.event_type, sum(h.n) AS n_g,
         sum(CAST(h.n AS DOUBLE) * r.midrank) AS r_g
  FROM hist h JOIN ranked_bins r ON h.bin = r.bin
  GROUP BY h.event_type
),
ties AS (
  SELECT sum(CAST(t AS DOUBLE) * t * t - CAST(t AS DOUBLE)) AS tie_sum
  FROM ranked_bins
),
tot AS (
  SELECT sum(n_g) AS n, count(*) AS k,
         sum(r_g * r_g / CAST(n_g AS DOUBLE)) AS rr
  FROM per
)
SELECT p.event_type,
       CAST(p.n_g AS BIGINT) AS n_obs,
       round(p.r_g / CAST(p.n_g AS DOUBLE) + {NUDGE}, 4) AS mean_rank,
       round(12.0 / (CAST(t.n AS DOUBLE) * (t.n + 1.0)) * t.rr
             - 3.0 * (t.n + 1.0) + {NUDGE}, 4) AS h_stat,
       round(CASE WHEN 1.0 - ti.tie_sum
                       / (CAST(t.n AS DOUBLE) * t.n * t.n - t.n) > 0
                  THEN (12.0 / (CAST(t.n AS DOUBLE) * (t.n + 1.0)) * t.rr
                        - 3.0 * (t.n + 1.0))
                       / (1.0 - ti.tie_sum
                          / (CAST(t.n AS DOUBLE) * t.n * t.n - t.n)) END
             + {NUDGE}, 4) AS h_corrected,
       CAST(t.k - 1 AS INTEGER) AS df
FROM per p CROSS JOIN tot t CROSS JOIN ties ti
"""


# --------------------------------------------------------------------------
# 11. KS separation of the probabilistic scorer
# --------------------------------------------------------------------------

KSSEP_BINS = 100  #: fixed score grid (finer than the mleval reliability 10)


def score_ks_separation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KS SEPARATION STATISTIC of the closed-form probabilistic scorer
    (the credit-scoring "KS": max gap between the positive and negative
    cumulative score distributions), computed on a fixed
    ``KSSEP_BINS``-cell histogram of the same scorer the mleval family
    evaluates — calibration says the probabilities are honest, ROC
    sweeps thresholds, KS names the single best separating threshold
    and how much separation exists there.

    Scale shape: one corpus pass to the bounded histogram; the CDF
    window and the argmax run over <= ``KSSEP_BINS`` rows."""
    from flink_cookbook_spark.operators.mleval import _p, _y

    ev = load(spark, sf_dir, "events")
    b = F.least(F.floor(_p() * KSSEP_BINS), F.lit(KSSEP_BINS - 1)).cast(
        "long"
    )
    hist = ev.select(b.alias("bin"), _y().alias("y")).groupBy("bin").agg(
        F.count("*").alias("n"), F.sum("y").cast("long").alias("np")
    )
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    tots = hist.agg(
        F.sum("n").alias("n_total"), F.sum("np").alias("n_pos")
    )
    cum = hist.crossJoin(F.broadcast(tots)).select(
        "bin",
        "n_total",
        "n_pos",
        (
            F.sum("np").over(w).cast("double") / F.col("n_pos")
        ).alias("cpos"),
        (
            F.sum(F.col("n") - F.col("np")).over(w).cast("double")
            / (F.col("n_total") - F.col("n_pos"))
        ).alias("cneg"),
    )
    gap = cum.select(
        "n_total",
        "n_pos",
        "bin",
        rnd(F.abs(F.col("cpos") - F.col("cneg")), 6).alias("gap"),
    )
    return (
        gap.orderBy(F.col("gap").desc(), F.col("bin").asc())
        .limit(1)
        .select(
            "n_total",
            "n_pos",
            F.col("gap").alias("ks_stat"),
            F.col("bin").alias("ks_bin"),
            rnd(
                (F.col("bin").cast("double") + 1.0) / KSSEP_BINS, 4
            ).alias("ks_threshold"),
        )
    )


def _kssep_oracle() -> str:
    from flink_cookbook_spark.operators.mleval import _P_SQL, _Y_SQL

    return f"""
WITH hist AS (
  SELECT CAST(least(floor(({_P_SQL}) * {KSSEP_BINS}), {KSSEP_BINS - 1})
              AS BIGINT) AS bin,
         count(*) AS n,
         CAST(sum({_Y_SQL}) AS BIGINT) AS np
  FROM events GROUP BY 1
),
tots AS (
  SELECT CAST(sum(n) AS BIGINT) AS n_total, CAST(sum(np) AS BIGINT) AS n_pos
  FROM hist
),
cum AS (
  SELECT h.bin, t.n_total, t.n_pos,
         CAST(sum(h.np) OVER (ORDER BY h.bin ROWS UNBOUNDED PRECEDING)
              AS DOUBLE) / t.n_pos AS cpos,
         CAST(sum(h.n - h.np) OVER (ORDER BY h.bin ROWS UNBOUNDED PRECEDING)
              AS DOUBLE) / (t.n_total - t.n_pos) AS cneg
  FROM hist h CROSS JOIN tots t
),
gap AS (
  SELECT n_total, n_pos, bin,
         round(abs(cpos - cneg) + {NUDGE}, 6) AS gap
  FROM cum
)
SELECT n_total, n_pos, gap AS ks_stat, bin AS ks_bin,
       round((CAST(bin AS DOUBLE) + 1.0) / {KSSEP_BINS} + {NUDGE}, 4)
         AS ks_threshold
FROM gap ORDER BY gap DESC, bin ASC LIMIT 1
"""


# --------------------------------------------------------------------------
# 12. linear-time MMD drift between embedding halves
# --------------------------------------------------------------------------

MMD_SAMPLE = 256  #: per-group deterministic sample size (bounded)
MMD_BW2 = 8.0  #: RBF kernel bandwidth^2 (fixed literal, both engines)


def mmd_linear_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LINEAR-TIME MMD between the even- and odd-id halves of the
    embedding corpus: the kernel two-sample test for DISTRIBUTION drift
    in embedding space (``embedding_centroid_drift`` sees the mean
    move; MMD with an RBF kernel sees shape changes the mean hides),
    using Gretton's linear-time estimator — h(i) = k(a,a') + k(b,b')
    - k(a,b') - k(a',b) averaged over disjoint quadruples — so the
    kernel never touches sample^2 pairs.

    Scale shape: each group reduces to a ``MMD_SAMPLE``-row
    deterministic prefix sample via orderBy().limit()
    (TakeOrderedAndProject — the IVF bounded-sample discipline);
    pairing, the quadruple join, and the average run over those
    bounded rows only. Squared distances expand to
    |x|^2+|y|^2-2x.y over the same sequential-fold dot product DuckDB
    uses, so kernel inputs are bit-identical."""
    emb = load(spark, sf_dir, "embeddings").withColumn(
        "emb", F.col("embedding").cast("array<double>")
    )

    def _dot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    def group(par: int) -> DataFrame:
        g = (
            emb.where(F.col("vec_id") % 2 == par)
            .select("vec_id", "emb")
            .orderBy("vec_id")
            .limit(MMD_SAMPLE)
        )
        w = Window.orderBy("vec_id")  # bounded: MMD_SAMPLE rows
        return g.select(
            F.col("emb"),
            _dot(F.col("emb"), F.col("emb")).alias("n2"),
            F.row_number().over(w).alias("idx"),
        ).select(
            "emb",
            "n2",
            ((F.col("idx") - 1) / 2).cast("long").alias("p"),
            ((F.col("idx") - 1) % 2).alias("slot"),
        )

    a, b = group(0), group(1)

    def pick(df: DataFrame, slot: int, tag: str) -> DataFrame:
        return df.where(F.col("slot") == slot).select(
            "p",
            F.col("emb").alias(f"e_{tag}"),
            F.col("n2").alias(f"n2_{tag}"),
        )

    quad = (
        pick(a, 0, "a0")
        .join(pick(a, 1, "a1"), "p")
        .join(pick(b, 0, "b0"), "p")
        .join(pick(b, 1, "b1"), "p")
    )

    def k(x: str, y: str):
        d2 = (
            F.col(f"n2_{x}")
            + F.col(f"n2_{y}")
            - 2.0 * _dot(F.col(f"e_{x}"), F.col(f"e_{y}"))
        )
        return F.exp(-d2 / (2.0 * MMD_BW2))

    h = k("a0", "a1") + k("b0", "b1") - k("a0", "b1") - k("a1", "b0")
    return quad.agg(
        F.count("*").alias("n_quadruples"),
        rnd(F.avg(h), 6).alias("mmd_linear"),
        rnd(F.avg(k("a0", "a1")), 6).alias("mean_k_within_a"),
        rnd(F.avg(k("b0", "b1")), 6).alias("mean_k_within_b"),
        rnd(F.avg(k("a0", "b1")), 6).alias("mean_k_cross"),
    )


def _mmd_oracle() -> str:
    def gcte(name: str, par: int) -> str:
        return f"""{name}_s AS (
  SELECT vec_id, embedding::DOUBLE[] AS e
  FROM embeddings WHERE vec_id % 2 = {par}
  ORDER BY vec_id LIMIT {MMD_SAMPLE}
),
{name} AS (
  SELECT e, list_dot_product(e, e) AS n2,
         CAST((row_number() OVER (ORDER BY vec_id) - 1) // 2 AS BIGINT) AS p,
         (row_number() OVER (ORDER BY vec_id) - 1) % 2 AS slot
  FROM {name}_s
)"""

    def kk(x: str, y: str) -> str:
        return (
            f"exp(-({x}.n2 + {y}.n2 - 2.0 * list_dot_product({x}.e, {y}.e))"
            f" / (2.0 * {MMD_BW2}))"
        )

    return f"""
WITH {gcte("ga", 0)},
{gcte("gb", 1)},
quad AS (
  SELECT a0.p,
         a0.e AS ea0, a0.n2 AS na0, a1.e AS ea1, a1.n2 AS na1,
         b0.e AS eb0, b0.n2 AS nb0, b1.e AS eb1, b1.n2 AS nb1
  FROM (SELECT * FROM ga WHERE slot = 0) a0
  JOIN (SELECT * FROM ga WHERE slot = 1) a1 ON a0.p = a1.p
  JOIN (SELECT * FROM gb WHERE slot = 0) b0 ON a0.p = b0.p
  JOIN (SELECT * FROM gb WHERE slot = 1) b1 ON a0.p = b1.p
),
kerns AS (
  SELECT p,
         exp(-(na0 + na1 - 2.0 * list_dot_product(ea0, ea1))
             / (2.0 * {MMD_BW2})) AS kaa,
         exp(-(nb0 + nb1 - 2.0 * list_dot_product(eb0, eb1))
             / (2.0 * {MMD_BW2})) AS kbb,
         exp(-(na0 + nb1 - 2.0 * list_dot_product(ea0, eb1))
             / (2.0 * {MMD_BW2})) AS kab,
         exp(-(na1 + nb0 - 2.0 * list_dot_product(ea1, eb0))
             / (2.0 * {MMD_BW2})) AS kba
  FROM quad
)
SELECT CAST(count(*) AS BIGINT) AS n_quadruples,
       round(avg(kaa + kbb - kab - kba) + {NUDGE}, 6) AS mmd_linear,
       round(avg(kaa) + {NUDGE}, 6) AS mean_k_within_a,
       round(avg(kbb) + {NUDGE}, 6) AS mean_k_within_b,
       round(avg(kab) + {NUDGE}, 6) AS mean_k_cross
FROM kerns
"""


register("page_hinkley_drift", oracle=_PH_ORACLE,
         tags=("prepared-r10",))(page_hinkley_drift)
register("theil_decomposition", oracle=_THEIL_ORACLE,
         tags=("prepared-r10",))(theil_decomposition)
register("kruskal_wallis_binned", oracle=_KW_ORACLE,
         tags=("prepared-r10",))(kruskal_wallis_binned)
register("score_ks_separation", oracle=_kssep_oracle(),
         tags=("prepared-r10",))(score_ks_separation)
register("mmd_linear_drift", oracle=_mmd_oracle(),
         tags=("prepared-r10",))(mmd_linear_drift)


# ==========================================================================
# batch 3
# ==========================================================================

# --------------------------------------------------------------------------
# 13. Mann-Kendall trend test + Sen's slope
# --------------------------------------------------------------------------

MK_Z_CRIT = 1.96  #: two-sided normal critical value at alpha = 0.05


def mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MANN-KENDALL TREND TEST with SEN'S SLOPE per event type over the
    daily-mean series: S = sum_{i<j} sign(x_j - x_i), tie-corrected
    variance, continuity-corrected Z, and the distribution-free slope
    estimate median{(x_j - x_i)/(t_j - t_i)} — the standard monotone-
    trend battery that CUSUM/changepoint (level shifts) and Holt
    (parametric trend) do not cover. Daily means are rounded to 9 dp
    BEFORE pairing (the ACF discipline) so sign() and the pairwise
    slopes run on bit-identical doubles in both engines; the trend
    label reads the ROUNDED Z so a last-ulp cannot flip it.

    Scale shape: the pairwise stage is a self-equi-join on event_type
    over the DAILY aggregate — calendar-bounded (days^2/2 pairs per
    type, never event-cardinality). Sen's slope is an exact percentile
    over those bounded pairs."""
    ev = load(spark, sf_dir, "events")
    daily = (
        ev.select(
            "event_type",
            (F.floor(F.col("ts").cast("double") / 86400) * 86400)
            .cast("long")
            .alias("day_start"),
            "value",
        )
        .groupBy("event_type", "day_start")
        .agg(F.round(F.avg("value") + F.lit(NUDGE), 9).alias("x"))
    )
    d1 = daily.select(
        "event_type", F.col("day_start").alias("t1"), F.col("x").alias("x1")
    )
    d2 = daily.select(
        "event_type", F.col("day_start").alias("t2"), F.col("x").alias("x2")
    )
    pairs = (
        d1.join(d2, "event_type")
        .where(F.col("t2") > F.col("t1"))
        .select(
            "event_type",
            F.signum(F.col("x2") - F.col("x1")).cast("long").alias("sgn"),
            F.round(
                (F.col("x2") - F.col("x1"))
                / ((F.col("t2") - F.col("t1")) / F.lit(86400.0))
                + F.lit(NUDGE),
                9,
            ).alias("slope"),
        )
    )
    per = pairs.groupBy("event_type").agg(
        F.sum("sgn").alias("s_stat"),
        F.expr("percentile(slope, 0.5)").alias("sen_raw"),
    )
    ties = (
        daily.groupBy("event_type", "x")
        .agg(F.count("*").alias("t"))
        .groupBy("event_type")
        .agg(
            F.sum(
                F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
            ).alias("tie_term")
        )
    )
    nn = daily.groupBy("event_type").agg(F.count("*").alias("n_days"))
    j = nn.join(per, "event_type").join(ties, "event_type")
    n = F.col("n_days").cast("double")
    var_s = (
        n * (n - 1) * (2 * n + 5) - F.col("tie_term").cast("double")
    ) / 18.0
    z_raw = (
        F.when(F.col("s_stat") > 0, (F.col("s_stat") - 1) / F.sqrt(var_s))
        .when(F.col("s_stat") < 0, (F.col("s_stat") + 1) / F.sqrt(var_s))
        .otherwise(F.lit(0.0))
    )
    z_r = rnd(z_raw, 4)
    return j.select(
        "event_type",
        "n_days",
        "s_stat",
        rnd(var_s, 4).alias("var_s"),
        z_r.alias("z_stat"),
        rnd("sen_raw", 6).alias("sen_slope_per_day"),
        F.when(z_r > MK_Z_CRIT, F.lit("increasing"))
        .when(z_r < -MK_Z_CRIT, F.lit("decreasing"))
        .otherwise(F.lit("no_trend"))
        .alias("trend"),
    )


_MK_ORACLE = f"""
WITH daily AS (
  SELECT event_type,
         (CAST(floor(epoch(ts)) AS BIGINT) // 86400) * 86400 AS day_start,
         round(avg(value) + {NUDGE}, 9) AS x
  FROM events GROUP BY 1, 2
),
pairs AS (
  SELECT a.event_type,
         CAST(sign(b.x - a.x) AS BIGINT) AS sgn,
         round((b.x - a.x) / ((b.day_start - a.day_start) / 86400.0)
               + {NUDGE}, 9) AS slope
  FROM daily a JOIN daily b
    ON a.event_type = b.event_type AND b.day_start > a.day_start
),
per AS (
  SELECT event_type, CAST(sum(sgn) AS BIGINT) AS s_stat,
         quantile_cont(slope, 0.5) AS sen_raw
  FROM pairs GROUP BY 1
),
ties AS (
  SELECT event_type,
         CAST(sum(t * (t - 1) * (2 * t + 5)) AS DOUBLE) AS tie_term
  FROM (SELECT event_type, x, count(*) AS t FROM daily GROUP BY 1, 2)
  GROUP BY 1
),
nn AS (SELECT event_type, count(*) AS n_days FROM daily GROUP BY 1),
j AS (
  SELECT nn.event_type, nn.n_days, per.s_stat, per.sen_raw,
         (CAST(nn.n_days AS DOUBLE) * (nn.n_days - 1) * (2 * nn.n_days + 5)
          - ties.tie_term) / 18.0 AS var_s,
         round(CASE WHEN per.s_stat > 0
                    THEN (per.s_stat - 1) / sqrt(
                      (CAST(nn.n_days AS DOUBLE) * (nn.n_days - 1)
                       * (2 * nn.n_days + 5) - ties.tie_term) / 18.0)
                    WHEN per.s_stat < 0
                    THEN (per.s_stat + 1) / sqrt(
                      (CAST(nn.n_days AS DOUBLE) * (nn.n_days - 1)
                       * (2 * nn.n_days + 5) - ties.tie_term) / 18.0)
                    ELSE 0.0 END + {NUDGE}, 4) AS z_r
  FROM nn JOIN per ON nn.event_type = per.event_type
          JOIN ties ON nn.event_type = ties.event_type
)
SELECT event_type, n_days, s_stat,
       round(var_s + {NUDGE}, 4) AS var_s,
       z_r AS z_stat,
       round(sen_raw + {NUDGE}, 6) AS sen_slope_per_day,
       CASE WHEN z_r > {MK_Z_CRIT} THEN 'increasing'
            WHEN z_r < -{MK_Z_CRIT} THEN 'decreasing'
            ELSE 'no_trend' END AS trend
FROM j
"""


# --------------------------------------------------------------------------
# 14. held-out unigram perplexity (train/eval split LM evaluation)
# --------------------------------------------------------------------------

PPL_TRAIN_MOD = 10  #: deterministic split modulus over doc_id
PPL_TRAIN_LT = 8  #: doc_id % MOD < LT -> train (80/20 split)
LN2 = 0.6931471805599453  #: math.log(2) as a shared Python-float literal


def unigram_perplexity_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HELD-OUT UNIGRAM PERPLEXITY per source: train an add-one-
    smoothed unigram LM on the deterministic 80% doc_id split, then
    score the held-out 20% — cross-entropy (bits/token), perplexity,
    and OOV share per source. This is the classic cheap corpus-quality
    / domain-shift probe a training-data pipeline runs before paying
    for a real LM pass: a source whose held-out perplexity under the
    corpus LM is an outlier is distributionally unlike the rest.
    Perplexity is exponentiated from the ROUNDED cross-entropy so both
    engines pow() identical doubles.

    Scale shape: token explode -> one combinable count aggregate
    (vocab-bounded), a 1-row totals broadcast, an eval-side
    vocab-bounded left join, then one per-source aggregate. No windows,
    no driver loops; everything map-side combinable."""
    docs = load(spark, sf_dir, "documents")
    train_tok = docs.where(
        F.col("doc_id") % PPL_TRAIN_MOD < PPL_TRAIN_LT
    ).select(F.explode(F.split("text", " ")).alias("token"))
    counts = train_tok.groupBy("token").agg(F.count("*").alias("c"))
    tot = counts.agg(
        F.sum("c").alias("n_train"), F.count("*").alias("v_train")
    )
    ev = docs.where(F.col("doc_id") % PPL_TRAIN_MOD >= PPL_TRAIN_LT).select(
        "source", F.explode(F.split("text", " ")).alias("token")
    )
    j = ev.join(counts, "token", "left").crossJoin(F.broadcast(tot))
    denom = (F.col("n_train") + F.col("v_train") + 1).cast("double")
    logp = F.log(
        (F.coalesce(F.col("c"), F.lit(0)) + 1).cast("double") / denom
    )
    agg = j.groupBy("source").agg(
        F.count("*").alias("n_tokens"),
        F.sum(F.when(F.col("c").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_oov"),
        F.avg(logp).alias("mean_lp"),
    )
    h = rnd(-F.col("mean_lp") / F.lit(LN2), 6)
    return agg.select(
        "source",
        "n_tokens",
        "n_oov",
        rnd(F.col("n_oov") / F.col("n_tokens"), 6).alias("oov_share"),
        h.alias("cross_entropy_bits"),
        rnd(F.pow(F.lit(2.0), h), 4).alias("perplexity"),
    )


_PPL_ORACLE = f"""
WITH train_tok AS (
  SELECT unnest(string_split(text, ' ')) AS token
  FROM documents WHERE doc_id % {PPL_TRAIN_MOD} < {PPL_TRAIN_LT}
),
counts AS (SELECT token, count(*) AS c FROM train_tok GROUP BY 1),
tot AS (
  SELECT CAST(sum(c) AS BIGINT) AS n_train, count(*) AS v_train FROM counts
),
ev AS (
  SELECT source, unnest(string_split(text, ' ')) AS token
  FROM documents WHERE doc_id % {PPL_TRAIN_MOD} >= {PPL_TRAIN_LT}
),
j AS (
  SELECT e.source, c.c, t.n_train, t.v_train
  FROM ev e LEFT JOIN counts c ON e.token = c.token CROSS JOIN tot t
),
agg AS (
  SELECT source, count(*) AS n_tokens,
         CAST(sum(CASE WHEN c IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_oov,
         avg(ln(CAST(coalesce(c, 0) + 1 AS DOUBLE)
                / CAST(n_train + v_train + 1 AS DOUBLE))) AS mean_lp
  FROM j GROUP BY 1
)
SELECT source, n_tokens, n_oov,
       round(CAST(n_oov AS DOUBLE) / n_tokens + {NUDGE}, 6) AS oov_share,
       round(-mean_lp / {LN2} + {NUDGE}, 6) AS cross_entropy_bits,
       round(pow(2.0, round(-mean_lp / {LN2} + {NUDGE}, 6)) + {NUDGE}, 4)
         AS perplexity
FROM agg
"""


# --------------------------------------------------------------------------
# 15. pairwise Jensen-Shannon divergence between source unigram mixes
# --------------------------------------------------------------------------

INV_LN2 = 1.4426950408889634  #: 1/ln(2) as a shared Python-float literal


def jensen_shannon_source_divergence(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PAIRWISE JENSEN-SHANNON DIVERGENCE (bits) between every source
    pair's unigram distribution — the symmetric, bounded [0,1]
    distance behind data-mixture design (KL is asymmetric and infinite
    on disjoint support; JS is neither). Decomposed so only SHARED
    tokens need the join: an exclusive token contributes exactly
    p/2 bits, so JS = 0.5*sum_shared[p*log2(2p/(p+q)) +
    q*log2(2q/(p+q))] + (1-shared_mass_a)/2 + (1-shared_mass_b)/2.
    log2 is expressed as ln * INV_LN2 with the SAME literal on both
    engines.

    Scale shape: per-source token counts (combinable), a broadcast
    totals join, then a self-equi-join ON TOKEN (each token expands to
    at most sources^2 pairs — vocab x pairs rows, never corpus-
    cardinality), one pair-bounded aggregate."""
    docs = load(spark, sf_dir, "documents")
    tok = docs.select(
        "source", F.explode(F.split("text", " ")).alias("token")
    )
    counts = tok.groupBy("source", "token").agg(F.count("*").alias("c"))
    totals = tok.groupBy("source").agg(F.count("*").alias("n"))
    probs = counts.join(F.broadcast(totals), "source").select(
        "source",
        "token",
        (F.col("c").cast("double") / F.col("n")).alias("p"),
    )
    a = probs.select(
        F.col("source").alias("source_a"),
        "token",
        F.col("p").alias("pa"),
    )
    b = probs.select(
        F.col("source").alias("source_b"),
        "token",
        F.col("p").alias("pb"),
    )
    pairs = a.join(b, "token").where(F.col("source_a") < F.col("source_b"))
    term = F.col("pa") * F.log(
        F.lit(2.0) * F.col("pa") / (F.col("pa") + F.col("pb"))
    ) + F.col("pb") * F.log(
        F.lit(2.0) * F.col("pb") / (F.col("pa") + F.col("pb"))
    )
    agg = pairs.groupBy("source_a", "source_b").agg(
        F.count("*").alias("shared_vocab"),
        F.sum("pa").alias("sa"),
        F.sum("pb").alias("sb"),
        F.sum(term).alias("common_nats"),
    )
    js = (
        0.5 * F.col("common_nats") * F.lit(INV_LN2)
        + 0.5 * ((1 - F.col("sa")) + (1 - F.col("sb")))
    )
    return agg.select(
        "source_a",
        "source_b",
        "shared_vocab",
        rnd("sa", 6).alias("shared_mass_a"),
        rnd("sb", 6).alias("shared_mass_b"),
        rnd(js, 6).alias("js_divergence_bits"),
    )


_JS_ORACLE = f"""
WITH tok AS (
  SELECT source, unnest(string_split(text, ' ')) AS token FROM documents
),
counts AS (
  SELECT source, token, count(*) AS c FROM tok GROUP BY 1, 2
),
totals AS (SELECT source, count(*) AS n FROM tok GROUP BY 1),
probs AS (
  SELECT c.source, c.token, CAST(c.c AS DOUBLE) / t.n AS p
  FROM counts c JOIN totals t ON c.source = t.source
),
pairs AS (
  SELECT a.source AS source_a, b.source AS source_b,
         a.p AS pa, b.p AS pb
  FROM probs a JOIN probs b
    ON a.token = b.token AND a.source < b.source
),
agg AS (
  SELECT source_a, source_b, count(*) AS shared_vocab,
         sum(pa) AS sa, sum(pb) AS sb,
         sum(pa * ln(2.0 * pa / (pa + pb))
             + pb * ln(2.0 * pb / (pa + pb))) AS common_nats
  FROM pairs GROUP BY 1, 2
)
SELECT source_a, source_b, shared_vocab,
       round(sa + {NUDGE}, 6) AS shared_mass_a,
       round(sb + {NUDGE}, 6) AS shared_mass_b,
       round(0.5 * common_nats * {INV_LN2}
             + 0.5 * ((1 - sa) + (1 - sb)) + {NUDGE}, 6)
         AS js_divergence_bits
FROM agg
"""


# --------------------------------------------------------------------------
# 16. Brown-Forsythe (median-centred Levene) variance-homogeneity test
# --------------------------------------------------------------------------


def levene_variance_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BROWN-FORSYTHE VARIANCE-HOMOGENEITY TEST across event types:
    absolute deviations from each group's EXACT MEDIAN (the robust
    Levene variant), then the one-way ANOVA F on those deviations —
    the assumption check that should precede every pooled-variance
    test in the cohort (`welch_t_test` exists precisely because this
    can fail; now the engine can SAY whether it fails). Group medians
    are rounded to 9 dp before centring so |x - med| is bit-identical
    in both engines.

    Scale shape: exact per-group medians (bounded groups), broadcast
    back; then ONE combinable pass carrying (n, sum z, sum z^2) per
    group; W assembled from k-bounded rows. Per-group rows emit n,
    median, mean |dev|; the W statistic and dfs ride along as constant
    columns (the Theil pattern)."""
    ev = load(spark, sf_dir, "events").select("event_type", "value")
    med = ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)") + F.lit(NUDGE), 9).alias(
            "med"
        )
    )
    z = ev.join(F.broadcast(med), "event_type").select(
        "event_type",
        "med",
        F.abs(F.col("value") - F.col("med")).alias("z"),
    )
    g = z.groupBy("event_type").agg(
        F.count("*").alias("n_g"),
        F.max("med").alias("med"),
        F.sum("z").alias("sz"),
        F.sum(F.col("z") * F.col("z")).alias("sz2"),
    )
    tot = g.agg(
        F.sum("n_g").alias("n"),
        F.count("*").alias("k"),
        F.sum("sz").alias("szt"),
    )
    j = g.crossJoin(F.broadcast(tot))
    zbar_g = F.col("sz") / F.col("n_g")
    zbar = F.col("szt") / F.col("n")
    stats = j.select(
        "event_type",
        "n_g",
        "med",
        zbar_g.alias("zbar_g"),
        (F.col("sz2") - F.col("n_g") * zbar_g * zbar_g).alias("ssw_g"),
        (F.col("n_g") * (zbar_g - zbar) * (zbar_g - zbar)).alias("ssb_g"),
        "n",
        "k",
    )
    wrow = stats.agg(
        F.sum("ssb_g").alias("ssb"),
        F.sum("ssw_g").alias("ssw"),
        F.max("n").alias("n2"),
        F.max("k").alias("k2"),
    )
    w = (
        (F.col("n2") - F.col("k2")).cast("double")
        / (F.col("k2") - 1)
        * F.col("ssb")
        / F.col("ssw")
    )
    const = wrow.select(
        rnd(w, 4).alias("w_stat"),
        (F.col("k2") - 1).alias("df1"),
        (F.col("n2") - F.col("k2")).alias("df2"),
    )
    return stats.crossJoin(F.broadcast(const)).select(
        "event_type",
        "n_g",
        rnd("med", 4).alias("group_median"),
        rnd("zbar_g", 6).alias("mean_abs_dev"),
        "w_stat",
        "df1",
        "df2",
    )


_LEVENE_ORACLE = f"""
WITH med AS (
  SELECT event_type,
         round(quantile_cont(value, 0.5) + {NUDGE}, 9) AS med
  FROM events GROUP BY 1
),
z AS (
  SELECT e.event_type, m.med, abs(e.value - m.med) AS z
  FROM events e JOIN med m ON e.event_type = m.event_type
),
g AS (
  SELECT event_type, count(*) AS n_g, max(med) AS med,
         sum(z) AS sz, sum(z * z) AS sz2
  FROM z GROUP BY 1
),
tot AS (
  SELECT CAST(sum(n_g) AS BIGINT) AS n, count(*) AS k, sum(sz) AS szt
  FROM g
),
stats AS (
  SELECT g.event_type, g.n_g, g.med,
         g.sz / g.n_g AS zbar_g,
         g.sz2 - g.n_g * (g.sz / g.n_g) * (g.sz / g.n_g) AS ssw_g,
         g.n_g * (g.sz / g.n_g - t.szt / t.n)
              * (g.sz / g.n_g - t.szt / t.n) AS ssb_g,
         t.n, t.k
  FROM g CROSS JOIN tot t
),
wrow AS (
  SELECT sum(ssb_g) AS ssb, sum(ssw_g) AS ssw,
         max(n) AS n2, max(k) AS k2
  FROM stats
)
SELECT s.event_type, s.n_g,
       round(s.med + {NUDGE}, 4) AS group_median,
       round(s.zbar_g + {NUDGE}, 6) AS mean_abs_dev,
       round(CAST(w.n2 - w.k2 AS DOUBLE) / (w.k2 - 1) * w.ssb / w.ssw
             + {NUDGE}, 4) AS w_stat,
       w.k2 - 1 AS df1,
       w.n2 - w.k2 AS df2
FROM stats s CROSS JOIN wrow w
"""


# --------------------------------------------------------------------------
# 17. Friedman rank test over complete day-blocks
# --------------------------------------------------------------------------


def friedman_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FRIEDMAN RANK TEST: days are blocks, event types are
    treatments, the blocked observation is the daily mean value; rank
    WITHIN each complete day (midranks on ties), then
    Q = 12/(n*k*(k+1)) * sum_j R_j^2 - 3*n*(k+1) — the
    repeated-measures counterpart of `kruskal_wallis_binned` (KW
    pools all observations; Friedman blocks out the day effect, which
    is the right test when days differ systematically). Daily means
    are rounded to 9 dp before ranking so the tie structure is
    engine-identical.

    Scale shape: one calendar-bounded daily aggregate; the ranking
    window is partitioned PER DAY (k rows per partition — constant);
    everything after is k-bounded algebra."""
    ev = load(spark, sf_dir, "events")
    daily = (
        ev.select(
            "event_type",
            (F.floor(F.col("ts").cast("double") / 86400) * 86400)
            .cast("long")
            .alias("day_start"),
            "value",
        )
        .groupBy("event_type", "day_start")
        .agg(F.round(F.avg("value") + F.lit(NUDGE), 9).alias("x"))
    )
    k_row = daily.agg(F.countDistinct("event_type").alias("k"))
    day_counts = daily.groupBy("day_start").agg(F.count("*").alias("cnt"))
    complete = (
        daily.join(day_counts, "day_start")
        .crossJoin(F.broadcast(k_row))
        .where(F.col("cnt") == F.col("k"))
    )
    w_rank = Window.partitionBy("day_start").orderBy("x")
    w_tie = Window.partitionBy("day_start", "x")
    ranked = complete.select(
        "event_type",
        "day_start",
        "k",
        (
            F.rank().over(w_rank)
            + (F.count("*").over(w_tie) - 1) / F.lit(2.0)
        ).alias("midrank"),
    )
    per = ranked.groupBy("event_type").agg(
        F.max("k").alias("k"),
        F.count("*").alias("n_days"),
        F.sum("midrank").alias("rank_sum"),
    )
    tot = per.agg(
        F.max("k").alias("k2"),
        F.max("n_days").alias("nb"),
        F.sum(F.col("rank_sum") * F.col("rank_sum")).alias("sr2"),
    )
    q = (
        F.lit(12.0)
        / (F.col("nb") * F.col("k2") * (F.col("k2") + 1))
        * F.col("sr2")
        - F.lit(3.0) * F.col("nb") * (F.col("k2") + 1)
    )
    const = tot.select(
        rnd(q, 4).alias("q_stat"), (F.col("k2") - 1).alias("df")
    )
    return per.crossJoin(F.broadcast(const)).select(
        "event_type",
        "n_days",
        rnd("rank_sum", 4).alias("rank_sum"),
        rnd(F.col("rank_sum") / F.col("n_days"), 6).alias("mean_rank"),
        "q_stat",
        "df",
    )


_FRIEDMAN_ORACLE = f"""
WITH daily AS (
  SELECT event_type,
         (CAST(floor(epoch(ts)) AS BIGINT) // 86400) * 86400 AS day_start,
         round(avg(value) + {NUDGE}, 9) AS x
  FROM events GROUP BY 1, 2
),
k_row AS (SELECT count(DISTINCT event_type) AS k FROM daily),
dc AS (SELECT day_start, count(*) AS cnt FROM daily GROUP BY 1),
complete AS (
  SELECT d.event_type, d.day_start, d.x, k.k
  FROM daily d JOIN dc ON d.day_start = dc.day_start CROSS JOIN k_row k
  WHERE dc.cnt = k.k
),
ranked AS (
  SELECT event_type, k,
         rank() OVER (PARTITION BY day_start ORDER BY x)
         + (count(*) OVER (PARTITION BY day_start, x) - 1) / 2.0
           AS midrank
  FROM complete
),
per AS (
  SELECT event_type, max(k) AS k, count(*) AS n_days,
         sum(midrank) AS rank_sum
  FROM ranked GROUP BY 1
),
tot AS (
  SELECT max(k) AS k2, max(n_days) AS nb,
         sum(rank_sum * rank_sum) AS sr2
  FROM per
)
SELECT p.event_type, p.n_days,
       round(p.rank_sum + {NUDGE}, 4) AS rank_sum,
       round(p.rank_sum / p.n_days + {NUDGE}, 6) AS mean_rank,
       round(12.0 / (t.nb * t.k2 * (t.k2 + 1)) * t.sr2
             - 3.0 * t.nb * (t.k2 + 1) + {NUDGE}, 4) AS q_stat,
       t.k2 - 1 AS df
FROM per p CROSS JOIN tot t
"""


# --------------------------------------------------------------------------
# 18. readability scores (Flesch / Flesch-Kincaid heuristics)
# --------------------------------------------------------------------------

VOWEL_RE = "[aeiouy]+"  #: vowel-group syllable heuristic
SENT_RE = "[.!?]+"  #: sentence-terminator runs


def readability_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """READABILITY PROFILE per source: Flesch reading ease and
    Flesch-Kincaid grade from the classic word/sentence/syllable
    counts, with syllables approximated by VOWEL-GROUP runs (the
    standard dictionary-free heuristic) and sentence count floored at
    1 (the synthetic corpus has no terminators — the formula then
    degrades gracefully to the words-per-doc axis). Complements
    `quality_score` (structural ratios) with the formula every corpus
    datacard quotes.

    Scale shape: three regexp counts per document — map-only,
    whole-stage codegen, zero joins — then one per-source aggregate."""
    docs = load(spark, sf_dir, "documents")
    words = F.size(F.split("text", " ")).cast("double")
    syll = F.size(
        F.regexp_extract_all(F.lower(F.col("text")), F.lit(VOWEL_RE), 0)
    ).cast("double")
    sents = F.greatest(
        F.lit(1.0),
        F.size(F.regexp_extract_all("text", F.lit(SENT_RE), 0)).cast(
            "double"
        ),
    )
    per = docs.select(
        "source",
        words.alias("w"),
        syll.alias("s"),
        sents.alias("st"),
    ).where(F.col("w") > 0)
    scored = per.select(
        "source",
        "w",
        "s",
        "st",
        (
            F.lit(206.835)
            - F.lit(1.015) * F.col("w") / F.col("st")
            - F.lit(84.6) * F.col("s") / F.col("w")
        ).alias("flesch"),
        (
            F.lit(0.39) * F.col("w") / F.col("st")
            + F.lit(11.8) * F.col("s") / F.col("w")
            - F.lit(15.59)
        ).alias("fk"),
    )
    return scored.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        rnd(F.avg("w"), 4).alias("avg_words"),
        rnd(F.avg(F.col("s") / F.col("w")), 6).alias(
            "avg_syllables_per_word"
        ),
        rnd(F.avg("flesch"), 4).alias("avg_flesch_reading_ease"),
        rnd(F.avg("fk"), 4).alias("avg_fk_grade"),
    )


_READ_ORACLE = f"""
WITH per AS (
  SELECT source,
         CAST(len(string_split(text, ' ')) AS DOUBLE) AS w,
         CAST(len(regexp_extract_all(lower(text), '{VOWEL_RE}'))
              AS DOUBLE) AS s,
         greatest(1.0,
           CAST(len(regexp_extract_all(text, '[.!?]+')) AS DOUBLE)) AS st
  FROM documents
)
SELECT source, count(*) AS n_docs,
       round(avg(w) + {NUDGE}, 4) AS avg_words,
       round(avg(s / w) + {NUDGE}, 6) AS avg_syllables_per_word,
       round(avg(206.835 - 1.015 * w / st - 84.6 * s / w) + {NUDGE}, 4)
         AS avg_flesch_reading_ease,
       round(avg(0.39 * w / st + 11.8 * s / w - 15.59) + {NUDGE}, 4)
         AS avg_fk_grade
FROM per
WHERE w > 0
GROUP BY source
"""


register("mann_kendall_trend", oracle=_MK_ORACLE,
         tags=("prepared-r10",))(mann_kendall_trend)
register("unigram_perplexity_split", oracle=_PPL_ORACLE,
         tags=("prepared-r10",))(unigram_perplexity_split)
register("jensen_shannon_source_divergence", oracle=_JS_ORACLE,
         tags=("prepared-r10",))(jensen_shannon_source_divergence)
register("levene_variance_test", oracle=_LEVENE_ORACLE,
         tags=("prepared-r10",))(levene_variance_test)
register("friedman_test", oracle=_FRIEDMAN_ORACLE,
         tags=("prepared-r10",))(friedman_test)
register("readability_scores", oracle=_READ_ORACLE,
         tags=("prepared-r10",))(readability_scores)


# ==========================================================================
# batch 4
# ==========================================================================

# --------------------------------------------------------------------------
# 19. Spearman lead-lag screen between event-type daily series
# --------------------------------------------------------------------------

SPEARMAN_MAX_LAG = 3  #: lags screened (days); 0 = contemporaneous


def spearman_lead_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPEARMAN LEAD-LAG SCREEN: rank correlation between every
    event-type pair's daily-mean series at lags 0..SPEARMAN_MAX_LAG
    (does A's series LEAD B's by L days?) — the monotone,
    outlier-robust alternative to Pearson cross-correlation, and the
    cheap first pass before any Granger-style causality claim.
    Midranks are computed INSIDE each (pair, lag) overlap window so
    the statistic is the exact Spearman rho of the aligned subset;
    Spearman rho IS Pearson's r on those midranks, computed by each
    engine's corr() on bit-identical rank values (daily means
    pre-rounded to 9 dp fix the tie structure), then rounded to 6 dp.

    Scale shape: the alignment is an EQUI-join on the shifted day key
    over the calendar-bounded daily aggregate; rank windows are
    partitioned per (pair, lag) — overlap-bounded partitions, never
    event-cardinality."""
    ev = load(spark, sf_dir, "events")
    daily = (
        ev.select(
            "event_type",
            (F.floor(F.col("ts").cast("double") / 86400) * 86400)
            .cast("long")
            .alias("day_start"),
            "value",
        )
        .groupBy("event_type", "day_start")
        .agg(F.round(F.avg("value") + F.lit(NUDGE), 9).alias("x"))
    )
    lags = spark.range(SPEARMAN_MAX_LAG + 1).select(
        F.col("id").cast("long").alias("lag")
    )
    a = daily.select(
        F.col("event_type").alias("type_a"),
        F.col("day_start").alias("day_a"),
        F.col("x").alias("xa"),
    ).crossJoin(F.broadcast(lags))
    b = daily.select(
        F.col("event_type").alias("type_b"),
        F.col("day_start").alias("day_b"),
        F.col("x").alias("xb"),
    )
    joined = a.join(
        b, (F.col("day_a") + F.col("lag") * 86400) == F.col("day_b")
    ).where(F.col("type_a") < F.col("type_b"))
    w_ra = Window.partitionBy("type_a", "type_b", "lag").orderBy("xa")
    w_ta = Window.partitionBy("type_a", "type_b", "lag", "xa")
    w_rb = Window.partitionBy("type_a", "type_b", "lag").orderBy("xb")
    w_tb = Window.partitionBy("type_a", "type_b", "lag", "xb")
    ranked = joined.select(
        "type_a",
        "type_b",
        "lag",
        (
            F.rank().over(w_ra)
            + (F.count("*").over(w_ta) - 1) / F.lit(2.0)
        ).alias("ra"),
        (
            F.rank().over(w_rb)
            + (F.count("*").over(w_tb) - 1) / F.lit(2.0)
        ).alias("rb"),
    )
    return ranked.groupBy("type_a", "type_b", "lag").agg(
        F.count("*").alias("n_days"),
        rnd(F.corr("ra", "rb"), 6).alias("spearman_rho"),
    )


_SPEARMAN_ORACLE = f"""
WITH daily AS (
  SELECT event_type,
         (CAST(floor(epoch(ts)) AS BIGINT) // 86400) * 86400 AS day_start,
         round(avg(value) + {NUDGE}, 9) AS x
  FROM events GROUP BY 1, 2
),
lags AS (SELECT unnest(range(0, {SPEARMAN_MAX_LAG + 1})) AS lag),
joined AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b, l.lag,
         a.x AS xa, b.x AS xb
  FROM daily a CROSS JOIN lags l
  JOIN daily b ON a.day_start + l.lag * 86400 = b.day_start
  WHERE a.event_type < b.event_type
),
ranked AS (
  SELECT type_a, type_b, lag,
         rank() OVER (PARTITION BY type_a, type_b, lag ORDER BY xa)
         + (count(*) OVER (PARTITION BY type_a, type_b, lag, xa) - 1)
           / 2.0 AS ra,
         rank() OVER (PARTITION BY type_a, type_b, lag ORDER BY xb)
         + (count(*) OVER (PARTITION BY type_a, type_b, lag, xb) - 1)
           / 2.0 AS rb
  FROM joined
)
SELECT type_a, type_b, lag, count(*) AS n_days,
       round(corr(ra, rb) + {NUDGE}, 6) AS spearman_rho
FROM ranked GROUP BY 1, 2, 3
"""


# --------------------------------------------------------------------------
# 20. Dickey-Fuller unit-root proxy (no augmentation)
# --------------------------------------------------------------------------

ADF_CRIT = -2.86  #: DF tau critical value, constant-only model, n->inf, 5%


def adf_unit_root_proxy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DICKEY-FULLER UNIT-ROOT PROXY per event type: regress the daily
    first difference on the lagged level (dx_t = a + b*x_{t-1}), report
    b, the implied AR root rho = 1 + b, and the tau statistic b/se(b)
    against the constant-only DF critical value — the stationarity
    check that should precede every AR-flavored operator in the cohort
    (ACF/PACF, Holt, SARIMAX all assume the series is not a random
    walk). Flag reads the ROUNDED tau. No augmentation terms: this is
    the DF(0) proxy, stated as such.

    Scale shape: one lag window per type over the calendar-bounded
    daily aggregate, then ONE combinable aggregate carrying the five
    OLS sufficient sums — everything after is per-type algebra."""
    ev = load(spark, sf_dir, "events")
    daily = (
        ev.select(
            "event_type",
            (F.floor(F.col("ts").cast("double") / 86400) * 86400)
            .cast("long")
            .alias("day_start"),
            "value",
        )
        .groupBy("event_type", "day_start")
        .agg(F.round(F.avg("value") + F.lit(NUDGE), 9).alias("x"))
    )
    w = Window.partitionBy("event_type").orderBy("day_start")
    lagged = daily.select(
        "event_type",
        "x",
        F.lag("x").over(w).alias("xl"),
    ).where(F.col("xl").isNotNull())
    obs = lagged.select(
        "event_type",
        F.col("xl").alias("xr"),
        (F.col("x") - F.col("xl")).alias("dy"),
    )
    g = obs.groupBy("event_type").agg(
        F.count("*").alias("n_obs"),
        F.sum("xr").alias("sx"),
        F.sum("dy").alias("sy"),
        F.sum(F.col("xr") * F.col("dy")).alias("sxy"),
        F.sum(F.col("xr") * F.col("xr")).alias("sxx"),
        F.sum(F.col("dy") * F.col("dy")).alias("syy"),
    )
    n = F.col("n_obs").cast("double")
    beta = (n * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        n * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    alpha = (F.col("sy") - beta * F.col("sx")) / n
    sse = (
        F.col("syy")
        - alpha * F.col("sy")
        - beta * F.col("sxy")
    )
    sxx_c = F.col("sxx") - F.col("sx") * F.col("sx") / n
    se_b = F.sqrt(sse / (n - 2) / sxx_c)
    tau_r = rnd(beta / se_b, 4)
    return g.select(
        "event_type",
        "n_obs",
        rnd(beta, 6).alias("beta"),
        rnd(beta + 1.0, 6).alias("rho"),
        tau_r.alias("tau_stat"),
        (tau_r > ADF_CRIT).alias("unit_root_plausible"),
    )


_ADF_ORACLE = f"""
WITH daily AS (
  SELECT event_type,
         (CAST(floor(epoch(ts)) AS BIGINT) // 86400) * 86400 AS day_start,
         round(avg(value) + {NUDGE}, 9) AS x
  FROM events GROUP BY 1, 2
),
lagged AS (
  SELECT event_type, x,
         lag(x) OVER (PARTITION BY event_type ORDER BY day_start) AS xl
  FROM daily
),
obs AS (
  SELECT event_type, xl AS xr, x - xl AS dy
  FROM lagged WHERE xl IS NOT NULL
),
g AS (
  SELECT event_type, count(*) AS n_obs,
         sum(xr) AS sx, sum(dy) AS sy, sum(xr * dy) AS sxy,
         sum(xr * xr) AS sxx, sum(dy * dy) AS syy
  FROM obs GROUP BY 1
),
fit AS (
  SELECT event_type, n_obs, sx, sy, sxy, sxx, syy,
         (n_obs * sxy - sx * sy) / (n_obs * sxx - sx * sx) AS beta
  FROM g
),
fit2 AS (
  SELECT *, (sy - beta * sx) / n_obs AS alpha,
         sxx - sx * sx / n_obs AS sxx_c
  FROM fit
),
fit3 AS (
  SELECT *,
         round(beta / sqrt((syy - alpha * sy - beta * sxy)
                           / (n_obs - 2) / sxx_c) + {NUDGE}, 4) AS tau_r
  FROM fit2
)
SELECT event_type, n_obs,
       round(beta + {NUDGE}, 6) AS beta,
       round(beta + 1.0 + {NUDGE}, 6) AS rho,
       tau_r AS tau_stat,
       tau_r > {ADF_CRIT} AS unit_root_plausible
FROM fit3
"""


# --------------------------------------------------------------------------
# 21. mutual information between event type and day-of-week
# --------------------------------------------------------------------------


def mutual_information_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MUTUAL INFORMATION (bits) between event type and day-of-week,
    cell by cell: each (type, dow) row carries its joint probability,
    pointwise MI, and MI contribution; the total MI and the
    min-entropy-normalized MI ride along as constant columns — the
    dependence screen behind "does traffic mix shift by weekday",
    asked of the SAME bounded contingency table chi-square tests use
    (`contingency_association`) but in information units, which
    compose with the entropy family (`behavior_entropy`,
    `token_entropy_profile`). Day-of-week is derived ARITHMETICALLY
    ((epoch_days + 4) % 7, 0 = Sunday) so no engine calendar function
    (with its locale-dependent week start) enters the hash.

    Scale shape: ONE combinable (type, dow) count over the corpus;
    everything after is algebra on the k x 7 bounded table."""
    ev = load(spark, sf_dir, "events")
    cells = (
        ev.select(
            "event_type",
            (
                (F.floor(F.col("ts").cast("double") / 86400) + 4) % 7
            )
            .cast("long")
            .alias("dow"),
        )
        .groupBy("event_type", "dow")
        .agg(F.count("*").alias("n"))
    )
    tot = cells.agg(F.sum("n").alias("nt"))
    margx = cells.groupBy("event_type").agg(F.sum("n").alias("nx"))
    margy = cells.groupBy("dow").agg(F.sum("n").alias("ny"))
    j = (
        cells.join(F.broadcast(margx), "event_type")
        .join(F.broadcast(margy), "dow")
        .crossJoin(F.broadcast(tot))
    )
    p = F.col("n").cast("double") / F.col("nt")
    px = F.col("nx").cast("double") / F.col("nt")
    py = F.col("ny").cast("double") / F.col("nt")
    pmi = F.log(p / (px * py)) * F.lit(INV_LN2)
    contrib = p * pmi
    withmi = j.select(
        "event_type",
        "dow",
        "n",
        p.alias("p_joint"),
        pmi.alias("pmi_u"),
        contrib.alias("contrib_u"),
        (-px * F.log(px) * F.lit(INV_LN2)).alias("hx_term"),
    )
    # H(X): sum one term per distinct type; H(Y): one per distinct dow —
    # aggregate the bounded cell table with de-duplicating maxes per key
    hx = (
        withmi.groupBy("event_type")
        .agg(F.max("hx_term").alias("t"))
        .agg(F.sum("t").alias("hx"))
    )
    hy = (
        j.select("dow", (-py * F.log(py) * F.lit(INV_LN2)).alias("t"))
        .groupBy("dow")
        .agg(F.max("t").alias("t"))
        .agg(F.sum("t").alias("hy"))
    )
    mi = withmi.agg(F.sum("contrib_u").alias("mi_u"))
    const = (
        mi.crossJoin(F.broadcast(hx))
        .crossJoin(F.broadcast(hy))
        .select(
            rnd("mi_u", 6).alias("mi_bits"),
            rnd(
                F.col("mi_u") / F.least(F.col("hx"), F.col("hy")), 6
            ).alias("normalized_mi"),
        )
    )
    return withmi.crossJoin(F.broadcast(const)).select(
        "event_type",
        "dow",
        "n",
        rnd("p_joint", 6).alias("p_joint"),
        rnd("pmi_u", 6).alias("pmi_bits"),
        rnd("contrib_u", 8).alias("mi_contribution_bits"),
        "mi_bits",
        "normalized_mi",
    )


_MI_ORACLE = f"""
WITH cells AS (
  SELECT event_type,
         ((CAST(floor(epoch(ts)) AS BIGINT) // 86400) + 4) % 7 AS dow,
         count(*) AS n
  FROM events GROUP BY 1, 2
),
tot AS (SELECT CAST(sum(n) AS BIGINT) AS nt FROM cells),
margx AS (
  SELECT event_type, CAST(sum(n) AS BIGINT) AS nx FROM cells GROUP BY 1
),
margy AS (SELECT dow, CAST(sum(n) AS BIGINT) AS ny FROM cells GROUP BY 1),
j AS (
  SELECT c.event_type, c.dow, c.n,
         CAST(c.n AS DOUBLE) / t.nt AS p,
         CAST(x.nx AS DOUBLE) / t.nt AS px,
         CAST(y.ny AS DOUBLE) / t.nt AS py
  FROM cells c
  JOIN margx x ON c.event_type = x.event_type
  JOIN margy y ON c.dow = y.dow
  CROSS JOIN tot t
),
withmi AS (
  SELECT event_type, dow, n, p,
         ln(p / (px * py)) * {INV_LN2} AS pmi_u,
         p * ln(p / (px * py)) * {INV_LN2} AS contrib_u,
         px, py
  FROM j
),
hx AS (
  SELECT sum(t) AS hx FROM (
    SELECT event_type, max(-px * ln(px) * {INV_LN2}) AS t
    FROM withmi GROUP BY 1)
),
hy AS (
  SELECT sum(t) AS hy FROM (
    SELECT dow, max(-py * ln(py) * {INV_LN2}) AS t
    FROM withmi GROUP BY 1)
),
mi AS (SELECT sum(contrib_u) AS mi_u FROM withmi)
SELECT w.event_type, w.dow, w.n,
       round(w.p + {NUDGE}, 6) AS p_joint,
       round(w.pmi_u + {NUDGE}, 6) AS pmi_bits,
       round(w.contrib_u + {NUDGE}, 8) AS mi_contribution_bits,
       round(m.mi_u + {NUDGE}, 6) AS mi_bits,
       round(m.mi_u / least(hx.hx, hy.hy) + {NUDGE}, 6) AS normalized_mi
FROM withmi w CROSS JOIN mi m CROSS JOIN hx CROSS JOIN hy
"""


# --------------------------------------------------------------------------
# 22. weekend odds-ratio table (2x2 epidemiology-style effect measures)
# --------------------------------------------------------------------------

OR_Z = 1.96  #: 95% normal CI half-width multiplier on the log-OR scale


def odds_ratio_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2x2 EFFECT-MEASURE TABLE per event type: exposure = weekend
    (arithmetic day-of-week), outcome = value above the type's exact
    median; reports the Haldane-Anscombe-corrected ODDS RATIO with its
    95% log-scale CI and the RELATIVE RISK — the epidemiology-style
    effect measures the A/B battery lacks (lift is a ratio of means;
    OR/RR are the ratios of RATES, comparable across prevalences and
    robust to the 0-cell via the +0.5 correction). The significance
    flag reads the ROUNDED CI bounds.

    Scale shape: a broadcast per-type median join, then ONE combinable
    pass producing the four 2x2 cells per type — bounded algebra
    after."""
    ev = load(spark, sf_dir, "events").select("event_type", "ts", "value")
    med = ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)") + F.lit(NUDGE), 9).alias(
            "med"
        )
    )
    dow = ((F.floor(F.col("ts").cast("double") / 86400) + 4) % 7).cast(
        "long"
    )
    flagged = ev.join(F.broadcast(med), "event_type").select(
        "event_type",
        ((dow == 0) | (dow == 6)).alias("weekend"),
        (F.col("value") > F.col("med")).alias("high"),
    )
    g = flagged.groupBy("event_type").agg(
        F.sum((F.col("weekend") & F.col("high")).cast("long")).alias("a"),
        F.sum((F.col("weekend") & ~F.col("high")).cast("long")).alias("b"),
        F.sum((~F.col("weekend") & F.col("high")).cast("long")).alias("c"),
        F.sum((~F.col("weekend") & ~F.col("high")).cast("long")).alias("d"),
    )
    ah = F.col("a") + 0.5
    bh = F.col("b") + 0.5
    ch = F.col("c") + 0.5
    dh = F.col("d") + 0.5
    log_or = F.log(ah * dh / (bh * ch))
    se = F.sqrt(1 / ah + 1 / bh + 1 / ch + 1 / dh)
    lo_r = rnd(F.exp(log_or - F.lit(OR_Z) * se), 4)
    hi_r = rnd(F.exp(log_or + F.lit(OR_Z) * se), 4)
    rr = (
        F.col("a") / (F.col("a") + F.col("b"))
    ) / (F.col("c") / (F.col("c") + F.col("d")))
    return g.select(
        "event_type",
        "a",
        "b",
        "c",
        "d",
        rnd(F.exp(log_or), 4).alias("odds_ratio"),
        lo_r.alias("or_ci_lo"),
        hi_r.alias("or_ci_hi"),
        rnd(rr, 4).alias("relative_risk"),
        ((lo_r > 1.0) | (hi_r < 1.0)).alias("significant"),
    )


_OR_ORACLE = f"""
WITH med AS (
  SELECT event_type,
         round(quantile_cont(value, 0.5) + {NUDGE}, 9) AS med
  FROM events GROUP BY 1
),
flagged AS (
  SELECT e.event_type,
         ((CAST(floor(epoch(e.ts)) AS BIGINT) // 86400) + 4) % 7
           IN (0, 6) AS weekend,
         e.value > m.med AS high
  FROM events e JOIN med m ON e.event_type = m.event_type
),
g AS (
  SELECT event_type,
         CAST(sum(CASE WHEN weekend AND high THEN 1 ELSE 0 END) AS BIGINT)
           AS a,
         CAST(sum(CASE WHEN weekend AND NOT high THEN 1 ELSE 0 END)
              AS BIGINT) AS b,
         CAST(sum(CASE WHEN NOT weekend AND high THEN 1 ELSE 0 END)
              AS BIGINT) AS c,
         CAST(sum(CASE WHEN NOT weekend AND NOT high THEN 1 ELSE 0 END)
              AS BIGINT) AS d
  FROM flagged GROUP BY 1
),
eff AS (
  SELECT *,
         ln((a + 0.5) * (d + 0.5) / ((b + 0.5) * (c + 0.5))) AS log_or,
         sqrt(1 / (a + 0.5) + 1 / (b + 0.5)
              + 1 / (c + 0.5) + 1 / (d + 0.5)) AS se
  FROM g
),
eff2 AS (
  SELECT event_type, a, b, c, d,
         round(exp(log_or) + {NUDGE}, 4) AS odds_ratio,
         round(exp(log_or - {OR_Z} * se) + {NUDGE}, 4) AS or_ci_lo,
         round(exp(log_or + {OR_Z} * se) + {NUDGE}, 4) AS or_ci_hi,
         round((CAST(a AS DOUBLE) / (a + b))
               / (CAST(c AS DOUBLE) / (c + d)) + {NUDGE}, 4)
           AS relative_risk
  FROM eff
)
SELECT *, (or_ci_lo > 1.0 OR or_ci_hi < 1.0) AS significant
FROM (SELECT event_type, a, b, c, d, odds_ratio, or_ci_lo, or_ci_hi,
             relative_risk FROM eff2)
"""


# --------------------------------------------------------------------------
# 23. Cochran's Q over binary day-blocks
# --------------------------------------------------------------------------


def cochran_q_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COCHRAN'S Q TEST: the binary repeated-measures counterpart of
    `friedman_test` — blocks are complete days, the binary response is
    "the type's daily mean exceeded its own global (daily-series)
    median", and Q = (k-1)[k*sum C_j^2 - T^2] / [k*T - sum R_i^2]
    asks whether the k event types' above-median DAYS are
    synchronized or independent. Medians are taken over the 9dp-
    rounded daily means so the binarization is engine-identical.

    Scale shape: calendar-bounded daily aggregate -> broadcast
    per-type median join -> two bounded aggregates (per-day row sums,
    per-type column sums). Nothing touches event cardinality after
    the first groupBy."""
    ev = load(spark, sf_dir, "events")
    daily = (
        ev.select(
            "event_type",
            (F.floor(F.col("ts").cast("double") / 86400) * 86400)
            .cast("long")
            .alias("day_start"),
            "value",
        )
        .groupBy("event_type", "day_start")
        .agg(F.round(F.avg("value") + F.lit(NUDGE), 9).alias("x"))
    )
    k_row = daily.agg(F.countDistinct("event_type").alias("k"))
    day_counts = daily.groupBy("day_start").agg(F.count("*").alias("cnt"))
    med = daily.groupBy("event_type").agg(
        F.round(F.expr("percentile(x, 0.5)") + F.lit(NUDGE), 9).alias("med")
    )
    complete = (
        daily.join(day_counts, "day_start")
        .crossJoin(F.broadcast(k_row))
        .where(F.col("cnt") == F.col("k"))
        .join(F.broadcast(med), "event_type")
        .select(
            "event_type",
            "day_start",
            "k",
            (F.col("x") > F.col("med")).cast("long").alias("s"),
        )
    )
    rows_r = complete.groupBy("day_start").agg(F.sum("s").alias("r_i"))
    cols_c = complete.groupBy("event_type").agg(
        F.max("k").alias("k"),
        F.count("*").alias("n_days"),
        F.sum("s").alias("c_j"),
    )
    rtot = rows_r.agg(
        F.sum("r_i").alias("t"),
        F.sum(F.col("r_i") * F.col("r_i")).alias("sr2"),
    )
    ctot = cols_c.agg(
        F.max("k").alias("k2"),
        F.sum(F.col("c_j") * F.col("c_j")).alias("sc2"),
    )
    q = (
        (F.col("k2") - 1).cast("double")
        * (F.col("k2") * F.col("sc2") - F.col("t") * F.col("t"))
        / (F.col("k2") * F.col("t") - F.col("sr2"))
    )
    const = ctot.crossJoin(F.broadcast(rtot)).select(
        rnd(q, 4).alias("q_stat"), (F.col("k2") - 1).alias("df")
    )
    return cols_c.crossJoin(F.broadcast(const)).select(
        "event_type",
        "n_days",
        F.col("c_j").alias("days_above_median"),
        "q_stat",
        "df",
    )


_COCHRAN_ORACLE = f"""
WITH daily AS (
  SELECT event_type,
         (CAST(floor(epoch(ts)) AS BIGINT) // 86400) * 86400 AS day_start,
         round(avg(value) + {NUDGE}, 9) AS x
  FROM events GROUP BY 1, 2
),
k_row AS (SELECT count(DISTINCT event_type) AS k FROM daily),
dc AS (SELECT day_start, count(*) AS cnt FROM daily GROUP BY 1),
med AS (
  SELECT event_type, round(quantile_cont(x, 0.5) + {NUDGE}, 9) AS med
  FROM daily GROUP BY 1
),
complete AS (
  SELECT d.event_type, d.day_start, k.k,
         CAST(d.x > m.med AS BIGINT) AS s
  FROM daily d
  JOIN dc ON d.day_start = dc.day_start
  CROSS JOIN k_row k
  JOIN med m ON d.event_type = m.event_type
  WHERE dc.cnt = k.k
),
rows_r AS (
  SELECT day_start, CAST(sum(s) AS BIGINT) AS r_i
  FROM complete GROUP BY 1
),
cols_c AS (
  SELECT event_type, max(k) AS k, count(*) AS n_days,
         CAST(sum(s) AS BIGINT) AS c_j
  FROM complete GROUP BY 1
),
rtot AS (
  SELECT CAST(sum(r_i) AS BIGINT) AS t,
         CAST(sum(r_i * r_i) AS BIGINT) AS sr2
  FROM rows_r
),
ctot AS (
  SELECT max(k) AS k2, CAST(sum(c_j * c_j) AS BIGINT) AS sc2 FROM cols_c
)
SELECT c.event_type, c.n_days, c.c_j AS days_above_median,
       round(CAST(t.k2 - 1 AS DOUBLE)
             * (t.k2 * t.sc2 - r.t * r.t)
             / (t.k2 * r.t - r.sr2) + {NUDGE}, 4) AS q_stat,
       t.k2 - 1 AS df
FROM cols_c c CROSS JOIN ctot t CROSS JOIN rtot r
"""


# --------------------------------------------------------------------------
# 24. seasonal / trend strength decomposition profile
# --------------------------------------------------------------------------


def seasonal_strength_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEASONAL AND TREND STRENGTH per event type, STL-style but
    closed-form: the daily-mean series is decomposed against (a) the
    additive day-of-week model (seasonal strength = 1 -
    Var(x - dow_mean)/Var(x)) and (b) the OLS linear trend (trend
    strength = 1 - Var(ols resid)/Var(x)), both clamped at 0 — the
    two numbers Hyndman's feature taxonomy puts first when routing
    series to forecasting models (`holt_winters_seasonal` ASSUMES
    weekly seasonality; this measures whether that assumption holds,
    per series). Strengths are computed from sufficient statistics
    only.

    Scale shape: calendar-bounded daily aggregate; the dow model is a
    broadcast 7-row join; the trend model is the 5-sum OLS; ONE
    combinable pass each. No windows at all."""
    ev = load(spark, sf_dir, "events")
    daily = (
        ev.select(
            "event_type",
            (F.floor(F.col("ts").cast("double") / 86400) * 86400)
            .cast("long")
            .alias("day_start"),
            "value",
        )
        .groupBy("event_type", "day_start")
        .agg(F.round(F.avg("value") + F.lit(NUDGE), 9).alias("x"))
    )
    daily = daily.select(
        "event_type",
        "day_start",
        "x",
        ((F.col("day_start") / 86400 + 4) % 7).cast("long").alias("dow"),
        (F.col("day_start") / F.lit(86400.0)).alias("t"),
    )
    dowm = daily.groupBy("event_type", "dow").agg(
        F.avg("x").alias("dow_mean")
    )
    seas = daily.join(F.broadcast(dowm), ["event_type", "dow"]).select(
        "event_type",
        (F.col("x") - F.col("dow_mean")).alias("resid_s"),
        "x",
        "t",
    )
    g = seas.groupBy("event_type").agg(
        F.count("*").alias("n_days"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum("t").alias("st"),
        F.sum(F.col("t") * F.col("t")).alias("stt"),
        F.sum(F.col("t") * F.col("x")).alias("stx"),
        F.sum(F.col("resid_s") * F.col("resid_s")).alias("ssr_s"),
    )
    n = F.col("n_days").cast("double")
    var_x = F.col("sxx") - F.col("sx") * F.col("sx") / n
    beta = (n * F.col("stx") - F.col("st") * F.col("sx")) / (
        n * F.col("stt") - F.col("st") * F.col("st")
    )
    # SSE of the linear fit: S_xx,centred - beta^2 * S_tt,centred
    stt_c = F.col("stt") - F.col("st") * F.col("st") / n
    ssr_t = var_x - beta * beta * stt_c
    return g.select(
        "event_type",
        "n_days",
        rnd(var_x / (n - 1), 6).alias("var_daily"),
        rnd(F.greatest(F.lit(0.0), 1 - F.col("ssr_s") / var_x), 6).alias(
            "seasonal_strength"
        ),
        rnd(F.greatest(F.lit(0.0), 1 - ssr_t / var_x), 6).alias(
            "trend_strength"
        ),
        rnd(beta, 6).alias("trend_slope_per_day"),
    )


_SEASONAL_ORACLE = f"""
WITH daily0 AS (
  SELECT event_type,
         (CAST(floor(epoch(ts)) AS BIGINT) // 86400) * 86400 AS day_start,
         round(avg(value) + {NUDGE}, 9) AS x
  FROM events GROUP BY 1, 2
),
daily AS (
  SELECT event_type, day_start, x,
         (day_start // 86400 + 4) % 7 AS dow,
         day_start / 86400.0 AS t
  FROM daily0
),
dowm AS (
  SELECT event_type, dow, avg(x) AS dow_mean
  FROM daily GROUP BY 1, 2
),
seas AS (
  SELECT d.event_type, d.x - m.dow_mean AS resid_s, d.x, d.t
  FROM daily d JOIN dowm m
    ON d.event_type = m.event_type AND d.dow = m.dow
),
g AS (
  SELECT event_type, count(*) AS n_days,
         sum(x) AS sx, sum(x * x) AS sxx,
         sum(t) AS st, sum(t * t) AS stt, sum(t * x) AS stx,
         sum(resid_s * resid_s) AS ssr_s
  FROM seas GROUP BY 1
),
fit AS (
  SELECT *,
         sxx - sx * sx / n_days AS var_x,
         (n_obs_d * stx - st * sx) / (n_obs_d * stt - st * st) AS beta,
         stt - st * st / n_days AS stt_c
  FROM (SELECT *, CAST(n_days AS DOUBLE) AS n_obs_d FROM g)
)
SELECT event_type, n_days,
       round(var_x / (n_days - 1) + {NUDGE}, 6) AS var_daily,
       round(greatest(0.0, 1 - ssr_s / var_x) + {NUDGE}, 6)
         AS seasonal_strength,
       round(greatest(0.0, 1 - (var_x - beta * beta * stt_c) / var_x)
             + {NUDGE}, 6) AS trend_strength,
       round(beta + {NUDGE}, 6) AS trend_slope_per_day
FROM fit
"""


register("spearman_lead_lag", oracle=_SPEARMAN_ORACLE,
         tags=("prepared-r10",))(spearman_lead_lag)
register("adf_unit_root_proxy", oracle=_ADF_ORACLE,
         tags=("prepared-r10",))(adf_unit_root_proxy)
register("mutual_information_profile", oracle=_MI_ORACLE,
         tags=("prepared-r10",))(mutual_information_profile)
register("odds_ratio_table", oracle=_OR_ORACLE,
         tags=("prepared-r10",))(odds_ratio_table)
register("cochran_q_test", oracle=_COCHRAN_ORACLE,
         tags=("prepared-r10",))(cochran_q_test)
register("seasonal_strength_profile", oracle=_SEASONAL_ORACLE,
         tags=("prepared-r10",))(seasonal_strength_profile)


# ==========================================================================
# batch 5
# ==========================================================================

# --------------------------------------------------------------------------
# 25. Ljung-Box portmanteau whiteness test
# --------------------------------------------------------------------------

LB_LAGS = 4  #: autocorrelation lags pooled into Q
LB_CRIT = 9.488  #: chi-square 5% critical value at df = LB_LAGS


def ljung_box_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LJUNG-BOX PORTMANTEAU TEST per event type: pools the first
    LB_LAGS sample autocorrelations of the daily-mean series into
    Q = n(n+2) * sum_k r_k^2/(n-k) and compares against the chi-square
    critical value — the residual-whiteness diagnostic every ARIMA
    text runs after a fit (the reference hardcodes SARIMAX orders;
    `pacf_durbin_levinson` picks orders, Ljung-Box CHECKS the result).
    Sample ACF uses the classical single-series estimator — global
    mean and global denominator, lag-k cross products — not corr() of
    aligned pairs, so r_k here is exactly the textbook r_k. Each r_k
    is rounded to 9 dp before Q (the ACF discipline).

    Scale shape: calendar-bounded daily aggregate; ONE broadcast mean
    join; LB_LAGS lag columns from one per-type window pass; one
    combinable aggregate of the lagged products."""
    ev = load(spark, sf_dir, "events")
    daily = (
        ev.select(
            "event_type",
            (F.floor(F.col("ts").cast("double") / 86400) * 86400)
            .cast("long")
            .alias("day_start"),
            "value",
        )
        .groupBy("event_type", "day_start")
        .agg(F.round(F.avg("value") + F.lit(NUDGE), 9).alias("x"))
    )
    means = daily.groupBy("event_type").agg(
        F.avg("x").alias("xbar"), F.count("*").alias("n_days")
    )
    w = Window.partitionBy("event_type").orderBy("day_start")
    lagged = daily.select(
        "event_type",
        "x",
        *[F.lag("x", k).over(w).alias(f"xl{k}") for k in range(1, LB_LAGS + 1)],
    ).join(F.broadcast(means), "event_type")
    c = F.col("x") - F.col("xbar")
    agg = lagged.groupBy("event_type").agg(
        F.max("n_days").alias("n_days"),
        F.sum(c * c).alias("sxx"),
        *[
            F.sum(c * (F.col(f"xl{k}") - F.col("xbar"))).alias(f"num{k}")
            for k in range(1, LB_LAGS + 1)
        ],
    )
    rs = [
        F.round(F.col(f"num{k}") / F.col("sxx") + F.lit(NUDGE), 9)
        for k in range(1, LB_LAGS + 1)
    ]
    n = F.col("n_days").cast("double")
    q = (
        n
        * (n + 2)
        * sum(
            (rk * rk) / (n - k) for k, rk in enumerate(rs, start=1)
        )
    )
    q_r = rnd(q, 4)
    return agg.select(
        "event_type",
        "n_days",
        *[rnd(rk, 6).alias(f"r{k}") for k, rk in enumerate(rs, start=1)],
        q_r.alias("q_stat"),
        F.lit(LB_LAGS).cast("long").alias("df"),
        (q_r > LB_CRIT).alias("whiteness_rejected"),
    )


def _lb_oracle() -> str:
    nums = ",\n         ".join(
        f"sum((x - xbar) * (xl{k} - xbar)) AS num{k}"
        for k in range(1, LB_LAGS + 1)
    )
    lags = ",\n         ".join(
        f"lag(d.x, {k}) OVER (PARTITION BY d.event_type"
        f" ORDER BY d.day_start) AS xl{k}"
        for k in range(1, LB_LAGS + 1)
    )
    rdefs = ",\n         ".join(
        f"round(num{k} / sxx + {NUDGE}, 9) AS r{k}"
        for k in range(1, LB_LAGS + 1)
    )
    qsum = " + ".join(
        f"r{k} * r{k} / (CAST(n_days AS DOUBLE) - {k})"
        for k in range(1, LB_LAGS + 1)
    )
    rcols = ", ".join(
        f"round(r{k} + {NUDGE}, 6) AS r{k}" for k in range(1, LB_LAGS + 1)
    )
    return f"""
WITH daily AS (
  SELECT event_type,
         (CAST(floor(epoch(ts)) AS BIGINT) // 86400) * 86400 AS day_start,
         round(avg(value) + {NUDGE}, 9) AS x
  FROM events GROUP BY 1, 2
),
means AS (
  SELECT event_type, avg(x) AS xbar, count(*) AS n_days
  FROM daily GROUP BY 1
),
lagged AS (
  SELECT d.event_type, d.x, m.xbar, m.n_days,
         {lags}
  FROM daily d JOIN means m ON d.event_type = m.event_type
),
agg AS (
  SELECT event_type, max(n_days) AS n_days,
         sum((x - xbar) * (x - xbar)) AS sxx,
         {nums}
  FROM lagged GROUP BY 1
),
rvals AS (
  SELECT event_type, n_days,
         {rdefs}
  FROM agg
),
qcalc AS (
  SELECT *,
         round(CAST(n_days AS DOUBLE) * (n_days + 2) * ({qsum})
               + {NUDGE}, 4) AS q_r
  FROM rvals
)
SELECT event_type, n_days, {rcols},
       q_r AS q_stat,
       CAST({LB_LAGS} AS BIGINT) AS df,
       q_r > {LB_CRIT} AS whiteness_rejected
FROM qcalc
"""


# --------------------------------------------------------------------------
# 26. Granger-causality proxy (1-lag bivariate F test)
# --------------------------------------------------------------------------

GRANGER_CRIT = 3.8415  #: F(1, inf) 5% critical value


def granger_causality_proxy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GRANGER-CAUSALITY PROXY for every ORDERED event-type pair
    (a -> b): does adding a's lag-1 daily mean to b's own lag-1
    autoregression reduce SSE significantly? F = (SSE_r - SSE_u) /
    (SSE_u / (n-3)) with the restricted and unrestricted OLS fits both
    solved in CLOSED FORM from centred sufficient sums (2x2 normal
    equations — no iteration, no matrix library). The flag reads the
    ROUNDED F against the F(1, inf) critical value. One lag only, and
    named a PROXY: real Granger tests sweep lag order; this is the
    screening form, stated as such (`spearman_lead_lag` screens the
    monotone analogue).

    Scale shape: the per-type daily+lag table self-equi-joins ON DAY
    (k^2 rows per day, calendar x k^2 bounded), then ONE combinable
    aggregate of the ten OLS sums per ordered pair — algebra after."""
    ev = load(spark, sf_dir, "events")
    daily = (
        ev.select(
            "event_type",
            (F.floor(F.col("ts").cast("double") / 86400) * 86400)
            .cast("long")
            .alias("day_start"),
            "value",
        )
        .groupBy("event_type", "day_start")
        .agg(F.round(F.avg("value") + F.lit(NUDGE), 9).alias("x"))
    )
    w = Window.partitionBy("event_type").orderBy("day_start")
    lagged = daily.select(
        "event_type",
        "day_start",
        "x",
        F.lag("x").over(w).alias("xl"),
        (F.col("day_start") - F.lag("day_start").over(w)).alias("gap"),
    ).where(F.col("xl").isNotNull() & (F.col("gap") == 86400))
    b = lagged.select(
        F.col("event_type").alias("type_b"),
        "day_start",
        F.col("x").alias("y"),
        F.col("xl").alias("bl"),
    )
    a = lagged.select(
        F.col("event_type").alias("type_a"),
        "day_start",
        F.col("xl").alias("al"),
    )
    j = b.join(a, "day_start").where(F.col("type_a") != F.col("type_b"))
    g = j.groupBy("type_a", "type_b").agg(
        F.count("*").alias("n_obs"),
        F.sum("y").alias("sy"),
        F.sum("bl").alias("s1"),
        F.sum("al").alias("s2"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("bl") * F.col("bl")).alias("s11"),
        F.sum(F.col("al") * F.col("al")).alias("s22"),
        F.sum(F.col("bl") * F.col("al")).alias("s12"),
        F.sum(F.col("bl") * F.col("y")).alias("s1y"),
        F.sum(F.col("al") * F.col("y")).alias("s2y"),
    )
    n = F.col("n_obs").cast("double")
    cyy = F.col("syy") - F.col("sy") * F.col("sy") / n
    c11 = F.col("s11") - F.col("s1") * F.col("s1") / n
    c22 = F.col("s22") - F.col("s2") * F.col("s2") / n
    c12 = F.col("s12") - F.col("s1") * F.col("s2") / n
    c1y = F.col("s1y") - F.col("s1") * F.col("sy") / n
    c2y = F.col("s2y") - F.col("s2") * F.col("sy") / n
    det = c11 * c22 - c12 * c12
    b1 = (c1y * c22 - c2y * c12) / det
    b2 = (c2y * c11 - c1y * c12) / det
    sse_u = cyy - b1 * c1y - b2 * c2y
    sse_r = cyy - (c1y / c11) * c1y
    f_stat = (sse_r - sse_u) / (sse_u / (n - 3))
    f_r = rnd(f_stat, 4)
    return g.select(
        "type_a",
        "type_b",
        "n_obs",
        rnd(b2, 6).alias("cross_lag_coef"),
        f_r.alias("f_stat"),
        (f_r > GRANGER_CRIT).alias("granger_causal"),
    )


_GRANGER_ORACLE = f"""
WITH daily AS (
  SELECT event_type,
         (CAST(floor(epoch(ts)) AS BIGINT) // 86400) * 86400 AS day_start,
         round(avg(value) + {NUDGE}, 9) AS x
  FROM events GROUP BY 1, 2
),
lagged AS (
  SELECT event_type, day_start, x,
         lag(x) OVER (PARTITION BY event_type ORDER BY day_start) AS xl,
         day_start - lag(day_start) OVER (PARTITION BY event_type
                                          ORDER BY day_start) AS gap
  FROM daily
),
clean AS (
  SELECT * FROM lagged WHERE xl IS NOT NULL AND gap = 86400
),
j AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         b.x AS y, b.xl AS bl, a.xl AS al
  FROM clean b JOIN clean a ON b.day_start = a.day_start
  WHERE a.event_type <> b.event_type
),
g AS (
  SELECT type_a, type_b, count(*) AS n_obs,
         sum(y) AS sy, sum(bl) AS s1, sum(al) AS s2,
         sum(y * y) AS syy, sum(bl * bl) AS s11, sum(al * al) AS s22,
         sum(bl * al) AS s12, sum(bl * y) AS s1y, sum(al * y) AS s2y
  FROM j GROUP BY 1, 2
),
c AS (
  SELECT type_a, type_b, n_obs,
         syy - sy * sy / n_obs AS cyy,
         s11 - s1 * s1 / n_obs AS c11,
         s22 - s2 * s2 / n_obs AS c22,
         s12 - s1 * s2 / n_obs AS c12,
         s1y - s1 * sy / n_obs AS c1y,
         s2y - s2 * sy / n_obs AS c2y
  FROM g
),
fit AS (
  SELECT type_a, type_b, n_obs, c1y, c2y, cyy, c11,
         (c1y * c22 - c2y * c12) / (c11 * c22 - c12 * c12) AS b1,
         (c2y * c11 - c1y * c12) / (c11 * c22 - c12 * c12) AS b2
  FROM c
),
fstat AS (
  SELECT type_a, type_b, n_obs, b2,
         round(((cyy - (c1y / c11) * c1y) - (cyy - b1 * c1y - b2 * c2y))
               / ((cyy - b1 * c1y - b2 * c2y) / (n_obs - 3))
               + {NUDGE}, 4) AS f_r
  FROM fit
)
SELECT type_a, type_b, n_obs,
       round(b2 + {NUDGE}, 6) AS cross_lag_coef,
       f_r AS f_stat,
       f_r > {GRANGER_CRIT} AS granger_causal
FROM fstat
"""


# --------------------------------------------------------------------------
# 27. Poisson rate-ratio test (weekend vs weekday arrival intensity)
# --------------------------------------------------------------------------


def poisson_rate_ratio_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POISSON RATE-RATIO TEST per event type: weekend vs weekday
    ARRIVAL INTENSITY (events per observed day), with the
    log-rate-ratio normal test and 95% CI — the COUNT-side complement
    of `odds_ratio_table` (which conditions on an outcome; this asks
    whether the arrival process itself beats/undershoots the weekday
    rate). Haldane +0.5 on both counts keeps the log finite and is
    applied identically in both engines. Day-of-week is the same
    arithmetic (epoch_days+4)%7 used cohort-wide.

    Scale shape: ONE combinable pass per type (conditional counts +
    distinct-day counts via the day-level pre-aggregate) — bounded
    algebra after."""
    ev = load(spark, sf_dir, "events")
    dayed = ev.select(
        "event_type",
        (F.floor(F.col("ts").cast("double") / 86400)).cast("long").alias(
            "day_idx"
        ),
    ).select(
        "event_type",
        "day_idx",
        (((F.col("day_idx") + 4) % 7).isin(0, 6)).alias("weekend"),
    )
    per_day = dayed.groupBy("event_type", "day_idx", "weekend").agg(
        F.count("*").alias("n")
    )
    g = per_day.groupBy("event_type").agg(
        F.sum(F.when(F.col("weekend"), F.col("n")).otherwise(0)).alias(
            "n_we"
        ),
        F.sum(F.when(~F.col("weekend"), F.col("n")).otherwise(0)).alias(
            "n_wd"
        ),
        F.sum(F.when(F.col("weekend"), 1).otherwise(0))
        .cast("long")
        .alias("days_we"),
        F.sum(F.when(~F.col("weekend"), 1).otherwise(0))
        .cast("long")
        .alias("days_wd"),
    )
    rate_we = F.col("n_we") / F.col("days_we")
    rate_wd = F.col("n_wd") / F.col("days_wd")
    lrr = F.log(
        ((F.col("n_we") + 0.5) / F.col("days_we"))
        / ((F.col("n_wd") + 0.5) / F.col("days_wd"))
    )
    se = F.sqrt(1 / (F.col("n_we") + 0.5) + 1 / (F.col("n_wd") + 0.5))
    z_r = rnd(lrr / se, 4)
    return g.select(
        "event_type",
        "n_we",
        "n_wd",
        "days_we",
        "days_wd",
        rnd(rate_we, 4).alias("rate_weekend"),
        rnd(rate_wd, 4).alias("rate_weekday"),
        rnd(F.exp(lrr), 4).alias("rate_ratio"),
        rnd(F.exp(lrr - 1.96 * se), 4).alias("rr_ci_lo"),
        rnd(F.exp(lrr + 1.96 * se), 4).alias("rr_ci_hi"),
        z_r.alias("z_stat"),
        (F.abs(z_r) > 1.96).alias("significant"),
    )


_POISSON_ORACLE = f"""
WITH dayed AS (
  SELECT event_type,
         CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day_idx
  FROM events
),
flagged AS (
  SELECT event_type, day_idx,
         ((day_idx + 4) % 7) IN (0, 6) AS weekend
  FROM dayed
),
per_day AS (
  SELECT event_type, day_idx, weekend, count(*) AS n
  FROM flagged GROUP BY 1, 2, 3
),
g AS (
  SELECT event_type,
         CAST(sum(CASE WHEN weekend THEN n ELSE 0 END) AS BIGINT) AS n_we,
         CAST(sum(CASE WHEN NOT weekend THEN n ELSE 0 END) AS BIGINT)
           AS n_wd,
         CAST(sum(CASE WHEN weekend THEN 1 ELSE 0 END) AS BIGINT)
           AS days_we,
         CAST(sum(CASE WHEN NOT weekend THEN 1 ELSE 0 END) AS BIGINT)
           AS days_wd
  FROM per_day GROUP BY 1
),
eff AS (
  SELECT *,
         ln(((n_we + 0.5) / days_we) / ((n_wd + 0.5) / days_wd)) AS lrr,
         sqrt(1 / (n_we + 0.5) + 1 / (n_wd + 0.5)) AS se
  FROM g
),
eff2 AS (
  SELECT event_type, n_we, n_wd, days_we, days_wd,
         round(CAST(n_we AS DOUBLE) / days_we + {NUDGE}, 4)
           AS rate_weekend,
         round(CAST(n_wd AS DOUBLE) / days_wd + {NUDGE}, 4)
           AS rate_weekday,
         round(exp(lrr) + {NUDGE}, 4) AS rate_ratio,
         round(exp(lrr - 1.96 * se) + {NUDGE}, 4) AS rr_ci_lo,
         round(exp(lrr + 1.96 * se) + {NUDGE}, 4) AS rr_ci_hi,
         round(lrr / se + {NUDGE}, 4) AS z_stat
  FROM eff
)
SELECT *, abs(z_stat) > 1.96 AS significant FROM eff2
"""


# --------------------------------------------------------------------------
# 28. McNemar's test on consecutive-day paired states
# --------------------------------------------------------------------------

MCNEMAR_CRIT = 3.841  #: chi-square 5% critical value at df = 1


def mcnemar_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNEMAR'S TEST per event type on CONSECUTIVE-DAY pairs: did the
    series flip above/below its own median more often in one direction
    than the other? Pairs (day t-1, day t) are the matched samples;
    the discordant cells b (above->below) and c (below->above) feed
    the continuity-corrected chi-square (|b-c|-1)^2/(b+c) — the
    paired counterpart of `odds_ratio_table`'s independent 2x2, and a
    direct test of drift DIRECTION asymmetry (a trending series flips
    one way more than the other; `mann_kendall_trend` measures the
    trend, McNemar certifies the flip asymmetry). Only strictly
    consecutive days pair (gap = 86400), so missing days break pairs
    identically in both engines.

    Scale shape: calendar-bounded daily aggregate + broadcast median
    join + one lag window per type + ONE combinable count aggregate."""
    ev = load(spark, sf_dir, "events")
    daily = (
        ev.select(
            "event_type",
            (F.floor(F.col("ts").cast("double") / 86400) * 86400)
            .cast("long")
            .alias("day_start"),
            "value",
        )
        .groupBy("event_type", "day_start")
        .agg(F.round(F.avg("value") + F.lit(NUDGE), 9).alias("x"))
    )
    med = daily.groupBy("event_type").agg(
        F.round(F.expr("percentile(x, 0.5)") + F.lit(NUDGE), 9).alias("med")
    )
    flagged = daily.join(F.broadcast(med), "event_type").select(
        "event_type",
        "day_start",
        (F.col("x") > F.col("med")).alias("hi"),
    )
    w = Window.partitionBy("event_type").orderBy("day_start")
    paired = flagged.select(
        "event_type",
        "hi",
        F.lag("hi").over(w).alias("hi_prev"),
        (F.col("day_start") - F.lag("day_start").over(w)).alias("gap"),
    ).where(F.col("hi_prev").isNotNull() & (F.col("gap") == 86400))
    g = paired.groupBy("event_type").agg(
        F.count("*").alias("n_pairs"),
        F.sum((F.col("hi_prev") & ~F.col("hi")).cast("long")).alias("b"),
        F.sum((~F.col("hi_prev") & F.col("hi")).cast("long")).alias("c"),
    )
    chi = F.pow(F.abs(F.col("b") - F.col("c")) - 1, F.lit(2.0)) / (
        F.col("b") + F.col("c")
    )
    chi_r = rnd(chi, 4)
    return g.select(
        "event_type",
        "n_pairs",
        "b",
        "c",
        chi_r.alias("chi2_stat"),
        (chi_r > MCNEMAR_CRIT).alias("asymmetric_flips"),
    )


_MCNEMAR_ORACLE = f"""
WITH daily AS (
  SELECT event_type,
         (CAST(floor(epoch(ts)) AS BIGINT) // 86400) * 86400 AS day_start,
         round(avg(value) + {NUDGE}, 9) AS x
  FROM events GROUP BY 1, 2
),
med AS (
  SELECT event_type, round(quantile_cont(x, 0.5) + {NUDGE}, 9) AS med
  FROM daily GROUP BY 1
),
flagged AS (
  SELECT d.event_type, d.day_start, d.x > m.med AS hi
  FROM daily d JOIN med m ON d.event_type = m.event_type
),
paired AS (
  SELECT event_type, hi,
         lag(hi) OVER (PARTITION BY event_type ORDER BY day_start)
           AS hi_prev,
         day_start - lag(day_start) OVER (PARTITION BY event_type
                                          ORDER BY day_start) AS gap
  FROM flagged
),
g AS (
  SELECT event_type, count(*) AS n_pairs,
         CAST(sum(CASE WHEN hi_prev AND NOT hi THEN 1 ELSE 0 END)
              AS BIGINT) AS b,
         CAST(sum(CASE WHEN NOT hi_prev AND hi THEN 1 ELSE 0 END)
              AS BIGINT) AS c
  FROM paired WHERE hi_prev IS NOT NULL AND gap = 86400
  GROUP BY 1
),
eff AS (
  SELECT event_type, n_pairs, b, c,
         round(pow(abs(b - c) - 1, 2.0) / (b + c) + {NUDGE}, 4)
           AS chi2_stat
  FROM g
)
SELECT *, chi2_stat > {MCNEMAR_CRIT} AS asymmetric_flips FROM eff
"""


# --------------------------------------------------------------------------
# 29. isotonic calibration over score bins (PAV via the minimax formula)
# --------------------------------------------------------------------------

ISO_BINS = 20  #: equal-width account-balance bins


def isotonic_calibration_binned(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ISOTONIC CALIBRATION of "has placed an order" against account
    balance, fit on ISO_BINS equal-width bins via the MINIMAX
    characterization of isotonic regression:
    iso(j) = max_{i<=j} min_{k>=j} avg(y, bins i..k) — exactly the
    pool-adjacent-violators solution, but expressed as bounded
    relational algebra instead of a sequential pooling loop (the PAV
    twin of `calibration_report`, which only reports raw bin rates;
    isotonic is what a monotone recalibrator actually deploys). Range
    averages come from prefix sums over the B-row bin table, so the
    i/j/k fan-out is B^3-bounded — a compile-time constant — never
    data-scaled.

    Scale shape: one corpus pass to the B-row (n, successes)
    histogram (customer left-semi-joined to orders is the outcome);
    every window/join after operates on <= B rows by construction."""
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    has = orders.select("o_custkey").distinct()
    labeled = cust.join(
        has.withColumnRenamed("o_custkey", "c_custkey").withColumn(
            "y", F.lit(1)
        ),
        "c_custkey",
        "left",
    ).select("c_acctbal", F.coalesce("y", F.lit(0)).alias("y"))
    rng = labeled.agg(
        F.min("c_acctbal").alias("lo"), F.max("c_acctbal").alias("hi")
    )
    binned = labeled.crossJoin(F.broadcast(rng)).select(
        F.least(
            F.lit(ISO_BINS - 1),
            F.floor(
                (F.col("c_acctbal") - F.col("lo"))
                / (F.col("hi") - F.col("lo"))
                * ISO_BINS
            ),
        )
        .cast("long")
        .alias("bin"),
        "y",
    )
    bins = binned.groupBy("bin").agg(
        F.count("*").alias("n"), F.sum("y").cast("long").alias("s")
    )
    wcum = Window.orderBy("bin").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cums = bins.select(
        "bin",
        "n",
        "s",
        F.sum("n").over(wcum).alias("cn"),
        F.sum("s").over(wcum).alias("cs"),
    )
    left = cums.select(
        F.col("bin").alias("i"),
        (F.col("cn") - F.col("n")).alias("cn_before"),
        (F.col("cs") - F.col("s")).alias("cs_before"),
    )
    right = cums.select(
        F.col("bin").alias("k"),
        F.col("cn").alias("cn_k"),
        F.col("cs").alias("cs_k"),
    )
    ranges = left.join(right, F.col("i") <= F.col("k")).select(
        "i",
        "k",
        (
            (F.col("cs_k") - F.col("cs_before")).cast("double")
            / (F.col("cn_k") - F.col("cn_before"))
        ).alias("avg_ik"),
    )
    js = cums.select(F.col("bin").alias("j"))
    inner = (
        js.join(
            ranges,
            (F.col("i") <= F.col("j")) & (F.col("j") <= F.col("k")),
        )
        .groupBy("j", "i")
        .agg(F.min("avg_ik").alias("m"))
    )
    iso = inner.groupBy("j").agg(F.max("m").alias("iso_u"))
    return (
        cums.join(iso, cums.bin == iso.j)
        .select(
            "bin",
            "n",
            "s",
            rnd(F.col("s").cast("double") / F.col("n"), 6).alias(
                "empirical_rate"
            ),
            rnd("iso_u", 6).alias("isotonic_rate"),
        )
    )


_ISO_ORACLE = f"""
WITH has AS (SELECT DISTINCT o_custkey FROM orders),
labeled AS (
  SELECT c.c_acctbal,
         CASE WHEN h.o_custkey IS NULL THEN 0 ELSE 1 END AS y
  FROM customer c LEFT JOIN has h ON c.c_custkey = h.o_custkey
),
rng AS (SELECT min(c_acctbal) AS lo, max(c_acctbal) AS hi FROM labeled),
binned AS (
  SELECT CAST(least({ISO_BINS - 1},
              floor((l.c_acctbal - r.lo) / (r.hi - r.lo) * {ISO_BINS}))
              AS BIGINT) AS bin,
         l.y
  FROM labeled l CROSS JOIN rng r
),
bins AS (
  SELECT bin, count(*) AS n, CAST(sum(y) AS BIGINT) AS s
  FROM binned GROUP BY 1
),
cums AS (
  SELECT bin, n, s,
         sum(n) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cn,
         sum(s) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cs
  FROM bins
),
ranges AS (
  SELECT l.bin AS i, r.bin AS k,
         CAST(r.cs - (l.cs - l.s) AS DOUBLE)
           / (r.cn - (l.cn - l.n)) AS avg_ik
  FROM cums l JOIN cums r ON l.bin <= r.bin
),
inner_min AS (
  SELECT j.bin AS j, ranges.i, min(ranges.avg_ik) AS m
  FROM cums j JOIN ranges
    ON ranges.i <= j.bin AND j.bin <= ranges.k
  GROUP BY 1, 2
),
iso AS (SELECT j, max(m) AS iso_u FROM inner_min GROUP BY 1)
SELECT c.bin, c.n, c.s,
       round(CAST(c.s AS DOUBLE) / c.n + {NUDGE}, 6) AS empirical_rate,
       round(i.iso_u + {NUDGE}, 6) AS isotonic_rate
FROM cums c JOIN iso i ON c.bin = i.j
"""


# --------------------------------------------------------------------------
# 30. Hill tail-index estimator over top order statistics
# --------------------------------------------------------------------------

HILL_KS = (50, 100, 200)  #: order-statistic depths for the Hill curve


def hill_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HILL TAIL-INDEX curve for order totals: for each depth k,
    H_k = (1/k) * sum_{i<=k} ln(x_(i) / x_(k+1)) over the descending
    order statistics and tail alpha = 1/H_k — the standard estimator
    of the Pareto tail exponent, read across several k to see whether
    the tail is stable (the plot behind `value_at_risk`'s quantile
    choice and `extreme_value_return_levels`' block-maxima fit; Hill
    uses ALL top-k exceedances, not just block maxima). Ties broken
    by o_orderkey so the order statistics are engine-identical.

    Scale shape: the ONLY corpus touch is orderBy().limit(max_k + 1)
    — Spark plans TakeOrderedAndProject (per-partition heaps, k+1-row
    driver merge), the repo's blessed top-k pattern; every window
    after runs on the 201-row bounded set."""
    orders = load(spark, sf_dir, "orders")
    top = (
        orders.select("o_totalprice", "o_orderkey")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(max(HILL_KS) + 1)
    )
    w = Window.orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    idx = top.select(
        F.row_number().over(w).alias("rk"),
        F.col("o_totalprice").alias("x"),
    )
    ks = spark.createDataFrame(
        [(k,) for k in HILL_KS], "k long"
    )
    thresholds = idx.join(
        F.broadcast(ks), F.col("rk") == F.col("k") + 1
    ).select("k", F.col("x").alias("x_k1"))
    joined = idx.join(F.broadcast(thresholds), F.col("rk") <= F.col("k"))
    return (
        joined.groupBy("k")
        .agg(
            F.max("x_k1").alias("threshold"),
            F.avg(F.log(F.col("x") / F.col("x_k1"))).alias("h_u"),
        )
        .select(
            "k",
            rnd("threshold", 4).alias("threshold"),
            rnd("h_u", 6).alias("hill_h"),
            # h_u == 0 when the top-(k+1) values are ALL ties (a
            # replicated corpus saturates the tail: the 100x probe hit
            # this — every order has 99 twins, so the top-101 are one
            # value and ln(x/x_k1) == 0 for every row). The estimator
            # is undefined there; DuckDB's x/0 is NULL, so try_divide
            # is the engine-identical spelling, not an error guard.
            rnd(F.try_divide(F.lit(1.0), F.col("h_u")), 4).alias("tail_alpha"),
        )
    )


def _hill_oracle() -> str:
    ks = ", ".join(str(k) for k in HILL_KS)
    return f"""
WITH top AS (
  SELECT o_totalprice AS x,
         row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey)
           AS rk
  FROM orders
  ORDER BY o_totalprice DESC, o_orderkey
  LIMIT {max(HILL_KS) + 1}
),
ks AS (SELECT unnest([{ks}]) AS k),
thresholds AS (
  SELECT ks.k, top.x AS x_k1
  FROM top JOIN ks ON top.rk = ks.k + 1
),
joined AS (
  SELECT t.k, t.x_k1, top.x
  FROM top JOIN thresholds t ON top.rk <= t.k
)
SELECT k,
       round(max(x_k1) + {NUDGE}, 4) AS threshold,
       round(avg(ln(x / x_k1)) + {NUDGE}, 6) AS hill_h,
       round(1.0 / avg(ln(x / x_k1)) + {NUDGE}, 4) AS tail_alpha
FROM joined GROUP BY k
"""


register("ljung_box_test", oracle=_lb_oracle(), tags=("prepared-r10",))(ljung_box_test)
register("granger_causality_proxy", oracle=_GRANGER_ORACLE,
         tags=("prepared-r10",))(granger_causality_proxy)
register("poisson_rate_ratio_test", oracle=_POISSON_ORACLE,
         tags=("prepared-r10",))(poisson_rate_ratio_test)
register("mcnemar_test", oracle=_MCNEMAR_ORACLE, tags=("prepared-r10",))(mcnemar_test)
register("isotonic_calibration_binned", oracle=_ISO_ORACLE,
         tags=("prepared-r10",))(isotonic_calibration_binned)
register("hill_tail_index", oracle=_hill_oracle(),
         tags=("prepared-r10",))(hill_tail_index)


# ==========================================================================
# batch 6 — LLM-pipeline measurement ops
# ==========================================================================

# --------------------------------------------------------------------------
# 31. hubness of the ANN neighborhood graph
# --------------------------------------------------------------------------

HUB_QUERIES = 20  #: deterministic query set (vec_id < HUB_QUERIES)
HUB_K = 5  #: neighbors per query


def hubness_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HUBNESS of the cosine neighborhood graph: how often each corpus
    vector appears among the top-HUB_K neighbors of the deterministic
    HUB_QUERIES query set (its k-OCCURRENCE), plus the corpus-wide
    skewness of that distribution — the standard diagnostic for
    high-dimensional "hub" vectors that dominate ANN result lists and
    silently bias retrieval (high skew = a few vectors are everyone's
    neighbor; `lsh_recall_estimate` measures recall, hubness explains
    WHY it degrades). The skewness counts the (corpus - appearing)
    zero-occurrence vectors EXACTLY via moment algebra — zeros
    contribute nothing to the moment sums, so the full-corpus moments
    come from the bounded appearing set plus the corpus count.

    Scale shape: the scoring reuses the `cosine_topk` recipe — tiny
    broadcast query side, corpus side never moves, per-query
    WindowGroupLimit top-k; everything after runs on <=
    HUB_QUERIES x HUB_K rows."""
    from flink_cookbook_spark.pipeline.similarity import (
        _dot, _emb_double, _norm,
    )

    emb = _emb_double(load(spark, sf_dir, "embeddings"))
    queries = emb.where(F.col("vec_id") < HUB_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("emb").alias("qemb"),
        _norm(F.col("emb")).alias("qn"),
    )
    corpus = emb.select(
        F.col("vec_id").alias("cand_id"),
        F.col("emb").alias("cemb"),
        _norm(F.col("emb")).alias("cn"),
    )
    scored = (
        corpus.crossJoin(F.broadcast(queries))
        .where(F.col("cand_id") != F.col("query_id"))
        .withColumn(
            "cosine_raw",
            _dot(F.col("qemb"), F.col("cemb"))
            / (F.col("qn") * F.col("cn")),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_raw").desc(), F.col("cand_id").asc()
    )
    topk = (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= HUB_K)
        .select("query_id", "cand_id")
    )
    occ = topk.groupBy("cand_id").agg(F.count("*").alias("k_occurrence"))
    ncorp = emb.agg(F.count("*").alias("n_corpus"))
    moments = occ.agg(
        F.count("*").alias("n_appearing"),
        F.sum("k_occurrence").alias("s1"),
        F.sum(F.pow("k_occurrence", F.lit(2.0))).alias("s2"),
        F.sum(F.pow("k_occurrence", F.lit(3.0))).alias("s3"),
    )
    j = moments.crossJoin(F.broadcast(ncorp))
    nd = F.col("n_corpus").cast("double")
    m1 = F.col("s1") / nd
    m2 = F.col("s2") / nd
    m3 = F.col("s3") / nd
    var = m2 - m1 * m1
    skew = (m3 - 3 * m1 * m2 + 2 * m1 * m1 * m1) / F.pow(var, F.lit(1.5))
    const = j.select(
        "n_corpus",
        "n_appearing",
        rnd(skew, 4).alias("hubness_skewness"),
        rnd((nd - F.col("n_appearing")) / nd, 6).alias("antihub_share"),
    )
    return occ.crossJoin(F.broadcast(const)).select(
        "cand_id",
        "k_occurrence",
        "n_corpus",
        "n_appearing",
        "hubness_skewness",
        "antihub_share",
    )


_HUB_ORACLE = f"""
WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
         list_dot_product(q.e, c.e)
           / (sqrt(list_dot_product(q.e, q.e))
              * sqrt(list_dot_product(c.e, c.e))) AS cosine_raw
  FROM emb q JOIN emb c
    ON q.vec_id < {HUB_QUERIES} AND c.vec_id != q.vec_id
),
topk AS (
  SELECT query_id, cand_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                 ORDER BY cosine_raw DESC, cand_id ASC) AS rk
    FROM scored)
  WHERE rk <= {HUB_K}
),
occ AS (
  SELECT cand_id, count(*) AS k_occurrence FROM topk GROUP BY 1
),
ncorp AS (SELECT count(*) AS n_corpus FROM emb),
moments AS (
  SELECT count(*) AS n_appearing,
         CAST(sum(k_occurrence) AS DOUBLE) AS s1,
         sum(pow(k_occurrence, 2.0)) AS s2,
         sum(pow(k_occurrence, 3.0)) AS s3
  FROM occ
),
const AS (
  SELECT n.n_corpus, m.n_appearing,
         round((m.s3 / n.n_corpus
                - 3 * (m.s1 / n.n_corpus) * (m.s2 / n.n_corpus)
                + 2 * pow(m.s1 / n.n_corpus, 3.0))
               / pow(m.s2 / n.n_corpus
                     - pow(m.s1 / n.n_corpus, 2.0), 1.5)
               + {NUDGE}, 4) AS hubness_skewness,
         round((CAST(n.n_corpus AS DOUBLE) - m.n_appearing) / n.n_corpus
               + {NUDGE}, 6) AS antihub_share
  FROM moments m CROSS JOIN ncorp n
)
SELECT o.cand_id, o.k_occurrence, c.n_corpus, c.n_appearing,
       c.hubness_skewness, c.antihub_share
FROM occ o CROSS JOIN const c
"""


# --------------------------------------------------------------------------
# 32. eval-split bigram coverage by the train split
# --------------------------------------------------------------------------


def ngram_coverage_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BIGRAM COVERAGE of the held-out split by the train split, per
    source: what share of eval bigram OCCURRENCES (and of DISTINCT
    eval bigrams) was seen in training — the order-2 companion of
    `unigram_perplexity_split` (unigram OOV misses compositional
    novelty; a source can share every word yet pair them in unseen
    ways). Bigrams are built positionally on BOTH engines (explicit
    index transform over the token array — 1-based, guarded for
    single-token docs) so tokenization parity is exact.

    Scale shape: bigram explode -> one distinct train set (equi-join
    key), eval-side left join, one per-source aggregate. The join key
    is the bigram string — vocab^2-bounded in principle, corpus-
    bounded in practice, and an EQUI-join either way."""
    docs = load(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n = F.size(toks)
    bigrams = F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.concat_ws(
                " ", F.element_at(toks, i), F.element_at(toks, i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    train_bi = (
        docs.where(F.col("doc_id") % PPL_TRAIN_MOD < PPL_TRAIN_LT)
        .select(F.explode(bigrams).alias("bigram"))
        .distinct()
        .withColumn("seen", F.lit(1))
    )
    ev = docs.where(F.col("doc_id") % PPL_TRAIN_MOD >= PPL_TRAIN_LT).select(
        "source", F.explode(bigrams).alias("bigram")
    )
    j = ev.join(train_bi, "bigram", "left")
    occ = j.groupBy("source").agg(
        F.count("*").alias("n_bigrams"),
        rnd(
            F.sum(F.when(F.col("seen").isNotNull(), 1.0).otherwise(0.0))
            / F.count("*"),
            6,
        ).alias("occurrence_coverage"),
    )
    dist = (
        j.select("source", "bigram", "seen")
        .distinct()
        .groupBy("source")
        .agg(
            F.count("*").alias("n_distinct_bigrams"),
            rnd(
                F.sum(
                    F.when(F.col("seen").isNotNull(), 1.0).otherwise(0.0)
                )
                / F.count("*"),
                6,
            ).alias("distinct_coverage"),
        )
    )
    return occ.join(dist, "source")


_NGCOV_ORACLE = f"""
WITH bi AS (
  SELECT doc_id, source,
         unnest(CASE WHEN len(string_split(text, ' ')) >= 2
                THEN list_transform(
                       range(1, len(string_split(text, ' '))),
                       i -> string_split(text, ' ')[i] || ' '
                            || string_split(text, ' ')[i + 1])
                ELSE [] END) AS bigram
  FROM documents
),
train_bi AS (
  SELECT DISTINCT bigram, 1 AS seen
  FROM bi WHERE doc_id % {PPL_TRAIN_MOD} < {PPL_TRAIN_LT}
),
ev AS (
  SELECT source, bigram FROM bi
  WHERE doc_id % {PPL_TRAIN_MOD} >= {PPL_TRAIN_LT}
),
j AS (
  SELECT e.source, e.bigram, t.seen
  FROM ev e LEFT JOIN train_bi t ON e.bigram = t.bigram
),
occ AS (
  SELECT source, count(*) AS n_bigrams,
         round(sum(CASE WHEN seen IS NOT NULL THEN 1.0 ELSE 0.0 END)
               / count(*) + {NUDGE}, 6) AS occurrence_coverage
  FROM j GROUP BY 1
),
dist AS (
  SELECT source, count(*) AS n_distinct_bigrams,
         round(sum(CASE WHEN seen IS NOT NULL THEN 1.0 ELSE 0.0 END)
               / count(*) + {NUDGE}, 6) AS distinct_coverage
  FROM (SELECT DISTINCT source, bigram, seen FROM j) GROUP BY 1
)
SELECT o.source, o.n_bigrams, o.occurrence_coverage,
       d.n_distinct_bigrams, d.distinct_coverage
FROM occ o JOIN dist d ON o.source = d.source
"""


# --------------------------------------------------------------------------
# 33. boilerplate prefix clusters
# --------------------------------------------------------------------------

BP_PREFIX_TOKENS = 8  #: leading tokens hashed into the prefix key


def boilerplate_prefix_clusters(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """BOILERPLATE PREFIX CLUSTERS: documents sharing their first
    BP_PREFIX_TOKENS tokens, grouped — the cheap detector for
    templated headers/licenses/navigation chrome that exact-dedup
    misses (the bodies differ) and MinHash underweights (the shared
    prefix is a small fraction of the shingle set). Emits one row per
    duplicated prefix with its document count, source spread, and
    canonical (minimum) doc id; the prefix itself travels as an md5
    key so row width stays constant.

    Scale shape: ONE map-only prefix projection + ONE combinable
    groupBy on the prefix hash; HAVING count > 1 prunes the
    (overwhelming) singleton mass before any downstream use."""
    docs = load(spark, sf_dir, "documents")
    prefix = F.array_join(
        F.slice(F.split("text", " "), 1, BP_PREFIX_TOKENS), " "
    )
    g = (
        docs.select(
            F.md5(prefix).alias("prefix_hash"),
            "doc_id",
            "source",
        )
        .groupBy("prefix_hash")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("source").alias("n_sources"),
            F.min("doc_id").alias("canonical_doc_id"),
        )
        .where(F.col("n_docs") > 1)
    )
    return g


_BP_ORACLE = f"""
SELECT md5(array_to_string(string_split(text, ' ')[1:{BP_PREFIX_TOKENS}],
            ' ')) AS prefix_hash,
       count(*) AS n_docs,
       count(DISTINCT source) AS n_sources,
       min(doc_id) AS canonical_doc_id
FROM documents
GROUP BY 1
HAVING count(*) > 1
"""


# --------------------------------------------------------------------------
# 34. Johnson-Lindenstrauss random-projection distortion audit
# --------------------------------------------------------------------------

JL_OUT_DIMS = 8  #: projected dimensionality
JL_IN_DIMS = 64  #: fixture embedding dimensionality


def _jl_signs() -> list[list[float]]:
    """The +-1 projection matrix, derived from md5 hex parity at
    BUILD time and embedded as float literals in BOTH engines' plans
    — a literal cannot differ between libms."""
    import hashlib

    rows = []
    for j in range(JL_OUT_DIMS):
        row = []
        for i in range(JL_IN_DIMS):
            h = hashlib.md5(f"jl_{j}_{i}".encode()).hexdigest()
            row.append(1.0 if int(h[0], 16) % 2 == 0 else -1.0)
        rows.append(row)
    return rows


def random_projection_distortion(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """JOHNSON-LINDENSTRAUSS DISTORTION AUDIT: project every embedding
    through a fixed +-1 sign matrix (md5-derived, embedded as
    literals) down to JL_OUT_DIMS, then compare projected vs true
    squared distances over the deterministic consecutive-id pair set.
    For +-1 entries, E[(r_j . x)^2] = ||x||^2, so the mean of the
    JL_OUT_DIMS squared components estimates the true distance — the
    measured distortion ratio is the certificate behind using cheap
    projected distances as an ANN prefilter (`lsh_bucket_assignment`
    uses the SIGNS of these same projections; this op measures how
    much metric the magnitudes preserve). Projection is LINEAR, so
    projected differences are differences of projections — computed
    once per vector, never per pair.

    Scale shape: map-only projection per vector (8 sequential-fold
    dot products against literal arrays — zero shuffle), one
    consecutive-id equi-join for pairs, bounded constants."""
    from flink_cookbook_spark.pipeline.similarity import _emb_double

    emb = _emb_double(load(spark, sf_dir, "embeddings"))
    signs = _jl_signs()

    def fold_dot(vec_col, lits):
        arr = F.array(*[F.lit(v) for v in lits])
        return F.aggregate(
            F.zip_with(vec_col, arr, lambda x, s: x * s),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    projected = emb.select(
        "vec_id",
        "emb",
        F.array(
            *[fold_dot(F.col("emb"), signs[j]) for j in range(JL_OUT_DIMS)]
        ).alias("proj"),
    )
    a = projected.select(
        F.col("vec_id").alias("pair_id"),
        F.col("emb").alias("e1"),
        F.col("proj").alias("p1"),
    )
    b = projected.select(
        (F.col("vec_id") - 1).alias("pair_id"),
        F.col("emb").alias("e2"),
        F.col("proj").alias("p2"),
    )
    true_d2 = F.aggregate(
        F.zip_with(F.col("e1"), F.col("e2"), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    proj_d2 = F.aggregate(
        F.zip_with(F.col("p1"), F.col("p2"), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    pairs = a.join(b, "pair_id").select(
        "pair_id",
        true_d2.alias("true_d2_u"),
        (proj_d2 / F.lit(float(JL_OUT_DIMS))).alias("jl_est_u"),
    )
    scored = pairs.select(
        "pair_id",
        "true_d2_u",
        "jl_est_u",
        (F.col("jl_est_u") / F.col("true_d2_u")).alias("ratio_u"),
    )
    const = scored.agg(
        rnd(F.avg("ratio_u"), 6).alias("mean_ratio"),
        rnd(F.max(F.abs(F.col("ratio_u") - 1)), 6).alias("max_abs_dev"),
    )
    return scored.crossJoin(F.broadcast(const)).select(
        "pair_id",
        rnd("true_d2_u", 4).alias("true_d2"),
        rnd("jl_est_u", 4).alias("jl_estimate"),
        rnd("ratio_u", 6).alias("distortion_ratio"),
        "mean_ratio",
        "max_abs_dev",
    )


def _jl_oracle() -> str:
    signs = _jl_signs()
    proj_exprs = ", ".join(
        "list_sum(list_transform(range(1, %d), i -> e[i] * ([%s])[i]))"
        % (JL_IN_DIMS + 1, ", ".join(repr(v) for v in signs[j]))
        for j in range(JL_OUT_DIMS)
    )
    return f"""
WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
projected AS (
  SELECT vec_id, e, [{proj_exprs}] AS proj
  FROM emb
),
pairs AS (
  SELECT a.vec_id AS pair_id,
         list_sum(list_transform(range(1, {JL_IN_DIMS + 1}),
                  i -> (a.e[i] - b.e[i]) * (a.e[i] - b.e[i])))
           AS true_d2_u,
         list_sum(list_transform(range(1, {JL_OUT_DIMS + 1}),
                  i -> (a.proj[i] - b.proj[i])
                       * (a.proj[i] - b.proj[i])))
           / {float(JL_OUT_DIMS)} AS jl_est_u
  FROM projected a JOIN projected b ON b.vec_id = a.vec_id + 1
),
scored AS (
  SELECT pair_id, true_d2_u, jl_est_u,
         jl_est_u / true_d2_u AS ratio_u
  FROM pairs
),
const AS (
  SELECT round(avg(ratio_u) + {NUDGE}, 6) AS mean_ratio,
         round(max(abs(ratio_u - 1)) + {NUDGE}, 6) AS max_abs_dev
  FROM scored
)
SELECT s.pair_id,
       round(s.true_d2_u + {NUDGE}, 4) AS true_d2,
       round(s.jl_est_u + {NUDGE}, 4) AS jl_estimate,
       round(s.ratio_u + {NUDGE}, 6) AS distortion_ratio,
       c.mean_ratio, c.max_abs_dev
FROM scored s CROSS JOIN const c
"""


register("hubness_score", oracle=_HUB_ORACLE, tags=("prepared-r10",))(hubness_score)
register("ngram_coverage_overlap", oracle=_NGCOV_ORACLE,
         tags=("prepared-r10",))(ngram_coverage_overlap)
register("boilerplate_prefix_clusters", oracle=_BP_ORACLE,
         tags=("prepared-r10",))(boilerplate_prefix_clusters)
register("random_projection_distortion", oracle=_jl_oracle(),
         tags=("prepared-r10",))(random_projection_distortion)


# ==========================================================================
# batch 7 — warehouse / supply-chain analytics
# ==========================================================================

# --------------------------------------------------------------------------
# 35. ABC / XYZ inventory classification grid
# --------------------------------------------------------------------------

ABC_P_A = 0.8  #: revenue-percentile floor for class A
ABC_P_B = 0.5  #: revenue-percentile floor for class B
XYZ_CV_X = 0.5  #: demand-CV ceiling for class X
XYZ_CV_Y = 1.0  #: demand-CV ceiling for class Y


def abc_xyz_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC/XYZ CLASSIFICATION GRID: every part classed by revenue
    (A/B/C — percentile-of-part-revenue cutpoints, the
    bucket-granularity form that broadcasts two scalars instead of
    running a cumulative-share sort over the full part catalog; the
    deviation from textbook cumulative-ABC is deliberate and
    documented here) crossed with demand variability (X/Y/Z —
    coefficient of variation of MONTHLY shipped quantity), summarized
    to the bounded class grid with part counts and revenue shares —
    the standard inventory-policy segmentation. Part revenues are
    EXACT decimal sums (round-13; the old 4-dp pre-round of a raw
    double sum still let summation order move a revenue across a
    class boundary at scale — the exact scale-4 decimal removes the
    tie entirely). Monthly quantity sums are integer-valued, so the
    CV side is exact without rounding.

    Scale shape: two combinable per-part aggregates (revenue; monthly
    demand then its moments), TWO broadcast percentile scalars, one
    bounded-grid rollup. No ranking window at part cardinality."""
    li = load(spark, sf_dir, "lineitem")
    # round-13: per-part revenue — parts are FIXED dims, so per-group
    # row count grows with the corpus (the q1/q6 cent-flip class, and
    # the class boundary must not move with summation order). DECIMAL
    # discipline: the scale-4 decimal sum is EXACT (no rounding or tie
    # nudge needed at all) and its double cast is exactly representable
    # orders past the 1000x rung, so cutpoints compare identical
    # doubles in both engines.
    rev = (
        li.groupBy("l_partkey")
        .agg(
            F.sum(
                F.col("l_extendedprice").cast("decimal(14,2)")
                * (
                    F.lit(1).cast("decimal(3,2)")
                    - F.col("l_discount").cast("decimal(4,2)")
                )
            ).alias("rev_dec")
        )
        .select("l_partkey", F.col("rev_dec").cast("double").alias("rev"))
    )
    # distributed-exact percentile cutpoints (grouped_exact_percentiles):
    # part revenues are ~all-distinct, so Spark's value-buffering exact
    # ``percentile`` would grow its aggregation state with the part
    # catalog — the class of state that killed the 30x-probe JVM on
    # lineitem prices (PERF.md round-10/11)
    from flink_cookbook_spark.functions.collections import (
        grouped_exact_percentiles,
    )

    cuts = grouped_exact_percentiles(
        rev, [], "rev", {"cut_a": ABC_P_A, "cut_b": ABC_P_B}
    )
    monthly = (
        li.select(
            "l_partkey",
            (
                F.floor(
                    F.floor(F.col("l_shipdate").cast("double") / 86400)
                    / 30
                )
            )
            .cast("long")
            .alias("month_idx"),
            "l_quantity",
        )
        .groupBy("l_partkey", "month_idx")
        .agg(F.sum("l_quantity").alias("q"))
    )
    dem = monthly.groupBy("l_partkey").agg(
        F.count("*").alias("n_months"),
        F.sum("q").alias("sq"),
        F.sum(F.col("q") * F.col("q")).alias("sqq"),
    )
    n = F.col("n_months").cast("double")
    mean_q = F.col("sq") / n
    var_q = F.when(
        F.col("n_months") > 1,
        (F.col("sqq") - n * mean_q * mean_q) / (n - 1),
    ).otherwise(F.lit(0.0))
    cv = F.sqrt(F.greatest(var_q, F.lit(0.0))) / mean_q
    classed = (
        rev.join(dem, "l_partkey")
        .crossJoin(F.broadcast(cuts))
        .select(
            "l_partkey",
            "rev",
            F.when(F.col("rev") >= F.col("cut_a"), F.lit("A"))
            .when(F.col("rev") >= F.col("cut_b"), F.lit("B"))
            .otherwise(F.lit("C"))
            .alias("class_abc"),
            F.when(cv < XYZ_CV_X, F.lit("X"))
            .when(cv < XYZ_CV_Y, F.lit("Y"))
            .otherwise(F.lit("Z"))
            .alias("class_xyz"),
            cv.alias("cv_u"),
        )
    )
    tot = classed.agg(F.sum("rev").alias("rev_total"))
    return (
        classed.groupBy("class_abc", "class_xyz")
        .agg(
            F.count("*").alias("n_parts"),
            F.sum("rev").alias("rev_sum"),
            F.avg("cv_u").alias("cv_avg"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "class_abc",
            "class_xyz",
            "n_parts",
            rnd(F.col("rev_sum") / F.col("rev_total"), 6).alias(
                "revenue_share"
            ),
            rnd("cv_avg", 6).alias("avg_demand_cv"),
        )
    )


_ABC_ORACLE = f"""
WITH rev AS (
  SELECT l_partkey,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(14,2))
                  * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)
           AS rev
  FROM lineitem GROUP BY 1
),
cuts AS (
  SELECT quantile_cont(rev, {ABC_P_A}) AS cut_a,
         quantile_cont(rev, {ABC_P_B}) AS cut_b
  FROM rev
),
monthly AS (
  SELECT l_partkey,
         (CAST(floor(epoch(l_shipdate)) AS BIGINT) // 86400) // 30
           AS month_idx,
         sum(l_quantity) AS q
  FROM lineitem GROUP BY 1, 2
),
dem AS (
  SELECT l_partkey, count(*) AS n_months,
         sum(q) AS sq, sum(q * q) AS sqq
  FROM monthly GROUP BY 1
),
classed AS (
  SELECT r.l_partkey, r.rev,
         CASE WHEN r.rev >= c.cut_a THEN 'A'
              WHEN r.rev >= c.cut_b THEN 'B' ELSE 'C' END AS class_abc,
         CASE WHEN cv < {XYZ_CV_X} THEN 'X'
              WHEN cv < {XYZ_CV_Y} THEN 'Y' ELSE 'Z' END AS class_xyz,
         cv AS cv_u
  FROM (
    SELECT d.l_partkey, d.n_months, d.sq, d.sqq,
           sqrt(greatest(CASE WHEN d.n_months > 1
             THEN (d.sqq - d.n_months * (d.sq / d.n_months)
                   * (d.sq / d.n_months)) / (d.n_months - 1)
             ELSE 0.0 END, 0.0)) / (d.sq / d.n_months) AS cv
    FROM dem d) x
  JOIN rev r ON x.l_partkey = r.l_partkey
  CROSS JOIN cuts c
),
tot AS (SELECT sum(rev) AS rev_total FROM classed)
SELECT class_abc, class_xyz, count(*) AS n_parts,
       round(sum(rev) / t.rev_total + {NUDGE}, 6) AS revenue_share,
       round(avg(cv_u) + {NUDGE}, 6) AS avg_demand_cv
FROM classed CROSS JOIN tot t
GROUP BY class_abc, class_xyz, t.rev_total
"""


# --------------------------------------------------------------------------
# 36. order-to-ship lead-time profile
# --------------------------------------------------------------------------

LATE_DAYS = 90  #: lead-time SLA bound (days)


def ship_lead_time_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDER-TO-SHIP LEAD TIME per order priority: exact p50/p90/p99,
    mean, and the share of line items beyond the LATE_DAYS SLA — the
    fulfillment-latency profile that `order_backlog_profile` (queue
    depth) and `q4_order_priority` (late-commit counts in the
    reference adaptation) don't give: the full latency DISTRIBUTION
    conditioned on promised priority. Lead time is computed on
    INTEGER epoch-day indexes, so every percentile interpolates
    between exact integers identically in both engines.

    Scale shape: one orderkey equi-join (fact-to-fact, AQE-planned),
    then ONE combinable aggregate per priority (exact percentiles over
    the priority-bounded groups)."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.floor(F.col("l_shipdate").cast("double") / 86400)
        .cast("long")
        .alias("ship_day"),
    )
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.floor(F.col("o_orderdate").cast("double") / 86400)
        .cast("long")
        .alias("order_day"),
    )
    j = li.join(
        orders, li.l_orderkey == orders.o_orderkey
    ).select(
        "o_orderpriority",
        (F.col("ship_day") - F.col("order_day")).alias("lead_days"),
    )
    return j.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_lines"),
        rnd(F.avg("lead_days"), 4).alias("mean_lead_days"),
        rnd(F.expr("percentile(lead_days, 0.5)"), 4).alias("p50"),
        rnd(F.expr("percentile(lead_days, 0.9)"), 4).alias("p90"),
        rnd(F.expr("percentile(lead_days, 0.99)"), 4).alias("p99"),
        rnd(
            F.sum((F.col("lead_days") > LATE_DAYS).cast("double"))
            / F.count("*"),
            6,
        ).alias("late_share"),
    )


_LEAD_ORACLE = f"""
WITH j AS (
  SELECT o.o_orderpriority,
         (CAST(floor(epoch(l.l_shipdate)) AS BIGINT) // 86400)
         - (CAST(floor(epoch(o.o_orderdate)) AS BIGINT) // 86400)
           AS lead_days
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
)
SELECT o_orderpriority, count(*) AS n_lines,
       round(avg(lead_days) + {NUDGE}, 4) AS mean_lead_days,
       round(quantile_cont(lead_days, 0.5) + {NUDGE}, 4) AS p50,
       round(quantile_cont(lead_days, 0.9) + {NUDGE}, 4) AS p90,
       round(quantile_cont(lead_days, 0.99) + {NUDGE}, 4) AS p99,
       round(sum(CASE WHEN lead_days > {LATE_DAYS} THEN 1.0
                 ELSE 0.0 END) / count(*) + {NUDGE}, 6) AS late_share
FROM j GROUP BY 1
"""


# --------------------------------------------------------------------------
# 37. supplier concentration per part (sourcing risk)
# --------------------------------------------------------------------------


def supplier_concentration_by_part(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SOURCING-RISK PROFILE: per part, the supplier count and the HHI
    of quantity share across its suppliers, summarized by supplier-
    count bucket with the single-source share riding along — the
    supply-chain mirror of `source_concentration_hhi` (which scores
    the document corpus): how much of the catalog depends on one
    supplier? Quantity sums are integer-valued doubles, so the HHI is
    exact without rounding tricks.

    Scale shape: one (part, supplier) combinable aggregate, one
    per-part rollup, one bounded bucket rollup — three shuffles total,
    all on shrinking keys."""
    li = load(spark, sf_dir, "lineitem")
    ps = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum("l_quantity").alias("q")
    )
    per_part = ps.groupBy("l_partkey").agg(
        F.count("*").alias("n_suppliers"),
        F.sum("q").alias("qt"),
        F.sum(F.col("q") * F.col("q")).alias("qsq"),
    )
    hhi = per_part.select(
        "l_partkey",
        "n_suppliers",
        (F.col("qsq") / (F.col("qt") * F.col("qt"))).alias("hhi_u"),
    )
    tot = hhi.agg(
        F.count("*").alias("n_parts_total"),
        F.sum((F.col("n_suppliers") == 1).cast("long")).alias("n_single"),
    )
    return (
        hhi.groupBy("n_suppliers")
        .agg(F.count("*").alias("n_parts"), F.avg("hhi_u").alias("hhi_avg"))
        .crossJoin(F.broadcast(tot))
        .select(
            "n_suppliers",
            "n_parts",
            rnd("hhi_avg", 6).alias("avg_hhi"),
            rnd(
                F.col("n_single").cast("double") / F.col("n_parts_total"),
                6,
            ).alias("single_source_share"),
        )
    )


_SUPCON_ORACLE = f"""
WITH ps AS (
  SELECT l_partkey, l_suppkey, sum(l_quantity) AS q
  FROM lineitem GROUP BY 1, 2
),
per_part AS (
  SELECT l_partkey, count(*) AS n_suppliers,
         sum(q) AS qt, sum(q * q) AS qsq
  FROM ps GROUP BY 1
),
hhi AS (
  SELECT l_partkey, n_suppliers, qsq / (qt * qt) AS hhi_u
  FROM per_part
),
tot AS (
  SELECT count(*) AS n_parts_total,
         CAST(sum(CASE WHEN n_suppliers = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_single
  FROM hhi
)
SELECT h.n_suppliers, count(*) AS n_parts,
       round(avg(h.hhi_u) + {NUDGE}, 6) AS avg_hhi,
       round(CAST(t.n_single AS DOUBLE) / t.n_parts_total + {NUDGE}, 6)
         AS single_source_share
FROM hhi h CROSS JOIN tot t
GROUP BY h.n_suppliers, t.n_single, t.n_parts_total
"""


# --------------------------------------------------------------------------
# 38. unit-price dispersion audit
# --------------------------------------------------------------------------

UPD_CV_FLAG = 0.25  #: dispersion flag threshold on the ROUNDED CV


def unit_price_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNIT-PRICE DISPERSION per part: coefficient of variation of the
    realized unit price (extendedprice/quantity) across a part's line
    items — the pricing-integrity audit behind "is this part sold at
    wildly inconsistent prices" (a data-quality smell or a
    discounting-policy breach; `expectation_checks` validates schema
    ranges, this validates pricing CONSISTENCY). The flag reads the
    ROUNDED CV, per the cohort discipline.

    Scale shape: one map-only unit-price projection + ONE combinable
    per-part moment aggregate — a single shuffle on the part key."""
    li = load(spark, sf_dir, "lineitem")
    up = li.select(
        "l_partkey",
        (F.col("l_extendedprice") / F.col("l_quantity")).alias("u"),
    )
    g = up.groupBy("l_partkey").agg(
        F.count("*").alias("n_lines"),
        F.sum("u").alias("su"),
        F.sum(F.col("u") * F.col("u")).alias("suu"),
    )
    n = F.col("n_lines").cast("double")
    mean_u = F.col("su") / n
    var_u = F.when(
        F.col("n_lines") > 1,
        F.greatest(
            (F.col("suu") - n * mean_u * mean_u) / (n - 1), F.lit(0.0)
        ),
    ).otherwise(F.lit(0.0))
    cv_r = rnd(F.sqrt(var_u) / mean_u, 6)
    return g.select(
        "l_partkey",
        "n_lines",
        rnd(mean_u, 4).alias("mean_unit_price"),
        cv_r.alias("price_cv"),
        (cv_r > UPD_CV_FLAG).alias("dispersed"),
    )


_UPD_ORACLE = f"""
WITH up AS (
  SELECT l_partkey, l_extendedprice / l_quantity AS u FROM lineitem
),
g AS (
  SELECT l_partkey, count(*) AS n_lines,
         sum(u) AS su, sum(u * u) AS suu
  FROM up GROUP BY 1
),
eff AS (
  SELECT l_partkey, n_lines,
         round(su / n_lines + {NUDGE}, 4) AS mean_unit_price,
         round(sqrt(CASE WHEN n_lines > 1
                    THEN greatest((suu - n_lines * (su / n_lines)
                                   * (su / n_lines)) / (n_lines - 1), 0.0)
                    ELSE 0.0 END) / (su / n_lines) + {NUDGE}, 6)
           AS price_cv
  FROM g
)
SELECT *, price_cv > {UPD_CV_FLAG} AS dispersed FROM eff
"""


register("abc_xyz_classification", oracle=_ABC_ORACLE,
         tags=("prepared-r10",))(abc_xyz_classification)
register("ship_lead_time_profile", oracle=_LEAD_ORACLE,
         tags=("prepared-r10",))(ship_lead_time_profile)
register("supplier_concentration_by_part", oracle=_SUPCON_ORACLE,
         tags=("prepared-r10",))(supplier_concentration_by_part)
register("unit_price_dispersion", oracle=_UPD_ORACLE,
         tags=("prepared-r10",))(unit_price_dispersion)
