"""Eleventh round-7 batch of round-8-prepared operators: graph mixing,
interval concurrency, SLO accounting, and count-model fitting.

Same contract as ``prepared.py``. Assortativity
says WHO connects to whom (hubs-to-hubs or hubs-to-leaves — the number
that predicts cascade behavior on the co-purchase graph); the
concurrency profile is the classic sweep-line over session intervals,
partitioned per day with carried-in baselines so the inherently
sequential sweep still scales by key; the burn-rate table is how SRE
practice tracks an SLO's error budget; the negative-binomial fit is
the right count model when Poisson's mean=variance assumption breaks
(which ``burstiness_fano`` detects — this operator quantifies it)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flink_cookbook_spark.catalog import load
from flink_cookbook_spark.registry import register, rnd


# --------------------------------------------------------------------------
# 1. degree assortativity of the co-purchase graph
# --------------------------------------------------------------------------

def graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DEGREE ASSORTATIVITY of the co-purchase graph: the Pearson
    correlation of endpoint degrees over all (directed-both-ways)
    edges — positive means hubs prefer hubs (robust core, fragile to
    targeted removal), negative means hub-and-spoke (the typical
    retail shape). Completes the topology trio: ``supplier_pagerank``
    ranks nodes, ``copurchase_degree_distribution`` shapes the degree
    law, assortativity describes the MIXING.

    Scale shape: basket-bounded pair generation (never part x part),
    one degree aggregate, two degree-lookup joins keyed on the node,
    and a 1-row moment aggregate for the correlation.

    The edge list comes from the memoized basket-pair-count table
    (round-9 tier-2 bench finding, round-13 array-expansion rewrite):
    ``dirs`` feeds three consumers (the degree aggregate and both sides
    of the degree lookup), and left lazy, Catalyst re-ran the basket
    pair generation for each — the shared memo materializes the pair
    set once per session, with no basket self-join at all."""
    from flink_cookbook_spark.operators.relational import basket_pair_counts

    edges = basket_pair_counts(spark, sf_dir).select("p1", "p2")
    dirs = edges.unionAll(
        edges.select(F.col("p2").alias("p1"), F.col("p1").alias("p2"))
    )
    degrees = dirs.groupBy(F.col("p1").alias("p")).agg(
        F.count("*").alias("deg")
    )
    scored = (
        dirs.join(degrees.select(F.col("p").alias("p1"), F.col("deg").alias("d1")), "p1")
        .join(degrees.select(F.col("p").alias("p2"), F.col("deg").alias("d2")), "p2")
    )
    agg = scored.agg(
        F.count("*").alias("n_directed_edges"),
        F.corr(F.col("d1").cast("double"), F.col("d2").cast("double")).alias(
            "r_raw"
        ),
    )
    nodes = degrees.agg(F.count("*").alias("n_nodes"))
    return agg.crossJoin(F.broadcast(nodes)).select(
        "n_nodes",
        (F.col("n_directed_edges") / 2).cast("long").alias("n_edges"),
        rnd("r_raw", 6).alias("assortativity"),
    )


_ASSORT_ORACLE = """
WITH li AS (
  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
),
edges AS (
  SELECT DISTINCT a.pk AS p1, b.pk AS p2
  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
),
dirs AS (
  SELECT p1, p2 FROM edges UNION ALL SELECT p2, p1 FROM edges
),
degrees AS (
  SELECT p1 AS p, count(*) AS deg FROM dirs GROUP BY p1
),
scored AS (
  SELECT CAST(da.deg AS DOUBLE) AS d1, CAST(db.deg AS DOUBLE) AS d2
  FROM dirs d
  JOIN degrees da ON d.p1 = da.p
  JOIN degrees db ON d.p2 = db.p
),
agg AS (
  SELECT count(*) AS n_directed_edges, corr(d1, d2) AS r_raw FROM scored
),
nodes AS (SELECT count(*) AS n_nodes FROM degrees)
SELECT n.n_nodes,
       CAST(a.n_directed_edges / 2 AS BIGINT) AS n_edges,
       round(a.r_raw + 1e-6, 6) AS assortativity
FROM agg a CROSS JOIN nodes n
"""


# --------------------------------------------------------------------------
# 2. concurrent-sessions profile (sweep line, per-day partitioned)
# --------------------------------------------------------------------------

#: session inactivity gap (seconds), matching the sessionize operator.
CONC_GAP_S = 1800


def concurrent_sessions_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PEAK CONCURRENT SESSIONS per day via the classic sweep line:
    sessionize each user's events (gap > ``CONC_GAP_S`` starts a new
    session), emit +1/-1 deltas at session starts/ends (STARTS first
    on ties, so instantaneous single-event sessions still count and
    two sessions touching at an instant read as concurrent — the
    closed-interval convention), and report each day's
    peak and the time it occurred — the capacity-planning number
    behind connection pools and state-store sizing.

    Scale shape: the sweep is inherently sequential, so it is
    PARTITIONED BY DAY with a carried-in baseline: per-day delta sums
    cumulate over the bounded day spine (one tiny window), and each
    day's in-day running sum adds its carried baseline — N parallel
    bounded sorts instead of one global single-task sort (the
    ``streaming/twins.py`` watermark discipline applied to interval
    concurrency)."""
    ev = load(spark, sf_dir, "events")
    sec = F.col("ts").cast("double")
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    marked = ev.select(
        "user_id",
        sec.alias("t"),
        (
            F.lag(sec).over(wu).isNull()
            | ((sec - F.lag(sec).over(wu)) > CONC_GAP_S)
        ).cast("int").alias("new_s"),
    )
    sess = marked.select(
        "user_id", "t", F.sum("new_s").over(
            Window.partitionBy("user_id").orderBy("t").rowsBetween(
                Window.unboundedPreceding, 0
            )
        ).alias("sid"),
    ).groupBy("user_id", "sid").agg(
        F.min("t").alias("s_start"), F.max("t").alias("s_end")
    )
    deltas = sess.select(
        F.col("s_start").alias("t"), F.lit(1).alias("d")
    ).unionAll(
        sess.select(F.col("s_end").alias("t"), F.lit(-1).alias("d"))
    ).withColumn("day", F.floor(F.col("t") / 86400).cast("long"))
    day_sum = deltas.groupBy("day").agg(F.sum("d").alias("dsum"))
    wdays = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, -1
    )
    base = day_sum.select(
        "day",
        F.coalesce(F.sum("dsum").over(wdays), F.lit(0)).alias("carry_in"),
    )
    win_day = Window.partitionBy("day").orderBy(
        "t", F.col("d").desc()
    ).rowsBetween(Window.unboundedPreceding, 0)
    running = deltas.join(base, "day").select(
        "day",
        "t",
        (F.col("carry_in") + F.sum("d").over(win_day)).alias("conc"),
    )
    wpick = Window.partitionBy("day").orderBy(
        F.col("conc").desc(), F.col("t").asc()
    )
    best = (
        running.withColumn("rk", F.row_number().over(wpick))
        .where(F.col("rk") == 1)
        .join(base, "day")
    )
    # a day whose first delta is an END carries its true peak in from
    # midnight: the open-session baseline is a candidate peak at hour 0
    at_run = F.col("conc") >= F.col("carry_in")
    return best.select(
        "day",
        F.greatest(F.col("conc"), F.col("carry_in")).cast("long").alias(
            "peak_concurrent"
        ),
        F.when(
            at_run, F.floor((F.col("t") % 86400) / 3600).cast("int")
        ).otherwise(F.lit(0)).alias("peak_hour_utc"),
    )


_CONC_ORACLE = f"""
WITH marked AS (
  SELECT user_id, epoch(ts) AS t,
         CASE WHEN lag(epoch(ts)) OVER w IS NULL
                   OR epoch(ts) - lag(epoch(ts)) OVER w > {CONC_GAP_S}
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id, sid, min(t) AS s_start, max(t) AS s_end
  FROM (
    SELECT user_id, t,
           sum(new_s) OVER (PARTITION BY user_id ORDER BY t
                            ROWS UNBOUNDED PRECEDING) AS sid
    FROM marked
  ) GROUP BY 1, 2
),
deltas AS (
  SELECT s_start AS t, 1 AS d, CAST(floor(s_start / 86400) AS BIGINT) AS day
  FROM sess
  UNION ALL
  SELECT s_end, -1, CAST(floor(s_end / 86400) AS BIGINT) FROM sess
),
day_sum AS (
  SELECT day, CAST(sum(d) AS BIGINT) AS dsum FROM deltas GROUP BY day
),
base AS (
  SELECT day,
         COALESCE(sum(dsum) OVER (ORDER BY day
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS carry_in
  FROM day_sum
),
running AS (
  SELECT d.day, d.t,
         b.carry_in + sum(d.d) OVER (PARTITION BY d.day ORDER BY d.t, d.d DESC
                                     ROWS UNBOUNDED PRECEDING) AS conc
  FROM deltas d JOIN base b ON d.day = b.day
)
SELECT r.day,
       CAST(greatest(r.conc, b.carry_in) AS BIGINT) AS peak_concurrent,
       CASE WHEN r.conc >= b.carry_in
            THEN CAST(floor((r.t % 86400) / 3600) AS INTEGER)
            ELSE 0 END AS peak_hour_utc
FROM (
  SELECT *, row_number() OVER (PARTITION BY day
                               ORDER BY conc DESC, t ASC) AS rk
  FROM running
) r JOIN base b ON r.day = b.day
WHERE r.rk = 1
"""


# --------------------------------------------------------------------------
# 3. SLO error-budget burn rate
# --------------------------------------------------------------------------

#: latency SLO: this share of signup->purchase conversions must land
#: within the threshold.
SLO_TARGET = 0.95
SLO_LATENCY_S = 86400.0


def slo_burn_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SLO ERROR-BUDGET BURN RATE per day: of the users who signed up
    that day and eventually purchased, the share converting within
    ``SLO_LATENCY_S``; burn = (1 - share) / (1 - ``SLO_TARGET``) — the
    SRE bookkeeping where burn 1.0 spends the budget exactly on
    schedule, > 1 means paging territory. The operator form of the
    question ``funnel_time_to_convert`` describes distributionally.

    Scale shape: two keyed aggregates (first signup, first subsequent
    purchase via conditional min over one pass), one day-grain agg;
    no joins beyond the per-user reduce."""
    ev = load(spark, sf_dir, "events")
    sec = F.col("ts").cast("double")
    per_user = ev.groupBy("user_id").agg(
        F.min(
            F.when(F.col("event_type") == "signup", sec)
        ).alias("t_signup")
    )
    purch = ev.where(F.col("event_type") == "purchase").select(
        "user_id", sec.alias("t_p")
    )
    conv = (
        purch.join(per_user, "user_id")
        .where(F.col("t_p") >= F.col("t_signup"))
        .groupBy("user_id")
        .agg(
            F.min("t_signup").alias("t_signup"),
            F.min("t_p").alias("t_conv"),
        )
    )
    day = F.floor(F.col("t_signup") / 86400).cast("long")
    lat = F.col("t_conv") - F.col("t_signup")
    daily = conv.groupBy(day.alias("signup_day")).agg(
        F.count("*").alias("n_converted"),
        F.sum((lat <= SLO_LATENCY_S).cast("long")).alias("n_within_slo"),
    )
    share = F.col("n_within_slo") / F.col("n_converted").cast("double")
    burn = (1.0 - share) / (1.0 - SLO_TARGET)
    return daily.select(
        "signup_day",
        "n_converted",
        "n_within_slo",
        rnd(share, 6).alias("within_slo_share"),
        rnd(burn, 4).alias("burn_rate"),
        (burn > 1.0).alias("budget_alarm"),
    )


_SLO_ORACLE = f"""
WITH per_user AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'signup' THEN epoch(ts) END) AS t_signup
  FROM events GROUP BY user_id
),
conv AS (
  SELECT p.user_id, min(u.t_signup) AS t_signup, min(epoch(p.ts)) AS t_conv
  FROM events p JOIN per_user u ON p.user_id = u.user_id
  WHERE p.event_type = 'purchase' AND epoch(p.ts) >= u.t_signup
  GROUP BY p.user_id
),
daily AS (
  SELECT CAST(floor(t_signup / 86400) AS BIGINT) AS signup_day,
         count(*) AS n_converted,
         CAST(sum(CASE WHEN t_conv - t_signup <= {SLO_LATENCY_S}
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_within_slo
  FROM conv GROUP BY 1
)
SELECT signup_day, n_converted, n_within_slo,
       round(n_within_slo / CAST(n_converted AS DOUBLE) + 1e-6, 6)
         AS within_slo_share,
       round((1.0 - n_within_slo / CAST(n_converted AS DOUBLE))
             / {1.0 - SLO_TARGET!r} + 1e-6, 4) AS burn_rate,
       (1.0 - n_within_slo / CAST(n_converted AS DOUBLE))
         / {1.0 - SLO_TARGET!r} > 1.0 AS budget_alarm
FROM daily
"""


# --------------------------------------------------------------------------
# 4. negative-binomial overdispersion fit
# --------------------------------------------------------------------------

def negative_binomial_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEGATIVE-BINOMIAL method-of-moments fit of per-user event counts
    per event type: when variance exceeds the mean (which
    ``burstiness_fano`` flags), the Poisson model underestimates tails
    badly; the NB parameters ``r = m^2/(v-m)``, ``p = m/v`` quantify
    exactly how heavy the count tail is, and feed capacity simulation
    and anomaly thresholds that don't cry wolf on bursty keys. NULL
    parameters (with overdispersed=false) when v <= m — the Poisson
    regime, identically on both engines via NULL propagation.

    Scale shape: two stacked combinable hash aggs (user x type counts,
    then per-type moments)."""
    ev = load(spark, sf_dir, "events")
    per_user = ev.groupBy("event_type", "user_id").agg(
        F.count("*").alias("c")
    )
    fit = per_user.groupBy("event_type").agg(
        F.count("*").alias("n_users"),
        F.avg("c").alias("m"),
        F.var_samp(F.col("c").cast("double")).alias("v"),
    )
    over = F.col("v") > F.col("m")
    r = F.when(over, F.col("m") * F.col("m") / (F.col("v") - F.col("m")))
    p = F.when(over, F.col("m") / F.col("v"))
    return fit.select(
        "event_type",
        "n_users",
        rnd("m", 4).alias("mean_count"),
        rnd("v", 4).alias("var_count"),
        rnd(r, 4).alias("nb_r"),
        rnd(p, 6).alias("nb_p"),
        over.alias("overdispersed"),
    )


_NB_ORACLE = """
WITH per_user AS (
  SELECT event_type, user_id, count(*) AS c FROM events GROUP BY 1, 2
),
fit AS (
  SELECT event_type, count(*) AS n_users, avg(c) AS m,
         var_samp(CAST(c AS DOUBLE)) AS v
  FROM per_user GROUP BY event_type
)
SELECT event_type, n_users,
       round(m + 1e-6, 4) AS mean_count,
       round(v + 1e-6, 4) AS var_count,
       round(CASE WHEN v > m THEN m * m / (v - m) END + 1e-6, 4) AS nb_r,
       round(CASE WHEN v > m THEN m / v END + 1e-6, 6) AS nb_p,
       v > m AS overdispersed
FROM fit
"""


register("graph_assortativity", oracle=_ASSORT_ORACLE,
         tags=("prepared-r8",))(graph_assortativity)
register("concurrent_sessions_profile", oracle=_CONC_ORACLE,
         tags=("prepared-r8",))(concurrent_sessions_profile)
register("slo_burn_rate", oracle=_SLO_ORACLE, tags=("prepared-r8",))(slo_burn_rate)
register("negative_binomial_fit", oracle=_NB_ORACLE,
         tags=("prepared-r8",))(negative_binomial_fit)
