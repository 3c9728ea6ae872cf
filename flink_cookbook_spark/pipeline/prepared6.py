"""Sixth round-7 batch of round-8-prepared operators: model-evaluation
and econometrics shapes.

Same contract as ``prepared.py``. This batch is
the "evaluate the model on held-out data" surface: a Markov-chain
perplexity with a real train/eval time split (the LM-eval shape in
miniature), a one-step forecast backtest that scores three baseline
forecasters per key, the Mann-Whitney U rank test (the nonparametric
sibling of ``ab_conversion_lift``'s z-test), a percent-of-parent
revenue hierarchy, and a log-log discount elasticity fit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flink_cookbook_spark.catalog import load
from flink_cookbook_spark.registry import register, rnd

#: epoch-second train/eval boundary (2024-01-16 00:00 UTC), shared with
#: the KS drift test: train on the first half of the month, evaluate on
#: the second.
SPLIT_EPOCH_S = 1705363200


# --------------------------------------------------------------------------
# 1. Markov transition perplexity on a held-out time split
# --------------------------------------------------------------------------

def transition_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HELD-OUT PERPLEXITY of the first-order event-transition model:
    train Laplace-smoothed transition probabilities on first-half
    bigrams (per user, event-time order), score second-half bigrams,
    and report per previous-state the average log-loss and perplexity
    — the LM-evaluation loop in miniature, and the honest version of
    ``event_transition_matrix`` (which describes the whole corpus;
    this one must PREDICT unseen data, unseen transitions priced by
    the smoothing). High perplexity for a state means its future is
    genuinely uncertain — sessionization and prefetch logic read this.

    Scale shape: bigrams are one per-user window pass; train counts
    are two bounded hash aggs (state-vocabulary-sized); scoring is two
    unhinted joins against those bounded aggregates + one final agg."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    bigrams = ev.select(
        F.lag("event_type").over(w).alias("prev"),
        F.col("event_type").alias("cur"),
        (F.col("ts").cast("double") >= SPLIT_EPOCH_S).alias("is_eval"),
    ).where(F.col("prev").isNotNull())
    train = bigrams.where(~F.col("is_eval"))
    c2 = train.groupBy("prev", "cur").agg(F.count("*").alias("c2"))
    c1 = train.groupBy("prev").agg(F.count("*").alias("c1"))
    vocab = train.agg(
        F.size(F.collect_set("cur")).cast("long").alias("v")
    )
    ev_big = (
        bigrams.where(F.col("is_eval"))
        .join(c2, ["prev", "cur"], "left")
        .join(c1, "prev", "left")
        .crossJoin(F.broadcast(vocab))
        .select(
            "prev",
            F.log(
                (F.coalesce(F.col("c2"), F.lit(0)) + 1.0)
                / (F.coalesce(F.col("c1"), F.lit(0)) + F.col("v"))
            ).alias("logp"),
        )
    )
    return ev_big.groupBy("prev").agg(
        F.count("*").alias("n_eval"),
        rnd(F.avg("logp"), 6).alias("avg_logp"),
        rnd(F.exp(-F.avg("logp")), 4).alias("perplexity"),
    )


_PERPLEXITY_ORACLE = f"""
WITH bigrams AS (
  SELECT lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev,
         event_type AS cur,
         epoch(ts) >= {SPLIT_EPOCH_S} AS is_eval
  FROM events
),
big AS (SELECT * FROM bigrams WHERE prev IS NOT NULL),
c2 AS (
  SELECT prev, cur, count(*) AS c2 FROM big WHERE NOT is_eval GROUP BY 1, 2
),
c1 AS (
  SELECT prev, count(*) AS c1 FROM big WHERE NOT is_eval GROUP BY 1
),
vocab AS (
  SELECT count(DISTINCT cur) AS v FROM big WHERE NOT is_eval
),
scored AS (
  SELECT b.prev,
         ln((COALESCE(c2.c2, 0) + 1.0)
            / (COALESCE(c1.c1, 0) + vocab.v)) AS logp
  FROM big b
  LEFT JOIN c2 ON b.prev = c2.prev AND b.cur = c2.cur
  LEFT JOIN c1 ON b.prev = c1.prev
  CROSS JOIN vocab
  WHERE b.is_eval
)
SELECT prev, count(*) AS n_eval,
       round(avg(logp) + 1e-6, 6) AS avg_logp,
       round(exp(-avg(logp)) + 1e-6, 4) AS perplexity
FROM scored GROUP BY prev
"""


# --------------------------------------------------------------------------
# 2. one-step forecast backtest (naive / seasonal-naive / drift)
# --------------------------------------------------------------------------

#: seasonal lag (observations) for the seasonal-naive forecaster.
BACKTEST_SEASON = 24


def forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE-STEP FORECAST BACKTEST per event type: score the three
    standard baseline forecasters — naive (last value), seasonal-naive
    (value one period ago), local drift (last value + last delta) — on
    the hourly mean series with MAE and sMAPE, plus a winner flag per
    key. This is the honesty check every fancier forecaster
    (``holt_linear_forecast``, ``holt_winters_seasonal``, the SARIMA
    family) must beat before shipping; rows are only scored where ALL
    three predictions exist, so the three methods compare on the same
    evaluation set.

    Scale shape: one combinable hash agg to (key, hour), one per-key
    ordered window pass for the lags, a 3-way in-plan method unpivot,
    and one bounded final agg + windowed winner pick."""
    ev = load(spark, sf_dir, "events")
    sec = F.col("ts").cast("double")
    hourly = (
        ev.select(
            "event_type", (F.floor(sec / 3600) * 3600).alias("h"), "value"
        )
        .groupBy("event_type", "h")
        .agg(F.avg("value").alias("v"))
    )
    w = Window.partitionBy("event_type").orderBy("h")
    lagged = hourly.select(
        "event_type",
        "v",
        F.lag("v", 1).over(w).alias("l1"),
        F.lag("v", 2).over(w).alias("l2"),
        F.lag("v", BACKTEST_SEASON).over(w).alias("ls"),
    ).where(
        F.col("l1").isNotNull()
        & F.col("l2").isNotNull()
        & F.col("ls").isNotNull()
    )
    preds = lagged.select(
        "event_type",
        "v",
        F.expr(
            "stack(3, 'naive', l1, 'seasonal_naive', ls, "
            "'drift', l1 + (l1 - l2)) as (method, pred)"
        ),
    )
    err = preds.select(
        "event_type",
        "method",
        F.abs(F.col("v") - F.col("pred")).alias("ae"),
        (
            2.0
            * F.abs(F.col("v") - F.col("pred"))
            / (F.abs(F.col("v")) + F.abs(F.col("pred")))
        ).alias("sape"),
    )
    agg = err.groupBy("event_type", "method").agg(
        F.count("*").alias("n_evals"),
        F.avg("ae").alias("mae_raw"),
        F.avg("sape").alias("smape_raw"),
    )
    wbest = Window.partitionBy("event_type")
    return agg.select(
        "event_type",
        "method",
        "n_evals",
        rnd("mae_raw", 4).alias("mae"),
        rnd("smape_raw", 6).alias("smape"),
        (F.col("mae_raw") == F.min("mae_raw").over(wbest)).alias("is_best"),
    )


_BACKTEST_ORACLE = f"""
WITH hourly AS (
  SELECT event_type,
         CAST(floor(epoch(ts) / 3600) AS BIGINT) * 3600 AS h,
         avg(value) AS v
  FROM events GROUP BY 1, 2
),
lagged AS (
  SELECT event_type, v,
         lag(v, 1) OVER w AS l1,
         lag(v, 2) OVER w AS l2,
         lag(v, {BACKTEST_SEASON}) OVER w AS ls
  FROM hourly
  WINDOW w AS (PARTITION BY event_type ORDER BY h)
),
preds AS (
  SELECT event_type, v, t.method,
         CASE t.method WHEN 'naive' THEN l1
                       WHEN 'seasonal_naive' THEN ls
                       ELSE l1 + (l1 - l2) END AS pred
  FROM lagged
  CROSS JOIN (VALUES ('naive'), ('seasonal_naive'), ('drift')) t(method)
  WHERE l1 IS NOT NULL AND l2 IS NOT NULL AND ls IS NOT NULL
),
agg AS (
  SELECT event_type, method, count(*) AS n_evals,
         avg(abs(v - pred)) AS mae_raw,
         avg(2.0 * abs(v - pred) / (abs(v) + abs(pred))) AS smape_raw
  FROM preds GROUP BY 1, 2
)
SELECT event_type, method, n_evals,
       round(mae_raw + 1e-6, 4) AS mae,
       round(smape_raw + 1e-6, 6) AS smape,
       mae_raw = min(mae_raw) OVER (PARTITION BY event_type) AS is_best
FROM agg
"""


# --------------------------------------------------------------------------
# 3. Mann-Whitney U rank test (two-sample, tie-corrected)
# --------------------------------------------------------------------------

def mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MANN-WHITNEY U TEST per event type between the first and second
    half of the month: midranks over the pooled values (ties get the
    average rank), U from the first sample's rank sum, and the normal
    approximation z WITH the tie-correction term — the nonparametric
    "did the distribution's location shift?" answer that stays valid
    when the metric is skewed and the t-test's normality assumption
    breaks. Complements ``ks_test_drift`` (KS sees any CDF change; U
    targets location).

    Scale shape: midranks are one per-key ordered window pass plus a
    per-(key, value) tie window — no self-joins; the test statistic is
    per-key arithmetic over one aggregate. The tie-correction sum is a
    per-key aggregate over tie-group sizes."""
    ev = load(spark, sf_dir, "events")
    sec = F.col("ts").cast("double")
    pooled = ev.select(
        "event_type",
        "value",
        (sec < SPLIT_EPOCH_S).cast("int").alias("in_a"),
    )
    wv = Window.partitionBy("event_type").orderBy("value")
    wt = Window.partitionBy("event_type", "value")
    ranked = pooled.select(
        "event_type",
        "value",
        "in_a",
        # midrank = min rank of the tie group + (group size - 1)/2
        (
            F.rank().over(wv).cast("double")
            + (F.count("*").over(wt).cast("double") - 1.0) / 2.0
        ).alias("midrank"),
    )
    agg = ranked.groupBy("event_type").agg(
        F.sum("in_a").cast("long").alias("n_a"),
        F.sum(1 - F.col("in_a")).cast("long").alias("n_b"),
        F.sum(F.col("in_a") * F.col("midrank")).alias("r_a"),
    )
    ties = (
        pooled.groupBy("event_type", "value")
        .agg(F.count("*").cast("double").alias("t"))
        .groupBy("event_type")
        .agg(
            F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t")).alias(
                "tie_sum"
            )
        )
    )
    j = agg.join(ties, "event_type")
    n1 = F.col("n_a").cast("double")
    n2 = F.col("n_b").cast("double")
    n = n1 + n2
    u = F.col("r_a") - n1 * (n1 + 1.0) / 2.0
    mu = n1 * n2 / 2.0
    var = (n1 * n2 / 12.0) * (
        (n + 1.0) - F.col("tie_sum") / (n * (n - 1.0))
    )
    z = F.when(var > 0, (u - mu) / F.sqrt(var))
    return j.select(
        "event_type",
        "n_a",
        "n_b",
        rnd(u, 2).alias("u_stat"),
        rnd(mu, 2).alias("u_expected"),
        rnd(z, 4).alias("z_score"),
        (F.abs(z) > 1.96).alias("shifted_95"),
    )


_MWU_ORACLE = f"""
WITH pooled AS (
  SELECT event_type, value,
         CASE WHEN epoch(ts) < {SPLIT_EPOCH_S} THEN 1 ELSE 0 END AS in_a
  FROM events
),
ranked AS (
  SELECT event_type, value, in_a,
         CAST(rank() OVER (PARTITION BY event_type ORDER BY value) AS DOUBLE)
           + (CAST(count(*) OVER (PARTITION BY event_type, value) AS DOUBLE)
              - 1.0) / 2.0 AS midrank
  FROM pooled
),
agg AS (
  SELECT event_type,
         CAST(sum(in_a) AS BIGINT) AS n_a,
         CAST(sum(1 - in_a) AS BIGINT) AS n_b,
         sum(in_a * midrank) AS r_a
  FROM ranked GROUP BY event_type
),
ties AS (
  SELECT event_type,
         sum(t * t * t - t) AS tie_sum
  FROM (
    SELECT event_type, value, CAST(count(*) AS DOUBLE) AS t
    FROM pooled GROUP BY 1, 2
  ) GROUP BY event_type
),
j AS (
  SELECT a.event_type, a.n_a, a.n_b, a.r_a, t.tie_sum,
         CAST(a.n_a AS DOUBLE) AS n1, CAST(a.n_b AS DOUBLE) AS n2
  FROM agg a JOIN ties t ON a.event_type = t.event_type
)
SELECT event_type, n_a, n_b,
       round(r_a - n1 * (n1 + 1.0) / 2.0 + 1e-6, 2) AS u_stat,
       round(n1 * n2 / 2.0 + 1e-6, 2) AS u_expected,
       round(CASE WHEN (n1 * n2 / 12.0)
                       * ((n1 + n2 + 1.0)
                          - tie_sum / ((n1 + n2) * (n1 + n2 - 1.0))) > 0
                  THEN (r_a - n1 * (n1 + 1.0) / 2.0 - n1 * n2 / 2.0)
                       / sqrt((n1 * n2 / 12.0)
                              * ((n1 + n2 + 1.0)
                                 - tie_sum / ((n1 + n2) * (n1 + n2 - 1.0))))
             END + 1e-6, 4) AS z_score,
       abs(CASE WHEN (n1 * n2 / 12.0)
                     * ((n1 + n2 + 1.0)
                        - tie_sum / ((n1 + n2) * (n1 + n2 - 1.0))) > 0
                THEN (r_a - n1 * (n1 + 1.0) / 2.0 - n1 * n2 / 2.0)
                     / sqrt((n1 * n2 / 12.0)
                            * ((n1 + n2 + 1.0)
                               - tie_sum / ((n1 + n2) * (n1 + n2 - 1.0))))
           END) > 1.96 AS shifted_95
FROM j
"""


# --------------------------------------------------------------------------
# 4. percent-of-parent revenue hierarchy
# --------------------------------------------------------------------------

def revenue_share_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERCENT-OF-PARENT REVENUE HIERARCHY: per nation, its revenue
    (sum of discounted extended price through orders -> customer),
    its share of the owning region, and the region's share of global —
    the drill-down contribution table every revenue dashboard opens
    with, expressed as windows over the bounded nation-grain aggregate
    rather than three separate rollup scans.

    Scale shape: one join pipeline down to nation grain (dimension
    joins broadcast under AQE), ONE hash aggregate, and two window
    passes over the <=25-row result."""
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region")
    rev = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(nation, cust.c_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .groupBy(
            F.col("r_name").alias("region"), F.col("n_name").alias("nation")
        )
        .agg(
            # round-13: per-nation revenue sums the WHOLE lineitem
            # corpus into <=25 groups — extensive; the raw-double form
            # flipped cents at ~1.17e12 in the 1000x sweep (16/25
            # rows). DECIMAL discipline: exact decimal sum, cast to
            # double only at the end; the window sums below stay
            # decimal (exact) so both share ratios divide identical
            # doubles in both engines at any scale.
            F.sum(
                F.col("l_extendedprice").cast("decimal(14,2)")
                * (
                    F.lit(1).cast("decimal(3,2)")
                    - F.col("l_discount").cast("decimal(4,2)")
                )
            ).alias("rev_dec")
        )
    )
    wr = Window.partitionBy("region")
    wg = Window.partitionBy()
    rev_d = F.col("rev_dec").cast("double")
    region_d = F.sum("rev_dec").over(wr).cast("double")
    global_d = F.sum("rev_dec").over(wg).cast("double")
    return rev.select(
        "region",
        "nation",
        rnd(rev_d, 2).alias("revenue"),
        rnd(rev_d / region_d, 6).alias("share_of_region"),
        rnd(region_d / global_d, 6).alias("region_share_of_global"),
    )


_HIERARCHY_ORACLE = """
WITH rev AS (
  SELECT r.r_name AS region, n.n_name AS nation,
         sum(CAST(l.l_extendedprice AS DECIMAL(14,2))
             * (1 - CAST(l.l_discount AS DECIMAL(4,2)))) AS rev_dec
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
  GROUP BY 1, 2
)
SELECT region, nation,
       round(CAST(rev_dec AS DOUBLE) + 1e-6, 2) AS revenue,
       round(CAST(rev_dec AS DOUBLE)
             / CAST(sum(rev_dec) OVER (PARTITION BY region) AS DOUBLE)
             + 1e-6, 6) AS share_of_region,
       round(CAST(sum(rev_dec) OVER (PARTITION BY region) AS DOUBLE)
             / CAST(sum(rev_dec) OVER () AS DOUBLE) + 1e-6, 6)
         AS region_share_of_global
FROM rev
"""


# --------------------------------------------------------------------------
# 5. discount elasticity (log-log OLS per brand)
# --------------------------------------------------------------------------

def discount_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISCOUNT ELASTICITY per part brand: OLS slope of ln(mean
    quantity at a discount level) on ln(discount) over the observed
    nonzero discount levels — the log-log regression whose slope reads
    directly as "a 1% deeper discount moves quantity by slope%". The
    econometrics twin of ``per_key_linear_trend`` (time there, price
    here), with the fit quality (r2) reported so flat or noisy brands
    are not over-read.

    Scale shape: one combinable hash agg to (brand, discount-level)
    means — the regression then runs over <=11 points per brand in a
    second bounded agg; nothing scales with the lineitem count after
    the first reduce."""
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    cells = (
        li.join(part, li.l_partkey == part.p_partkey)
        .where(F.col("l_discount") > 0)
        .groupBy(
            F.col("p_brand").alias("brand"),
            # stabilize the float level key on both engines
            F.round(F.col("l_discount"), 2).alias("disc"),
        )
        .agg(F.avg("l_quantity").alias("q"))
    )
    x = F.log(F.col("disc"))
    y = F.log(F.col("q"))
    fit = cells.groupBy("brand").agg(
        F.count("*").cast("double").alias("m"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * y).alias("sxy"),
        F.sum(x * x).alias("sxx"),
        F.sum(y * y).alias("syy"),
    )
    vx = F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = F.col("m") * F.col("syy") - F.col("sy") * F.col("sy")
    cov = F.col("m") * F.col("sxy") - F.col("sx") * F.col("sy")
    slope = F.when(vx > 0, cov / vx)
    r2 = F.when((vx > 0) & (vy > 0), cov * cov / (vx * vy))
    return fit.select(
        "brand",
        F.col("m").cast("long").alias("n_levels"),
        rnd(slope, 6).alias("elasticity"),
        rnd(r2, 6).alias("r2"),
    )


_ELASTICITY_ORACLE = """
WITH cells AS (
  SELECT p.p_brand AS brand, round(l.l_discount, 2) AS disc,
         avg(l.l_quantity) AS q
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  WHERE l.l_discount > 0
  GROUP BY 1, 2
),
fit AS (
  SELECT brand,
         CAST(count(*) AS DOUBLE) AS m,
         sum(ln(disc)) AS sx, sum(ln(q)) AS sy,
         sum(ln(disc) * ln(q)) AS sxy,
         sum(ln(disc) * ln(disc)) AS sxx,
         sum(ln(q) * ln(q)) AS syy
  FROM cells GROUP BY brand
)
SELECT brand,
       CAST(m AS BIGINT) AS n_levels,
       round(CASE WHEN m * sxx - sx * sx > 0
                  THEN (m * sxy - sx * sy) / (m * sxx - sx * sx) END
             + 1e-6, 6) AS elasticity,
       round(CASE WHEN m * sxx - sx * sx > 0 AND m * syy - sy * sy > 0
                  THEN (m * sxy - sx * sy) * (m * sxy - sx * sy)
                       / ((m * sxx - sx * sx) * (m * syy - sy * sy)) END
             + 1e-6, 6) AS r2
FROM fit
"""


register("transition_perplexity", oracle=_PERPLEXITY_ORACLE,
         tags=("prepared-r8",))(transition_perplexity)
register("forecast_backtest", oracle=_BACKTEST_ORACLE,
         tags=("prepared-r8",))(forecast_backtest)
register("mann_whitney_u", oracle=_MWU_ORACLE, tags=("prepared-r8",))(mann_whitney_u)
register("revenue_share_hierarchy", oracle=_HIERARCHY_ORACLE,
         tags=("prepared-r8",))(revenue_share_hierarchy)
register("discount_elasticity", oracle=_ELASTICITY_ORACLE,
         tags=("prepared-r8",))(discount_elasticity)
