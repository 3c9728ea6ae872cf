"""Seventh round-7 batch of round-8-prepared operators: variance
decomposition, sketch algebra, information rate, and cohort economics.

Same contract as ``prepared.py``. One-way ANOVA
closes the parametric-testing gap (z/U/KS/chi-square are all pairwise
or categorical; ANOVA is the k-group mean comparison); the KMV Jaccard
estimator extends the engine's sketch family from cardinalities to SET
OVERLAP (mergeable sketch algebra — the 100 TB way to ask "how much do
these audiences overlap" without a distinct-join); the Markov entropy
rate turns ``event_transition_matrix`` into a single predictability
number; the LTV curve is the cohort-economics table every growth team
reads weekly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flink_cookbook_spark.catalog import load
from flink_cookbook_spark.pipeline.dedup import _SQL_HASH, _portable_hash
from flink_cookbook_spark.registry import register, rnd


# --------------------------------------------------------------------------
# 1. one-way ANOVA (value ~ event_type)
# --------------------------------------------------------------------------

def anova_oneway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE-WAY ANOVA of the event metric across event types: F
    statistic from the between/within variance decomposition plus
    eta-squared (the share of total variance the grouping explains) —
    the k-group generalization the pairwise tests (``ab_conversion_
    lift``, ``mann_whitney_u``) cannot ask. A tiny eta-squared says the
    event type carries almost no information about the metric — a
    feature-selection fact as much as a test.

    Scale shape: everything reduces from ONE combinable pass of
    per-group (n, sum, sum-of-squares) partials; SSB/SSW come from the
    sum identities, so no second scan for deviations-from-mean.

    Round-12 scale fix (found by the 1000x tail sweep at 100M events):
    raw SS totals are EXTENSIVE — they grow with n while double
    partial-sum error grows too, so at 1000x the two engines' sums
    differed at the 14th significant digit (~4e-3 absolute on ~2.5e11)
    and no fixed-dp rounding can absorb that at any scale. The SS
    columns are therefore reported PER OBSERVATION (ssb_per_obs =
    SSB/N, ssw_per_obs = SSW/N — variance-explained and pooled-variance
    units): intensive, bounded by the value's variance, absolute
    cross-engine error ~1e-10 regardless of row count. f_stat and
    eta_squared are ratios of the same sums (relative error ~1e-14)
    and keep their contract; raw SS is recoverable as per_obs * n_obs."""
    ev = load(spark, sf_dir, "events")
    g = ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("value").alias("s"),
        F.sum(F.col("value") * F.col("value")).alias("ssq"),
    )
    one = g.agg(
        F.count("*").cast("long").alias("k"),
        F.sum("n").alias("n_obs"),
        F.sum("s").alias("ts"),
        F.sum("ssq").alias("tssq"),
        F.sum(F.col("s") * F.col("s") / F.col("n")).alias("sb_part"),
    )
    ssb = F.col("sb_part") - F.col("ts") * F.col("ts") / F.col("n_obs")
    ssw = F.col("tssq") - F.col("sb_part")
    f_stat = F.when(
        (F.col("k") > 1) & (F.col("n_obs") > F.col("k")) & (ssw > 0),
        (ssb / (F.col("k") - 1)) / (ssw / (F.col("n_obs") - F.col("k"))),
    )
    return one.select(
        F.col("k").alias("n_groups"),
        "n_obs",
        rnd(ssb / F.col("n_obs"), 6).alias("ssb_per_obs"),
        rnd(ssw / F.col("n_obs"), 6).alias("ssw_per_obs"),
        rnd(f_stat, 4).alias("f_stat"),
        rnd(ssb / (ssb + ssw), 6).alias("eta_squared"),
    )


_ANOVA_ORACLE = """
WITH g AS (
  SELECT event_type, count(*) AS n, sum(value) AS s,
         sum(value * value) AS ssq
  FROM events GROUP BY event_type
),
one AS (
  SELECT CAST(count(*) AS BIGINT) AS k,
         CAST(sum(n) AS BIGINT) AS n_obs,
         sum(s) AS ts, sum(ssq) AS tssq,
         sum(s * s / n) AS sb_part
  FROM g
)
SELECT k AS n_groups, n_obs,
       round((sb_part - ts * ts / n_obs) / n_obs + 1e-6, 6) AS ssb_per_obs,
       round((tssq - sb_part) / n_obs + 1e-6, 6) AS ssw_per_obs,
       round(CASE WHEN k > 1 AND n_obs > k AND tssq - sb_part > 0
                  THEN ((sb_part - ts * ts / n_obs) / (k - 1))
                       / ((tssq - sb_part) / (n_obs - k)) END + 1e-6, 4)
         AS f_stat,
       round((sb_part - ts * ts / n_obs)
             / ((sb_part - ts * ts / n_obs) + (tssq - sb_part)) + 1e-6, 6)
         AS eta_squared
FROM one
"""


# --------------------------------------------------------------------------
# 2. KMV Jaccard overlap of two behavioral audiences
# --------------------------------------------------------------------------

#: sketch size (minimum hash values kept per set).
KMV_J_K = 64


def kmv_jaccard_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV SET-OVERLAP SKETCH: estimate the Jaccard similarity of two
    audiences (users who click vs users who purchase) from their
    k-minimum-values sketches — take the k smallest portable-md5
    hashes of the UNION of the two sketches and count how many live in
    BOTH (the classic KMV Jaccard estimator) — next to the exact
    Jaccard and the absolute error, so the sketch's accuracy contract
    is itself hash-checked (the ``kmv_distinct_estimate`` discipline,
    lifted from cardinalities to set algebra). At 100 TB the two
    audiences never co-shuffle: each side reduces to a k-row sketch
    that ships to one place.

    Scale shape: per-side sketches are rank-limited windows
    (WindowGroupLimit) over per-user hashes; the estimator runs on
    <= 3k rows of sketch; the exact check is one per-user flag
    aggregate (kept for the oracle contract — a production deployment
    drops it)."""
    ev = load(spark, sf_dir, "events")
    flags = ev.groupBy("user_id").agg(
        F.max((F.col("event_type") == "click").cast("int")).alias("in_a"),
        F.max((F.col("event_type") == "purchase").cast("int")).alias("in_b"),
    )
    h = _portable_hash(F.concat(F.lit("kmvj:"), F.col("user_id").cast("string")))
    hashed = flags.select("in_a", "in_b", h.alias("h"))

    def sketch(side: str) -> DataFrame:
        # k smallest hashes via orderBy().limit() — TakeOrderedAndProject
        # (per-partition heaps), not a global ranking window (r9: the
        # count_min_heavy_hitters tightening applied here too)
        return hashed.where(F.col(side) == 1).select("h").orderBy("h").limit(KMV_J_K)

    sa = sketch("in_a").withColumn("a", F.lit(1))
    sb = sketch("in_b").withColumn("b", F.lit(1))
    merged = (
        sa.join(sb, "h", "full_outer")
        .select(
            "h",
            F.coalesce("a", F.lit(0)).alias("a"),
            F.coalesce("b", F.lit(0)).alias("b"),
        )
    )
    wu = Window.orderBy("h")
    unionk = merged.withColumn("rk", F.row_number().over(wu)).where(
        F.col("rk") <= KMV_J_K
    )
    est = unionk.agg(
        F.count("*").alias("k_used"),
        F.sum((F.col("a") * F.col("b")).cast("long")).alias("n_both"),
    )
    exact = flags.agg(
        F.sum("in_a").cast("long").alias("n_a"),
        F.sum("in_b").cast("long").alias("n_b"),
        F.sum((F.col("in_a") * F.col("in_b")).cast("long")).alias("n_inter"),
        F.sum(
            F.greatest(F.col("in_a"), F.col("in_b")).cast("long")
        ).alias("n_union"),
    )
    j_exact = F.col("n_inter") / F.col("n_union").cast("double")
    j_kmv = F.col("n_both") / F.col("k_used").cast("double")
    return est.crossJoin(F.broadcast(exact)).select(
        F.lit(KMV_J_K).alias("k"),
        "n_a",
        "n_b",
        "n_inter",
        "n_union",
        rnd(j_exact, 6).alias("exact_jaccard"),
        rnd(j_kmv, 6).alias("kmv_jaccard"),
        rnd(F.abs(j_kmv - j_exact), 6).alias("abs_error"),
    )


def _kmvj_oracle() -> str:
    h = _SQL_HASH.format(x="'kmvj:' || CAST(user_id AS VARCHAR)")
    return f"""
WITH flags AS (
  SELECT user_id,
         max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS in_a,
         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS in_b
  FROM events GROUP BY user_id
),
hashed AS (
  SELECT in_a, in_b, {h} AS h FROM flags
),
sa AS (
  SELECT h, 1 AS a FROM (
    SELECT h, row_number() OVER (ORDER BY h) AS rk
    FROM hashed WHERE in_a = 1
  ) WHERE rk <= {KMV_J_K}
),
sb AS (
  SELECT h, 1 AS b FROM (
    SELECT h, row_number() OVER (ORDER BY h) AS rk
    FROM hashed WHERE in_b = 1
  ) WHERE rk <= {KMV_J_K}
),
merged AS (
  SELECT COALESCE(sa.h, sb.h) AS h,
         COALESCE(sa.a, 0) AS a, COALESCE(sb.b, 0) AS b
  FROM sa FULL OUTER JOIN sb ON sa.h = sb.h
),
unionk AS (
  SELECT * FROM (
    SELECT h, a, b, row_number() OVER (ORDER BY h) AS rk FROM merged
  ) WHERE rk <= {KMV_J_K}
),
est AS (
  SELECT count(*) AS k_used, CAST(sum(a * b) AS BIGINT) AS n_both
  FROM unionk
),
exact AS (
  SELECT CAST(sum(in_a) AS BIGINT) AS n_a,
         CAST(sum(in_b) AS BIGINT) AS n_b,
         CAST(sum(in_a * in_b) AS BIGINT) AS n_inter,
         CAST(sum(greatest(in_a, in_b)) AS BIGINT) AS n_union
  FROM flags
)
SELECT {KMV_J_K} AS k, e.n_a, e.n_b, e.n_inter, e.n_union,
       round(e.n_inter / CAST(e.n_union AS DOUBLE) + 1e-6, 6)
         AS exact_jaccard,
       round(s.n_both / CAST(s.k_used AS DOUBLE) + 1e-6, 6) AS kmv_jaccard,
       round(abs(s.n_both / CAST(s.k_used AS DOUBLE)
                 - e.n_inter / CAST(e.n_union AS DOUBLE)) + 1e-6, 6)
         AS abs_error
FROM est s CROSS JOIN exact e
"""


# --------------------------------------------------------------------------
# 3. Markov entropy rate of the event stream
# --------------------------------------------------------------------------

def markov_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ENTROPY RATE of the event stream under the first-order Markov
    model: H(X_t | X_{t-1}) = -sum p(prev,cur) ln p(cur|prev), next to
    the marginal entropy H(X_t) and the predictability gain (their
    difference, = the mutual information between consecutive events) —
    the single-number summary of ``event_transition_matrix``: how much
    does knowing the previous event tell you about the next one? Gain
    near zero means the stream is memoryless and any sequence model is
    wasted capacity.

    Scale shape: bigrams are one per-user window pass; both entropies
    reduce over the bounded transition-cell table (state-vocabulary
    squared). Only observed cells contribute (0 ln 0 = 0 by
    convention, and absent cells are absent on both engines)."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    bigrams = ev.select(
        F.lag("event_type").over(w).alias("prev"),
        F.col("event_type").alias("cur"),
    ).where(F.col("prev").isNotNull())
    c2 = bigrams.groupBy("prev", "cur").agg(F.count("*").alias("c2"))
    wt = Window.partitionBy()
    wp = Window.partitionBy("prev")
    terms = c2.select(
        "cur",
        F.col("c2").cast("double").alias("c2d"),
        F.sum("c2").over(wp).cast("double").alias("c1d"),
        F.sum("c2").over(wt).cast("double").alias("tot"),
    )
    h_rate = terms.agg(
        F.sum("c2d").cast("long").alias("n_bigrams"),
        F.sum(
            -(F.col("c2d") / F.col("tot"))
            * F.log(F.col("c2d") / F.col("c1d"))
        ).alias("h_rate_raw"),
    )
    marg = (
        bigrams.groupBy("cur")
        .agg(F.count("*").alias("c"))
        .select(
            F.col("c").cast("double").alias("cd"),
            F.sum("c").over(wt).cast("double").alias("tot"),
        )
        .agg(
            F.sum(
                -(F.col("cd") / F.col("tot"))
                * F.log(F.col("cd") / F.col("tot"))
            ).alias("h_marg_raw")
        )
    )
    return h_rate.crossJoin(F.broadcast(marg)).select(
        "n_bigrams",
        rnd("h_marg_raw", 6).alias("h_marginal_nats"),
        rnd("h_rate_raw", 6).alias("h_rate_nats"),
        rnd(F.col("h_marg_raw") - F.col("h_rate_raw"), 6).alias(
            "predictability_gain_nats"
        ),
    )


_ENTROPY_ORACLE = """
WITH bigrams AS (
  SELECT prev, cur FROM (
    SELECT lag(event_type) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id) AS prev,
           event_type AS cur
    FROM events
  ) WHERE prev IS NOT NULL
),
c2 AS (
  SELECT prev, cur, count(*) AS c2 FROM bigrams GROUP BY 1, 2
),
terms AS (
  SELECT CAST(c2 AS DOUBLE) AS c2d,
         CAST(sum(c2) OVER (PARTITION BY prev) AS DOUBLE) AS c1d,
         CAST(sum(c2) OVER () AS DOUBLE) AS tot
  FROM c2
),
hr AS (
  SELECT CAST(sum(c2d) AS BIGINT) AS n_bigrams,
         sum(-(c2d / tot) * ln(c2d / c1d)) AS h_rate_raw
  FROM terms
),
mterms AS (
  SELECT CAST(c AS DOUBLE) AS cd, CAST(sum(c) OVER () AS DOUBLE) AS tot
  FROM (SELECT cur, count(*) AS c FROM bigrams GROUP BY cur)
),
hm AS (
  SELECT sum(-(cd / tot) * ln(cd / tot)) AS h_marg_raw FROM mterms
)
SELECT hr.n_bigrams,
       round(hm.h_marg_raw + 1e-6, 6) AS h_marginal_nats,
       round(hr.h_rate_raw + 1e-6, 6) AS h_rate_nats,
       round(hm.h_marg_raw - hr.h_rate_raw + 1e-6, 6)
         AS predictability_gain_nats
FROM hr CROSS JOIN hm
"""


# --------------------------------------------------------------------------
# 4. cohort LTV accumulation curve
# --------------------------------------------------------------------------

def cohort_ltv_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COHORT LTV CURVE: users grouped by first-seen week, purchase
    revenue accumulated per cohort age (weeks since first seen), and
    cumulative revenue-per-cohort-member — the table whose flattening
    point answers "when has a cohort paid back its acquisition cost?".
    The revenue companion of ``cohort_retention`` (presence there,
    value here).

    Scale shape: first-seen week is one keyed aggregate over users;
    the curve is a (cohort, age) hash agg joined to the bounded cohort-
    size table, with the cumulative sum a window over the bounded
    (cohort x age) grid."""
    ev = load(spark, sf_dir, "events")
    wk = (F.floor(F.col("ts").cast("double") / 604800)).cast("long")
    first = ev.groupBy("user_id").agg(F.min(wk).alias("cohort_wk"))
    sizes = first.groupBy("cohort_wk").agg(F.count("*").alias("n_users"))
    # round-12: the per-cell revenue is a money sum whose cell row count
    # grows with the corpus — DECIMAL discipline (operators/tpch.py), so
    # the sum (and the cumulative window over it) is exact and
    # engine-identical at any scale; the cast back to double is correctly
    # rounded well below the 2^53 boundary (probe_decimal53.py).
    # round-13: widened 12,2 -> 14,2 to match the package-wide money
    # width — on per-value overflow Spark (non-ANSI) yields NULL while
    # DuckDB errors, so a narrower width makes the engines fail
    # DIFFERENTLY at extreme values; one width keeps failure modes
    # aligned. Values are unchanged (no overflow at either width).
    purchases = (
        ev.where(F.col("event_type") == "purchase")
        .select("user_id", wk.alias("wk"), "value")
        .join(first, "user_id")
        .groupBy("cohort_wk", (F.col("wk") - F.col("cohort_wk")).alias("age_wk"))
        .agg(F.sum(F.col("value").cast("decimal(14,2)")).alias("rev"))
    )
    wcum = (
        Window.partitionBy("cohort_wk")
        .orderBy("age_wk")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return purchases.join(sizes, "cohort_wk").select(
        "cohort_wk",
        "age_wk",
        "n_users",
        rnd(F.col("rev").cast("double"), 2).alias("revenue"),
        rnd(
            F.sum("rev").over(wcum).cast("double") / F.col("n_users"), 4
        ).alias("cum_ltv_per_user"),
    )


_LTV_ORACLE = """
WITH first_seen AS (
  SELECT user_id,
         min(CAST(floor(epoch(ts) / 604800) AS BIGINT)) AS cohort_wk
  FROM events GROUP BY user_id
),
sizes AS (
  SELECT cohort_wk, count(*) AS n_users FROM first_seen GROUP BY cohort_wk
),
purchases AS (
  SELECT f.cohort_wk,
         CAST(floor(epoch(e.ts) / 604800) AS BIGINT) - f.cohort_wk AS age_wk,
         sum(CAST(e.value AS DECIMAL(14,2))) AS rev
  FROM events e JOIN first_seen f ON e.user_id = f.user_id
  WHERE e.event_type = 'purchase'
  GROUP BY 1, 2
)
SELECT p.cohort_wk, p.age_wk, s.n_users,
       round(CAST(p.rev AS DOUBLE) + 1e-6, 2) AS revenue,
       round(CAST(sum(p.rev) OVER (PARTITION BY p.cohort_wk
                                   ORDER BY p.age_wk
                                   ROWS UNBOUNDED PRECEDING) AS DOUBLE)
             / s.n_users + 1e-6, 4) AS cum_ltv_per_user
FROM purchases p JOIN sizes s ON p.cohort_wk = s.cohort_wk
"""


register("anova_oneway", oracle=_ANOVA_ORACLE, tags=("prepared-r8",))(anova_oneway)
register("kmv_jaccard_overlap", oracle=_kmvj_oracle(),
         tags=("prepared-r8",))(kmv_jaccard_overlap)
register("markov_entropy_rate", oracle=_ENTROPY_ORACLE,
         tags=("prepared-r8",))(markov_entropy_rate)
register("cohort_ltv_curve", oracle=_LTV_ORACLE,
         tags=("prepared-r8",))(cohort_ltv_curve)
