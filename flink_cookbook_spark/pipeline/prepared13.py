"""Thirteenth round-7 batch of round-8-prepared operators: sequential
decisions, aggregation paradoxes, and privacy governance.

Same contract as ``prepared.py``. The UCB replay
is the standard OFFLINE BANDIT EVALUATION (Li et al.'s replay method:
step the policy through logged traffic, counting only the steps where
the policy's choice matches the logged action) — the sequential-
decision sibling of ``sprt_sequential_test``, and like the SARIMAX
model it is the kind of operator SQL cannot express natively, so the
Spark side runs it as a single-sequence ``applyInPandas`` fold while
the oracle replays the identical recurrence as a recursive CTE with
list state. The Simpson check guards every per-segment readout against
the aggregation reversal; the DP calibration and k-anonymity tables
are the governance surface a pipeline consults before releasing
aggregates.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_cookbook_spark.catalog import load
from flink_cookbook_spark.registry import register, rnd

#: conversion predicate shared with the experiment operators.
BANDIT_CONVERT_VALUE = 90.0

#: the bandit's arms: the event-type vocabulary, index order fixed.
BANDIT_ARMS = ("click", "error", "purchase", "signup", "view")


# --------------------------------------------------------------------------
# 1. UCB1 offline bandit replay
# --------------------------------------------------------------------------

def ucb_bandit_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UCB1 OFFLINE REPLAY over logged traffic: users step through in
    first-seen order; each user's FIRST event type is the logged
    action and their conversion the reward. The UCB1 policy (unplayed
    arms first by index, then argmax of mean + sqrt(2 ln T / n))
    proposes an arm at every step, and — the replay method — only
    steps where the proposal matches the logged action count as plays.
    Emits the per-arm play counts, mean rewards, and final UCB scores:
    the offline answer to "what would the bandit have learned from
    this traffic?" before any policy ships.

    Scale shape: the replay is inherently ONE sequential chain (like
    ``sprt_sequential_test``), so the fold runs as a single-group
    ``applyInPandas`` over the per-user reduce (the SARIMAX escape
    hatch for non-relational recurrences); per-user reduction and
    ordering stay distributed. The DuckDB twin replays the identical
    recurrence as a RECURSIVE CTE carrying the two 5-element state
    lists."""
    import pandas as pd

    ev = load(spark, sf_dir, "events")
    w = F.struct(F.col("ts").cast("double").alias("t"), "event_id")
    per_user = ev.groupBy("user_id").agg(
        F.min(F.col("ts").cast("double")).alias("first_ts"),
        F.min_by("event_type", w).alias("action"),
        F.max(
            (
                (F.col("event_type") == "purchase")
                & (F.col("value") > BANDIT_CONVERT_VALUE)
            ).cast("int")
        ).alias("reward"),
    )
    arms = list(BANDIT_ARMS)

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["first_ts", "user_id"])
        n = [0] * len(arms)
        s = [0] * len(arms)
        matched = 0
        for row in pdf.itertuples(index=False):
            t_total = sum(n)
            unplayed = [j for j in range(len(arms)) if n[j] == 0]
            if unplayed:
                choice = unplayed[0]
            else:
                scores = [
                    s[j] / n[j] + math.sqrt(2.0 * math.log(t_total) / n[j])
                    for j in range(len(arms))
                ]
                choice = scores.index(max(scores))
            try:
                logged = arms.index(row.action)
            except ValueError:
                continue  # unseen action label: not replayable
            if choice == logged:
                n[choice] += 1
                s[choice] += int(row.reward)
                matched += 1
        out = []
        for j, a in enumerate(arms):
            mean_r = s[j] / n[j] if n[j] else None
            t_total = sum(n)
            ucb = (
                mean_r + math.sqrt(2.0 * math.log(t_total) / n[j])
                if n[j] and t_total
                else None
            )
            out.append(
                {
                    "arm": a,
                    "n_plays": n[j],
                    "mean_reward": round(mean_r + 1e-6, 6)
                    if mean_r is not None
                    else None,
                    "ucb_score": round(ucb + 1e-6, 6)
                    if ucb is not None
                    else None,
                    "n_steps": len(pdf),
                    "n_matched": matched,
                }
            )
        return pd.DataFrame(out)

    schema = (
        "arm string, n_plays long, mean_reward double, ucb_score double, "
        "n_steps long, n_matched long"
    )
    return (
        per_user.withColumn("g", F.lit(1))
        .groupBy("g")
        .applyInPandas(run, schema)
    )


def _ucb_oracle() -> str:
    k = len(BANDIT_ARMS)
    arm_list = ", ".join(f"'{a}'" for a in BANDIT_ARMS)
    # scores: unplayed arm j gets 1e18 - j (always wins, lowest index
    # first); else mean + sqrt(2 ln T / n). list_indexof returns the
    # FIRST index of the max -> ties break to the lowest arm index.
    scores = (
        f"list_transform(range(1, {k + 1}), j -> "
        f"CASE WHEN n[j] = 0 THEN 1e18 - j "
        f"ELSE CAST(s[j] AS DOUBLE) / n[j] "
        f"+ sqrt(2.0 * ln(CAST(tt AS DOUBLE)) / n[j]) END)"
    )
    return f"""
WITH RECURSIVE firsts AS MATERIALIZED (
  SELECT user_id, event_type AS action FROM (
    SELECT user_id, event_type,
           row_number() OVER (PARTITION BY user_id
                              ORDER BY ts, event_id) AS rn
    FROM events
  ) WHERE rn = 1
),
per_user AS MATERIALIZED (
  SELECT e.user_id, min(epoch(e.ts)) AS first_ts, f.action,
         max(CASE WHEN e.event_type = 'purchase'
                       AND e.value > {BANDIT_CONVERT_VALUE}
                  THEN 1 ELSE 0 END) AS reward
  FROM events e JOIN firsts f ON e.user_id = f.user_id
  GROUP BY e.user_id, f.action
),
seq AS MATERIALIZED (
  SELECT row_number() OVER (ORDER BY first_ts, user_id) AS i,
         list_position([{arm_list}], action) AS logged,
         reward,
         count(*) OVER () AS total
  FROM per_user
),
steps AS (
  SELECT 0 AS i,
         {"[" + ", ".join("0" for _ in range(k)) + "]"} AS n,
         {"[" + ", ".join("0" for _ in range(k)) + "]"} AS s,
         0 AS matched
  UNION ALL
  SELECT st.i + 1,
         CASE WHEN ch.choice = q.logged
              THEN list_transform(range(1, {k + 1}),
                     j -> st.n[j] + CASE WHEN j = ch.choice THEN 1 ELSE 0 END)
              ELSE st.n END,
         CASE WHEN ch.choice = q.logged
              THEN list_transform(range(1, {k + 1}),
                     j -> st.s[j] + CASE WHEN j = ch.choice
                                    THEN q.reward ELSE 0 END)
              ELSE st.s END,
         st.matched + CASE WHEN ch.choice = q.logged THEN 1 ELSE 0 END
  FROM steps st
  JOIN seq q ON q.i = st.i + 1
  CROSS JOIN LATERAL (
    SELECT list_indexof(sc.scores, list_max(sc.scores)) AS choice
    FROM (
      SELECT {scores} AS scores
      FROM (SELECT st.n AS n, st.s AS s,
                   list_sum(st.n) AS tt) z
    ) sc
  ) ch
),
final AS (
  SELECT * FROM steps ORDER BY i DESC LIMIT 1
),
armrows AS (
  SELECT t.j, [{arm_list}][t.j] AS arm, f.n[t.j] AS n_plays,
         f.s[t.j] AS s_sum, list_sum(f.n) AS tt, f.matched,
         (SELECT max(total) FROM seq) AS n_steps
  FROM final f CROSS JOIN (SELECT unnest(range(1, {k + 1})) AS j) t
)
SELECT arm,
       CAST(n_plays AS BIGINT) AS n_plays,
       round(CASE WHEN n_plays > 0
                  THEN CAST(s_sum AS DOUBLE) / n_plays END + 1e-6, 6)
         AS mean_reward,
       round(CASE WHEN n_plays > 0 AND tt > 0
                  THEN CAST(s_sum AS DOUBLE) / n_plays
                       + sqrt(2.0 * ln(CAST(tt AS DOUBLE)) / n_plays)
             END + 1e-6, 6) AS ucb_score,
       CAST(n_steps AS BIGINT) AS n_steps,
       CAST(matched AS BIGINT) AS n_matched
FROM armrows
"""


# --------------------------------------------------------------------------
# 2. Simpson's-paradox reversal check
# --------------------------------------------------------------------------

def simpson_reversal_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SIMPSON'S-PARADOX AUDIT: compare the aggregate association
    between user activity (above/below the discrete median event
    count) and conversion with the same association WITHIN each
    event-type-majority segment — reporting the aggregate lift, each
    segment's lift, and whether any segment's sign REVERSES the
    aggregate (the aggregation paradox every per-segment dashboard
    silently risks). One row per segment plus the aggregate row.

    Scale shape: two keyed reduces (per-user features, then per-
    segment conditional rates); the median split is a rank-limited
    window pick; everything downstream runs over the bounded segment
    table."""
    ev = load(spark, sf_dir, "events")
    w = F.struct(F.col("ts").cast("double").alias("t"), "event_id")
    per_user = ev.groupBy("user_id").agg(
        F.count("*").alias("n_ev"),
        F.min_by("event_type", w).alias("segment"),
        F.max(
            (
                (F.col("event_type") == "purchase")
                & (F.col("value") > BANDIT_CONVERT_VALUE)
            ).cast("int")
        ).alias("conv"),
    )
    from pyspark.sql import Window as W

    wm = W.orderBy("n_ev", "user_id")
    wt = W.partitionBy()
    med = (
        per_user.select(
            "n_ev",
            F.row_number().over(wm).alias("rn"),
            F.count("*").over(wt).alias("m"),
        )
        .where(F.col("rn") == F.floor((F.col("m") + 1) / 2))
        .select(F.col("n_ev").alias("med"))
    )
    flagged = per_user.crossJoin(F.broadcast(med)).select(
        "segment",
        (F.col("n_ev") > F.col("med")).cast("int").alias("hi"),
        "conv",
    )
    seg = flagged.groupBy("segment").agg(
        F.sum(F.col("hi") * F.col("conv")).alias("c_hi"),
        F.sum("hi").alias("n_hi"),
        F.sum((1 - F.col("hi")) * F.col("conv")).alias("c_lo"),
        F.sum(1 - F.col("hi")).alias("n_lo"),
    )
    total = flagged.groupBy(F.lit("__all__").alias("segment")).agg(
        F.sum(F.col("hi") * F.col("conv")).alias("c_hi"),
        F.sum("hi").alias("n_hi"),
        F.sum((1 - F.col("hi")) * F.col("conv")).alias("c_lo"),
        F.sum(1 - F.col("hi")).alias("n_lo"),
    )
    both = seg.unionAll(total)
    lift = F.when(
        (F.col("n_hi") > 0) & (F.col("n_lo") > 0),
        F.col("c_hi") / F.col("n_hi") - F.col("c_lo") / F.col("n_lo"),
    )
    with_lift = both.select(
        "segment",
        F.col("n_hi").cast("long").alias("n_high_activity"),
        F.col("n_lo").cast("long").alias("n_low_activity"),
        rnd(lift, 6).alias("conv_lift_high_vs_low"),
        lift.alias("_raw"),
    )
    agg_sign = with_lift.where(F.col("segment") == "__all__").select(
        F.signum("_raw").alias("agg_sign")
    )
    return (
        with_lift.crossJoin(F.broadcast(agg_sign))
        .select(
            "segment",
            "n_high_activity",
            "n_low_activity",
            "conv_lift_high_vs_low",
            F.when(
                F.col("segment") == "__all__", F.lit(False)
            ).otherwise(
                F.coalesce(
                    F.signum("_raw") * F.col("agg_sign") < 0, F.lit(False)
                )
            ).alias("reverses_aggregate"),
        )
    )


_SIMPSON_ORACLE = f"""
WITH firsts AS (
  SELECT user_id, event_type AS segment FROM (
    SELECT user_id, event_type,
           row_number() OVER (PARTITION BY user_id
                              ORDER BY ts, event_id) AS rn
    FROM events
  ) WHERE rn = 1
),
per_user AS (
  SELECT e.user_id, count(*) AS n_ev, f.segment,
         max(CASE WHEN e.event_type = 'purchase'
                       AND e.value > {BANDIT_CONVERT_VALUE}
                  THEN 1 ELSE 0 END) AS conv
  FROM events e JOIN firsts f ON e.user_id = f.user_id
  GROUP BY e.user_id, f.segment
),
med AS (
  SELECT n_ev AS med FROM (
    SELECT n_ev, row_number() OVER (ORDER BY n_ev, user_id) AS rn,
           count(*) OVER () AS m
    FROM per_user
  ) WHERE rn = (m + 1) // 2
),
flagged AS (
  SELECT segment,
         CASE WHEN p.n_ev > m.med THEN 1 ELSE 0 END AS hi, conv
  FROM per_user p CROSS JOIN med m
),
seg AS (
  SELECT segment,
         CAST(sum(hi * conv) AS BIGINT) AS c_hi,
         CAST(sum(hi) AS BIGINT) AS n_hi,
         CAST(sum((1 - hi) * conv) AS BIGINT) AS c_lo,
         CAST(sum(1 - hi) AS BIGINT) AS n_lo
  FROM flagged GROUP BY segment
  UNION ALL
  SELECT '__all__',
         CAST(sum(hi * conv) AS BIGINT), CAST(sum(hi) AS BIGINT),
         CAST(sum((1 - hi) * conv) AS BIGINT), CAST(sum(1 - hi) AS BIGINT)
  FROM flagged
),
lifts AS (
  SELECT segment, n_hi AS n_high_activity, n_lo AS n_low_activity,
         CASE WHEN n_hi > 0 AND n_lo > 0
              THEN CAST(c_hi AS DOUBLE) / n_hi - CAST(c_lo AS DOUBLE) / n_lo
         END AS raw
  FROM seg
),
agg_sign AS (
  SELECT sign(raw) AS s FROM lifts WHERE segment = '__all__'
)
SELECT l.segment, l.n_high_activity, l.n_low_activity,
       round(l.raw + 1e-6, 6) AS conv_lift_high_vs_low,
       CASE WHEN l.segment = '__all__' THEN false
            ELSE COALESCE(sign(l.raw) * a.s < 0, false) END
         AS reverses_aggregate
FROM lifts l CROSS JOIN agg_sign a
"""


# --------------------------------------------------------------------------
# 3. differential-privacy noise calibration table
# --------------------------------------------------------------------------

#: epsilon grid for the calibration table.
DP_EPSILONS = (0.1, 1.0, 10.0)


def dp_noise_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIFFERENTIAL-PRIVACY NOISE CALIBRATION for the per-event-type
    count release: for each epsilon in ``DP_EPSILONS``, the Laplace
    scale (sensitivity 1 / epsilon), the expected absolute noise
    (= the scale, for Laplace), and the expected RELATIVE error
    against each type's actual count — the governance table that says
    which epsilon budgets keep which aggregates usable BEFORE any
    noisy release. Purely analytic: no noise is sampled, so the
    operator is deterministic and oracle-checkable.

    Scale shape: one hash agg to the released-statistic grain, fanned
    over the constant epsilon grid."""
    ev = load(spark, sf_dir, "events")
    counts = ev.groupBy("event_type").agg(F.count("*").alias("n"))
    fanned = counts.select(
        "event_type",
        "n",
        F.explode(
            F.array(*[F.lit(float(e)) for e in DP_EPSILONS])
        ).alias("epsilon"),
    )
    scale = 1.0 / F.col("epsilon")
    return fanned.select(
        "event_type",
        "n",
        rnd("epsilon", 2).alias("epsilon"),
        rnd(scale, 4).alias("laplace_scale"),
        rnd(scale / F.col("n"), 6).alias("expected_rel_error"),
        (scale / F.col("n") < 0.01).alias("usable_at_1pct"),
    )


def _dp_oracle() -> str:
    evals = ", ".join(f"(CAST({float(e)!r} AS DOUBLE))" for e in DP_EPSILONS)
    return f"""
WITH counts AS (
  SELECT event_type, count(*) AS n FROM events GROUP BY event_type
),
fanned AS (
  SELECT c.event_type, c.n, t.epsilon
  FROM counts c CROSS JOIN (VALUES {evals}) t(epsilon)
)
SELECT event_type, n,
       round(epsilon + 1e-6, 2) AS epsilon,
       round(1.0 / epsilon + 1e-6, 4) AS laplace_scale,
       round(1.0 / epsilon / n + 1e-6, 6) AS expected_rel_error,
       1.0 / epsilon / n < 0.01 AS usable_at_1pct
FROM fanned
"""


# --------------------------------------------------------------------------
# 4. k-anonymity report over quasi-identifiers
# --------------------------------------------------------------------------

#: groups smaller than this are re-identification risks.
K_ANON = 5


def k_anonymity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-ANONYMITY AUDIT over the documents quasi-identifier tuple
    (lang, source, length quartile): per equivalence class its size,
    whether it meets k=``K_ANON``, and — constant columns — the share
    of DOCUMENTS living in sub-k classes and the minimum class size,
    i.e. exactly the numbers a release review asks for before
    publishing "anonymized" metadata. Length is bucketed to its
    quartile (discrete boundaries via ntile — identical on both
    engines) because raw lengths are themselves identifying.

    Scale shape: one ntile window for the length bucket, one hash agg
    to equivalence classes, windows over the bounded class table."""
    from pyspark.sql import Window as W

    docs = load(spark, sf_dir, "documents")
    q = F.ntile(4).over(W.orderBy("n_chars", "doc_id"))
    bucketed = docs.select("lang", "source", q.alias("len_quartile"))
    classes = bucketed.groupBy("lang", "source", "len_quartile").agg(
        F.count("*").alias("class_size")
    )
    wt = W.partitionBy()
    return classes.select(
        "lang",
        "source",
        "len_quartile",
        "class_size",
        (F.col("class_size") >= K_ANON).alias("k_anonymous"),
        rnd(
            F.sum(
                F.when(F.col("class_size") < K_ANON, F.col("class_size"))
                .otherwise(0)
            ).over(wt)
            / F.sum("class_size").over(wt),
            6,
        ).alias("sub_k_doc_share"),
        F.min("class_size").over(wt).alias("min_class_size"),
    )


_KANON_ORACLE = f"""
WITH bucketed AS (
  SELECT lang, source,
         ntile(4) OVER (ORDER BY n_chars, doc_id) AS len_quartile
  FROM documents
),
classes AS (
  SELECT lang, source, len_quartile, count(*) AS class_size
  FROM bucketed GROUP BY 1, 2, 3
)
SELECT lang, source, CAST(len_quartile AS INTEGER) AS len_quartile,
       class_size,
       class_size >= {K_ANON} AS k_anonymous,
       round(CAST(sum(CASE WHEN class_size < {K_ANON} THEN class_size
                           ELSE 0 END) OVER () AS DOUBLE)
             / sum(class_size) OVER () + 1e-6, 6) AS sub_k_doc_share,
       CAST(min(class_size) OVER () AS BIGINT) AS min_class_size
FROM classes
"""


register("ucb_bandit_replay", oracle=_ucb_oracle(),
         tags=("prepared-r8",))(ucb_bandit_replay)
register("simpson_reversal_check", oracle=_SIMPSON_ORACLE,
         tags=("prepared-r8",))(simpson_reversal_check)
register("dp_noise_calibration", oracle=_dp_oracle(),
         tags=("prepared-r8",))(dp_noise_calibration)
register("k_anonymity_report", oracle=_KANON_ORACLE,
         tags=("prepared-r8",))(k_anonymity_report)
