"""Fourteenth round-7 batch of round-8-prepared operators: cooperative
attribution, stylometry, and index numbers.

Same contract as ``prepared.py``. Shapley
attribution is the game-theoretic upgrade of the engine's attribution
family (``purchase_attribution`` last-touch, ``multi_touch_
attribution`` time-decay): credit each channel by its average marginal
contribution across ALL exposure coalitions — exact here because the
channel set is small (the production shape too: channels are few even
when users are billions, so the 2^n value table is always bounded).
Burrows' Delta is the classic stylometric distance (who-wrote-this
forensics, re-purposed as a source-style drift monitor). The Laspeyres
index is how economics aggregates price change over a fixed basket —
the time-series complement of ``yoy_segment_growth``'s raw growth.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flink_cookbook_spark.catalog import load
from flink_cookbook_spark.registry import register, rnd

#: attribution channels (bit order fixed, alphabetical).
SHAPLEY_CHANNELS = ("click", "error", "signup", "view")


# --------------------------------------------------------------------------
# 1. exact Shapley channel attribution
# --------------------------------------------------------------------------

def _shapley_terms() -> list[tuple[str, int, int, float]]:
    """(channel, mask_without, mask_with, weight) for every channel i
    and every coalition S not containing i: weight = |S|!(n-1-|S|)!/n!.
    16 masks x 4 channels / 2 = 32 terms, a pure literal table."""
    n = len(SHAPLEY_CHANNELS)
    out = []
    for i, ch in enumerate(SHAPLEY_CHANNELS):
        bit = 1 << i
        for mask in range(1 << n):
            if mask & bit:
                continue
            s = bin(mask).count("1")
            w = (
                math.factorial(s)
                * math.factorial(n - 1 - s)
                / math.factorial(n)
            )
            out.append((ch, mask, mask | bit, w))
    return out


def shapley_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT SHAPLEY ATTRIBUTION over touch channels: each user's
    exposure coalition is the set of channel types seen before their
    first purchase (all their touches, for non-converters); the
    characteristic function v(S) is the conversion rate of users with
    EXACTLY that coalition (unobserved coalitions contribute v=0, the
    standard data-driven convention); each channel's Shapley value is
    its average marginal contribution across all coalitions. Unlike
    last-touch or time-decay heuristics this is the unique credit
    split satisfying efficiency/symmetry/null-player — and it is
    EXACT, not sampled, because the coalition lattice is 2^4.

    Scale shape: users reduce to a 16-row coalition table in one keyed
    agg + one mask agg; the Shapley sum is a literal 32-term table
    joined against those 16 rows. Channel count, not user count,
    bounds everything downstream of the first reduce."""
    ev = load(spark, sf_dir, "events")
    sec = F.col("ts").cast("double")
    first_p = ev.where(F.col("event_type") == "purchase").groupBy(
        "user_id"
    ).agg(F.min(sec).alias("t_conv"))
    touches = ev.join(first_p, "user_id", "left").where(
        F.col("event_type").isin(*SHAPLEY_CHANNELS)
        & (F.col("t_conv").isNull() | (sec < F.col("t_conv")))
    )
    per_user = touches.groupBy("user_id").agg(
        *[
            F.max(
                F.when(F.col("event_type") == ch, 1 << i).otherwise(0)
            ).alias(f"b{i}")
            for i, ch in enumerate(SHAPLEY_CHANNELS)
        ],
        F.max(F.col("t_conv").isNotNull().cast("int")).alias("conv"),
    )
    mask = sum(F.col(f"b{i}") for i in range(len(SHAPLEY_CHANNELS)))
    coalitions = per_user.groupBy(mask.alias("mask")).agg(
        F.count("*").alias("n_users"),
        F.avg("conv").alias("v"),
    )
    terms = spark.createDataFrame(
        _shapley_terms(), "channel string, m_wo int, m_w int, w double"
    )
    jw = coalitions.select(F.col("mask").alias("m_w"), F.col("v").alias("v_w"))
    jwo = coalitions.select(
        F.col("mask").alias("m_wo"), F.col("v").alias("v_wo")
    )
    shap = (
        terms.join(jw, "m_w", "left")
        .join(jwo, "m_wo", "left")
        .groupBy("channel")
        .agg(
            F.sum(
                F.col("w")
                * (
                    F.coalesce("v_w", F.lit(0.0))
                    - F.coalesce("v_wo", F.lit(0.0))
                )
            ).alias("shap_raw")
        )
    )
    totals = coalitions.agg(
        F.sum("n_users").alias("n_users_total"),
        F.max(F.when(F.col("mask") == 0, F.col("v"))).alias("v_empty"),
    )
    return shap.crossJoin(F.broadcast(totals)).select(
        "channel",
        rnd("shap_raw", 6).alias("shapley_value"),
        "n_users_total",
        rnd(F.coalesce("v_empty", F.lit(0.0)), 6).alias("v_empty_set"),
    )


def _shapley_oracle() -> str:
    terms_rows = ", ".join(
        f"('{ch}', {mwo}, {mw}, {w!r})" for ch, mwo, mw, w in _shapley_terms()
    )
    bits = " + ".join(
        f"max(CASE WHEN event_type = '{ch}' THEN {1 << i} ELSE 0 END)"
        for i, ch in enumerate(SHAPLEY_CHANNELS)
    )
    chans = ", ".join(f"'{c}'" for c in SHAPLEY_CHANNELS)
    return f"""
WITH first_p AS (
  SELECT user_id, min(epoch(ts)) AS t_conv
  FROM events WHERE event_type = 'purchase' GROUP BY user_id
),
touches AS (
  SELECT e.user_id, e.event_type, f.t_conv
  FROM events e LEFT JOIN first_p f ON e.user_id = f.user_id
  WHERE e.event_type IN ({chans})
    AND (f.t_conv IS NULL OR epoch(e.ts) < f.t_conv)
),
per_user AS (
  SELECT user_id, {bits} AS mask,
         max(CASE WHEN t_conv IS NOT NULL THEN 1 ELSE 0 END) AS conv
  FROM touches GROUP BY user_id
),
coalitions AS (
  SELECT mask, count(*) AS n_users, avg(conv) AS v
  FROM per_user GROUP BY mask
),
terms AS (
  SELECT * FROM (VALUES {terms_rows}) t(channel, m_wo, m_w, w)
),
shap AS (
  SELECT t.channel,
         sum(t.w * (COALESCE(cw.v, 0.0) - COALESCE(cwo.v, 0.0))) AS shap_raw
  FROM terms t
  LEFT JOIN coalitions cw ON cw.mask = t.m_w
  LEFT JOIN coalitions cwo ON cwo.mask = t.m_wo
  GROUP BY t.channel
),
totals AS (
  SELECT CAST(sum(n_users) AS BIGINT) AS n_users_total,
         max(CASE WHEN mask = 0 THEN v END) AS v_empty
  FROM coalitions
)
SELECT s.channel,
       round(s.shap_raw + 1e-6, 6) AS shapley_value,
       t.n_users_total,
       round(COALESCE(t.v_empty, 0.0) + 1e-6, 6) AS v_empty_set
FROM shap s CROSS JOIN totals t
"""


# --------------------------------------------------------------------------
# 2. Burrows' Delta stylometric distance between sources
# --------------------------------------------------------------------------

#: most-frequent-token vocabulary size for the style fingerprint.
DELTA_TOP_N = 30


def burrows_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BURROWS' DELTA between corpus sources: take the corpus's top-N
    most frequent tokens, compute each source's relative frequency per
    token, z-score each token's frequencies ACROSS sources, and score
    every source pair by the mean absolute z difference — the standard
    stylometric distance (authorship forensics), repurposed as a
    source-style drift monitor: a source whose Delta to every sibling
    jumps has changed its generator/template. Emits all source pairs.

    Scale shape: token counts are one combinable agg; the top-N head
    is a TakeOrdered; per-source frequencies and cross-source z-scores
    run over the bounded sources x N table; the pair scoring is a
    bounded self-join on token."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "source", F.explode(F.split("text", " ")).alias("tok")
    ).where(F.col("tok") != "")
    top = (
        toks.groupBy("tok")
        .agg(F.count("*").alias("c"))
        .orderBy(F.col("c").desc(), F.col("tok"))
        .limit(DELTA_TOP_N)
        .select("tok")
    )
    src_tot = toks.groupBy("source").agg(F.count("*").alias("tot"))
    src_tok = (
        toks.join(top, "tok")
        .groupBy("source", "tok")
        .agg(F.count("*").alias("c"))
    )
    # every (source, top-token) cell must exist (zero counts included)
    spine = src_tot.select("source", "tot").crossJoin(F.broadcast(top))
    freqs = spine.join(src_tok, ["source", "tok"], "left").select(
        "source",
        "tok",
        (F.coalesce("c", F.lit(0)) / F.col("tot").cast("double")).alias("f"),
    )
    wz = Window.partitionBy("tok")
    z = freqs.select(
        "source",
        "tok",
        F.when(
            F.stddev_samp("f").over(wz) > 0,
            (F.col("f") - F.avg("f").over(wz)) / F.stddev_samp("f").over(wz),
        ).otherwise(0.0).alias("z"),
    )
    a = z.select(F.col("source").alias("src_a"), "tok", F.col("z").alias("za"))
    b = z.select(F.col("source").alias("src_b"), "tok", F.col("z").alias("zb"))
    return (
        a.join(b, "tok")
        .where(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(rnd(F.avg(F.abs(F.col("za") - F.col("zb"))), 6).alias(
            "burrows_delta"
        ))
    )


_DELTA_ORACLE = f"""
WITH toks AS (
  SELECT source, t.tok
  FROM documents, unnest(string_split(text, ' ')) AS t(tok)
  WHERE t.tok != ''
),
top AS (
  SELECT tok FROM (
    SELECT tok, count(*) AS c FROM toks GROUP BY tok
    ORDER BY c DESC, tok LIMIT {DELTA_TOP_N}
  )
),
src_tot AS (
  SELECT source, count(*) AS tot FROM toks GROUP BY source
),
src_tok AS (
  SELECT s.source, s.tok, count(*) AS c
  FROM toks s JOIN top ON s.tok = top.tok
  GROUP BY 1, 2
),
spine AS (
  SELECT st.source, st.tot, top.tok FROM src_tot st CROSS JOIN top
),
freqs AS (
  SELECT sp.source, sp.tok,
         COALESCE(sk.c, 0) / CAST(sp.tot AS DOUBLE) AS f
  FROM spine sp LEFT JOIN src_tok sk
    ON sp.source = sk.source AND sp.tok = sk.tok
),
z AS (
  SELECT source, tok,
         CASE WHEN stddev_samp(f) OVER (PARTITION BY tok) > 0
              THEN (f - avg(f) OVER (PARTITION BY tok))
                   / stddev_samp(f) OVER (PARTITION BY tok)
              ELSE 0.0 END AS z
  FROM freqs
)
SELECT a.source AS src_a, b.source AS src_b,
       round(avg(abs(a.z - b.z)) + 1e-6, 6) AS burrows_delta
FROM z a JOIN z b ON a.tok = b.tok AND a.source < b.source
GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# 3. Laspeyres price index over ship years
# --------------------------------------------------------------------------

#: base year for the fixed basket.
LASPEYRES_BASE_YEAR = 1995


def laspeyres_price_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LASPEYRES PRICE INDEX per ship year: average unit price per
    (part, year), base-year quantities as the fixed basket, index(y) =
    sum(p_y * q_base) / sum(p_base * q_base) over parts traded in BOTH
    years — the index-number answer to "how much did prices move?"
    that raw revenue growth (``yoy_segment_growth``) conflates with
    volume shifts. Base year's own row emits at exactly 1.

    Scale shape: one (part, year) hash agg; the base basket joins back
    keyed on part; per-year sums reduce the bounded joined table."""
    li = load(spark, sf_dir, "lineitem")
    yr = F.year("l_shipdate")
    py = li.groupBy(F.col("l_partkey").alias("pk"), yr.alias("y")).agg(
        (F.sum("l_extendedprice") / F.sum("l_quantity")).alias("p"),
        F.sum("l_quantity").alias("q"),
    )
    base = py.where(F.col("y") == LASPEYRES_BASE_YEAR).select(
        "pk", F.col("p").alias("p0"), F.col("q").alias("q0")
    )
    joined = py.join(base, "pk")
    return (
        joined.groupBy("y")
        .agg(
            F.count("*").alias("n_common_parts"),
            (
                F.sum(F.col("p") * F.col("q0"))
                / F.sum(F.col("p0") * F.col("q0"))
            ).alias("idx_raw"),
        )
        .select(
            F.col("y").alias("ship_year"),
            "n_common_parts",
            rnd("idx_raw", 6).alias("laspeyres_index"),
        )
    )


_LASPEYRES_ORACLE = f"""
WITH py AS (
  SELECT l_partkey AS pk, extract(year FROM l_shipdate) AS y,
         sum(l_extendedprice) / sum(l_quantity) AS p,
         sum(l_quantity) AS q
  FROM lineitem GROUP BY 1, 2
),
base AS (
  SELECT pk, p AS p0, q AS q0 FROM py WHERE y = {LASPEYRES_BASE_YEAR}
)
SELECT CAST(py.y AS INTEGER) AS ship_year,
       count(*) AS n_common_parts,
       round(sum(py.p * b.q0) / sum(b.p0 * b.q0) + 1e-6, 6)
         AS laspeyres_index
FROM py JOIN base b ON py.pk = b.pk
GROUP BY py.y
"""


register("shapley_attribution", oracle=_shapley_oracle(),
         tags=("prepared-r8",))(shapley_attribution)
register("burrows_delta", oracle=_DELTA_ORACLE, tags=("prepared-r8",))(burrows_delta)
register("laspeyres_price_index", oracle=_LASPEYRES_ORACLE,
         tags=("prepared-r8",))(laspeyres_price_index)
