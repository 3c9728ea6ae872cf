"""Fifth round-7 batch of round-8-prepared operators: seasonal
forecasting, robust statistics, and corpus-economics decision tables.

Same contract as ``prepared.py``. The seasonal
Holt-Winters fold extends the engine's forecaster family (EWMA ->
Holt linear -> Holt-Winters additive) toward the reference's seasonal
SARIMA territory with a closed-form, oracle-replayable recurrence;
Theil-Sen and the runs test bring the robust/nonparametric toolkit;
Benford is the classic financial-audit screen; the coverage curve and
token-savings tables answer the two tokenizer/dedup budget questions a
training-data pipeline asks first.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flink_cookbook_spark.catalog import load
from flink_cookbook_spark.registry import register, rnd


# --------------------------------------------------------------------------
# 1. additive Holt-Winters seasonal smoothing + one-step forecast
# --------------------------------------------------------------------------

HW_ALPHA = 0.3  #: level smoothing
HW_BETA = 0.05  #: trend smoothing
HW_GAMMA = 0.2  #: seasonal smoothing
HW_PERIOD = 24  #: seasonal period in observations (hour-of-day cycle)


def holt_winters_seasonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADDITIVE HOLT-WINTERS over each event type's hourly mean-value
    series: level + trend + a rolling seasonal state of period 24,
    folded across the ordered observations; one-step forecast =
    ``l + b + s_next``. Extends ``holt_linear_forecast`` with exactly
    the seasonal term the reference's SARIMA (0,1,1,s) component
    models — the closed-form, fully replayable member of the engine's
    forecaster ladder (production gap-fills first via ``gap_fill_locf``;
    the fold itself is defined over the observed sequence).

    Recurrence (init: l = mean of first p obs, b = 0, s_i = x_i - l):
      l_t = a*(x_t - s_{t-p}) + (1-a)*(l_{t-1} + b_{t-1})
      b_t = B*(l_t - l_{t-1}) + (1-B)*b_{t-1}
      s_t = G*(x_t - l_t) + (1-G)*s_{t-p}

    Scale shape: one combinable hash agg to (key, hour) means; the
    bounded per-key series folds in a codegen'd ``aggregate`` with a
    struct accumulator holding the p-element seasonal ring (the
    bounded-state contract of the reference's history buffer A3). The
    DuckDB twin replays the identical fold as a RECURSIVE CTE carrying
    the seasonal list — NOT list_reduce (the in-place coupled-
    recurrence hazard documented at ``holt_linear_forecast``)."""
    ev = load(spark, sf_dir, "events")
    sec = F.col("ts").cast("double")
    hourly = (
        ev.select(
            "event_type", (F.floor(sec / 3600) * 3600).alias("h"), "value"
        )
        .groupBy("event_type", "h")
        .agg(F.avg("value").alias("v"))
    )
    series = hourly.groupBy("event_type").agg(
        F.array_sort(F.collect_list(F.struct("h", "v"))).alias("sv")
    )
    a, b, g, p = HW_ALPHA, HW_BETA, HW_GAMMA, HW_PERIOD
    l0 = f"aggregate(slice(vals, 1, {p}), 0.0D, (acc, x) -> acc + x) / {p}"
    # l_new spelled out inline wherever it appears (functional update —
    # every field reads the PREVIOUS accumulator only)
    l_new = f"{a}D * (x - element_at(acc.s, 1)) + {1 - a}D * (acc.l + acc.b)"
    fold = (
        f"aggregate(slice(vals, {p + 1}, size(vals) - {p}), "
        f"named_struct("
        f"'l', {l0}, "
        f"'b', 0.0D, "
        f"'s', transform(slice(vals, 1, {p}), x -> x - ({l0}))), "
        f"(acc, x) -> named_struct("
        f"'l', {l_new}, "
        f"'b', {b}D * (({l_new}) - acc.l) + {1 - b}D * acc.b, "
        f"'s', concat(slice(acc.s, 2, {p - 1}), "
        f"array({g}D * (x - ({l_new})) + {1 - g}D * element_at(acc.s, 1)))))"
    )
    return (
        series.withColumn("vals", F.expr("transform(sv, s -> s.v)"))
        .where(F.size("vals") > p)
        .withColumn("st", F.expr(fold))
        .select(
            "event_type",
            F.size("vals").alias("n_points"),
            rnd(F.col("st.l"), 4).alias("level"),
            rnd(F.col("st.b"), 4).alias("trend"),
            rnd(F.element_at(F.col("st.s"), 1), 4).alias("seasonal_next"),
            rnd(
                F.col("st.l")
                + F.col("st.b")
                + F.element_at(F.col("st.s"), 1),
                4,
            ).alias("forecast_next"),
        )
    )


def _hw_oracle() -> str:
    a, b, g, p = HW_ALPHA, HW_BETA, HW_GAMMA, HW_PERIOD
    l_new = f"{a} * (vals[i + 1] - s[1]) + {1 - a} * (l + b)"
    return f"""
WITH RECURSIVE hourly AS (
  SELECT event_type,
         (CAST(floor(epoch(ts)) AS BIGINT) // 3600) * 3600 AS h,
         avg(value) AS v
  FROM events GROUP BY 1, 2
),
series AS (
  SELECT event_type, list(v ORDER BY h) AS vals
  FROM hourly GROUP BY event_type
),
steps AS (
  SELECT event_type, vals, {p} AS i,
         list_aggregate(vals[1:{p}], 'sum') / {p} AS l,
         CAST(0.0 AS DOUBLE) AS b,
         list_transform(vals[1:{p}],
                        x -> x - list_aggregate(vals[1:{p}], 'sum') / {p}) AS s
  FROM series WHERE len(vals) > {p}
  UNION ALL
  SELECT event_type, vals, i + 1,
         {l_new},
         {b} * (({l_new}) - l) + {1 - b} * b,
         list_concat(s[2:{p}],
                     [{g} * (vals[i + 1] - ({l_new})) + {1 - g} * s[1]])
  FROM steps WHERE i < len(vals)
)
SELECT event_type,
       CAST(len(vals) AS INTEGER) AS n_points,
       round(l + 1e-6, 4) AS level,
       round(b + 1e-6, 4) AS trend,
       round(s[1] + 1e-6, 4) AS seasonal_next,
       round(l + b + s[1] + 1e-6, 4) AS forecast_next
FROM steps WHERE i = len(vals)
"""


# --------------------------------------------------------------------------
# 2. Theil-Sen robust trend per key
# --------------------------------------------------------------------------

def theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THEIL-SEN ROBUST TREND per event type over the daily mean-value
    series: slope = the (lower) median of all pairwise slopes,
    intercept = the median of ``y - slope * x`` — the estimator that
    shrugs off up to ~29% outliers where the OLS fit of
    ``per_key_linear_trend`` follows them. Medians are DISCRETE order
    statistics on both engines (no interpolation, the cross-engine
    percentile hazard).

    Scale shape: the corpus reduces to one row per (key, day) in a
    combinable agg FIRST; the pairwise slope set is quadratic only in
    the bounded daily-series length (30 days -> 435 pairs per key),
    and per-key medians are rank-limited window picks."""
    ev = load(spark, sf_dir, "events")
    day = F.floor(F.col("ts").cast("double") / 86400).cast("long")
    daily = ev.groupBy("event_type", day.alias("d")).agg(
        F.avg("value").alias("v")
    )
    a = daily.select("event_type", F.col("d").alias("d1"), F.col("v").alias("v1"))
    c = daily.select("event_type", F.col("d").alias("d2"), F.col("v").alias("v2"))
    pairs = (
        a.join(c, "event_type")
        .where(F.col("d1") < F.col("d2"))
        .select(
            "event_type",
            "d1",
            "d2",
            (
                (F.col("v2") - F.col("v1"))
                / (F.col("d2") - F.col("d1")).cast("double")
            ).alias("slope"),
        )
    )
    ws = Window.partitionBy("event_type").orderBy("slope", "d1", "d2")
    wt = Window.partitionBy("event_type")
    med_slope = (
        pairs.select(
            "event_type",
            "slope",
            F.row_number().over(ws).alias("rn"),
            F.count("*").over(wt).alias("n_pairs"),
        )
        .where(F.col("rn") == F.floor((F.col("n_pairs") + 1) / 2))
        .select("event_type", F.col("slope").alias("ts_slope"), "n_pairs")
    )
    resid = daily.join(med_slope, "event_type").select(
        "event_type",
        "n_pairs",
        "ts_slope",
        (F.col("v") - F.col("ts_slope") * F.col("d")).alias("r"),
        "d",
    )
    wr = Window.partitionBy("event_type").orderBy("r", "d")
    return (
        resid.select(
            "event_type",
            "n_pairs",
            "ts_slope",
            "r",
            F.row_number().over(wr).alias("rn"),
            F.count("*").over(wt).alias("n_days"),
        )
        .where(F.col("rn") == F.floor((F.col("n_days") + 1) / 2))
        .select(
            "event_type",
            "n_days",
            "n_pairs",
            rnd("ts_slope", 6).alias("slope_per_day"),
            rnd("r", 4).alias("intercept"),
        )
    )


_THEILSEN_ORACLE = """
WITH daily AS (
  SELECT event_type, CAST(floor(epoch(ts) / 86400) AS BIGINT) AS d,
         avg(value) AS v
  FROM events GROUP BY 1, 2
),
pairs AS (
  SELECT a.event_type, a.d AS d1, b.d AS d2,
         (b.v - a.v) / CAST(b.d - a.d AS DOUBLE) AS slope
  FROM daily a JOIN daily b
    ON a.event_type = b.event_type AND a.d < b.d
),
med_slope AS (
  SELECT event_type, slope AS ts_slope, n_pairs FROM (
    SELECT event_type, slope,
           row_number() OVER (PARTITION BY event_type
                              ORDER BY slope, d1, d2) AS rn,
           count(*) OVER (PARTITION BY event_type) AS n_pairs
    FROM pairs
  ) WHERE rn = (n_pairs + 1) // 2
),
resid AS (
  SELECT d.event_type, m.n_pairs, m.ts_slope, d.v - m.ts_slope * d.d AS r, d.d
  FROM daily d JOIN med_slope m ON d.event_type = m.event_type
)
SELECT event_type, n_days, n_pairs,
       round(ts_slope + 1e-6, 6) AS slope_per_day,
       round(r + 1e-6, 4) AS intercept
FROM (
  SELECT event_type, CAST(n_pairs AS BIGINT) AS n_pairs, ts_slope, r,
         row_number() OVER (PARTITION BY event_type ORDER BY r, d) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n_days
  FROM resid
) WHERE rn = (n_days + 1) // 2
"""


# --------------------------------------------------------------------------
# 3. Benford first-digit audit
# --------------------------------------------------------------------------

def benford_law_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BENFORD'S-LAW first-digit audit of order totals: observed share
    of each leading digit 1..9 vs the Benford expectation
    ``log10(1 + 1/d)``, plus the chi-square distance as a constant
    column — the classic screen for fabricated or mis-scaled financial
    figures (TPC-H's uniform pricing is EXPECTED to fail it; the
    operator's value is the audit shape itself). All nine digits
    always emit, zero counts included (the vacuous-green lesson).

    Scale shape: one combinable hash agg to <=9 digit cells; the digit
    spine is a 9-row literal range; chi-square is a 1-row aggregate
    over the bounded cells joined back as a constant."""
    orders = load(spark, sf_dir, "orders")
    digit = F.substring(
        F.floor(F.col("o_totalprice")).cast("long").cast("string"), 1, 1
    ).cast("int")
    cells = orders.groupBy(digit.alias("digit")).agg(
        F.count("*").alias("n_orders")
    )
    spine = spark.range(1, 10).select(F.col("id").cast("int").alias("digit"))
    full = spine.join(cells, "digit", "left").select(
        "digit", F.coalesce("n_orders", F.lit(0)).alias("n_orders")
    )
    tot = Window.partitionBy()
    exp_share = F.log10(1.0 + 1.0 / F.col("digit"))
    with_shares = full.select(
        "digit",
        "n_orders",
        (F.col("n_orders") / F.sum("n_orders").over(tot)).alias("obs_raw"),
        exp_share.alias("exp_raw"),
        F.sum("n_orders").over(tot).alias("n_total"),
    )
    chi = with_shares.agg(
        F.max("n_total").alias("n_total"),
        F.sum(
            (F.col("obs_raw") - F.col("exp_raw"))
            * (F.col("obs_raw") - F.col("exp_raw"))
            / F.col("exp_raw")
        ).alias("chi_raw"),
    ).select(
        (F.col("n_total") * F.col("chi_raw")).alias("chi2_raw")
    )
    return with_shares.crossJoin(F.broadcast(chi)).select(
        "digit",
        "n_orders",
        rnd("obs_raw", 6).alias("obs_share"),
        rnd("exp_raw", 6).alias("benford_share"),
        rnd("chi2_raw", 4).alias("chi2"),
    )


_BENFORD_ORACLE = """
WITH cells AS (
  SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR),
                     1, 1) AS INTEGER) AS digit,
         count(*) AS n_orders
  FROM orders GROUP BY 1
),
full_t AS (
  SELECT t.digit, COALESCE(c.n_orders, 0) AS n_orders
  FROM (SELECT unnest(range(1, 10)) AS digit) t
  LEFT JOIN cells c ON c.digit = t.digit
),
shares AS (
  SELECT CAST(digit AS INTEGER) AS digit,
         CAST(n_orders AS BIGINT) AS n_orders,
         n_orders / CAST(sum(n_orders) OVER () AS DOUBLE) AS obs_raw,
         log10(1.0 + 1.0 / digit) AS exp_raw,
         CAST(sum(n_orders) OVER () AS BIGINT) AS n_total
  FROM full_t
),
chi AS (
  SELECT max(n_total)
         * sum((obs_raw - exp_raw) * (obs_raw - exp_raw) / exp_raw)
           AS chi2_raw
  FROM shares
)
SELECT s.digit, s.n_orders,
       round(s.obs_raw + 1e-6, 6) AS obs_share,
       round(s.exp_raw + 1e-6, 6) AS benford_share,
       round(c.chi2_raw + 1e-6, 4) AS chi2
FROM shares s CROSS JOIN chi c
"""


# --------------------------------------------------------------------------
# 4. Wald-Wolfowitz runs test per key
# --------------------------------------------------------------------------

def runs_test_randomness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WALD-WOLFOWITZ RUNS TEST per event type: dichotomize each value
    against the key's discrete median, count sign runs along event
    time, and compare with the expected run count under randomness
    (z-statistic) — too FEW runs means sticky/trending behavior, too
    MANY means oscillation; either way the i.i.d. assumption behind
    the engine's z-score alerting is violated for that key. The
    nonparametric companion to ``autocorrelation``.

    Scale shape: per-key median is a rank-limited window pick; the run
    count is one per-key ordered window pass (lag compare); the test
    statistic is per-key arithmetic on three counts. Everything is
    keyed — no global order."""
    ev = load(spark, sf_dir, "events").select(
        "event_type", "event_id", "ts", "value"
    )
    wm = Window.partitionBy("event_type").orderBy("value", "event_id")
    wt = Window.partitionBy("event_type")
    med = (
        ev.select(
            "event_type",
            "value",
            F.row_number().over(wm).alias("rn"),
            F.count("*").over(wt).alias("n"),
        )
        .where(F.col("rn") == F.floor((F.col("n") + 1) / 2))
        .select("event_type", F.col("value").alias("med"))
    )
    signed = ev.join(med, "event_type").select(
        "event_type",
        "event_id",
        "ts",
        (F.col("value") > F.col("med")).cast("int").alias("sgn"),
    )
    wo = Window.partitionBy("event_type").orderBy("ts", "event_id")
    runs = signed.select(
        "event_type",
        "sgn",
        F.when(
            F.lag("sgn").over(wo).isNull()
            | (F.lag("sgn").over(wo) != F.col("sgn")),
            1,
        )
        .otherwise(0)
        .alias("new_run"),
    )
    agg = runs.groupBy("event_type").agg(
        F.count("*").alias("n_obs"),
        F.sum("sgn").cast("long").alias("n_above"),
        F.sum(1 - F.col("sgn")).cast("long").alias("n_below"),
        F.sum("new_run").cast("long").alias("n_runs"),
    )
    n1 = F.col("n_above").cast("double")
    n2 = F.col("n_below").cast("double")
    mu = 2.0 * n1 * n2 / (n1 + n2) + 1.0
    var = (
        2.0
        * n1
        * n2
        * (2.0 * n1 * n2 - n1 - n2)
        / ((n1 + n2) * (n1 + n2) * (n1 + n2 - 1.0))
    )
    z = F.when(var > 0, (F.col("n_runs") - mu) / F.sqrt(var))
    return agg.select(
        "event_type",
        "n_obs",
        "n_above",
        "n_below",
        "n_runs",
        rnd(mu, 4).alias("expected_runs"),
        rnd(z, 4).alias("z_score"),
        (F.abs(z) > 1.96).alias("nonrandom_95"),
    )


_RUNS_ORACLE = """
WITH med AS (
  SELECT event_type, value AS med FROM (
    SELECT event_type, value,
           row_number() OVER (PARTITION BY event_type
                              ORDER BY value, event_id) AS rn,
           count(*) OVER (PARTITION BY event_type) AS n
    FROM events
  ) WHERE rn = (n + 1) // 2
),
signed AS (
  SELECT e.event_type, e.event_id, e.ts,
         CASE WHEN e.value > m.med THEN 1 ELSE 0 END AS sgn
  FROM events e JOIN med m ON e.event_type = m.event_type
),
runs AS (
  SELECT event_type, sgn,
         CASE WHEN lag(sgn) OVER (PARTITION BY event_type
                                  ORDER BY ts, event_id) IS NULL
                   OR lag(sgn) OVER (PARTITION BY event_type
                                     ORDER BY ts, event_id) != sgn
              THEN 1 ELSE 0 END AS new_run
  FROM signed
),
agg AS (
  SELECT event_type, count(*) AS n_obs,
         CAST(sum(sgn) AS BIGINT) AS n_above,
         CAST(sum(1 - sgn) AS BIGINT) AS n_below,
         CAST(sum(new_run) AS BIGINT) AS n_runs
  FROM runs GROUP BY event_type
)
SELECT event_type, n_obs, n_above, n_below, n_runs,
       round(2.0 * n_above * n_below / (n_above + n_below) + 1.0 + 1e-6, 4)
         AS expected_runs,
       round(CASE WHEN 2.0 * n_above * n_below
                       * (2.0 * n_above * n_below - n_above - n_below)
                       / (CAST(n_above + n_below AS DOUBLE)
                          * (n_above + n_below) * (n_above + n_below - 1.0)) > 0
                  THEN (n_runs - (2.0 * n_above * n_below / (n_above + n_below)
                                  + 1.0))
                       / sqrt(2.0 * n_above * n_below
                              * (2.0 * n_above * n_below - n_above - n_below)
                              / (CAST(n_above + n_below AS DOUBLE)
                                 * (n_above + n_below)
                                 * (n_above + n_below - 1.0)))
             END + 1e-6, 4) AS z_score,
       abs(CASE WHEN 2.0 * n_above * n_below
                     * (2.0 * n_above * n_below - n_above - n_below)
                     / (CAST(n_above + n_below AS DOUBLE)
                        * (n_above + n_below) * (n_above + n_below - 1.0)) > 0
                THEN (n_runs - (2.0 * n_above * n_below / (n_above + n_below)
                                + 1.0))
                     / sqrt(2.0 * n_above * n_below
                            * (2.0 * n_above * n_below - n_above - n_below)
                            / (CAST(n_above + n_below AS DOUBLE)
                               * (n_above + n_below)
                               * (n_above + n_below - 1.0)))
           END) > 1.96 AS nonrandom_95
FROM agg
"""


# --------------------------------------------------------------------------
# 5. vocabulary coverage curve (top-N token mass)
# --------------------------------------------------------------------------

#: top-N sizes swept by the coverage curve.
COVERAGE_NS = (10, 100, 1000)


def vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VOCABULARY COVERAGE CURVE: share of the corpus's total token
    occurrences covered by the top-N most frequent tokens, for N in
    ``COVERAGE_NS`` — the tokenizer-budget decision table (where the
    curve flattens is where growing the vocab stops paying; the
    complement of ``oov_rate``'s fixed-vocab view and ``zipf_fit``'s
    parametric fit). All N rows always emit.

    Scale shape: token counts are a combinable hash agg; the top-N
    head is a TakeOrdered (orderBy+limit — never a full sort) over the
    bounded max(N); ranks and the sweep run over that constant-size
    head with the 1-row total broadcast onto it."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.split("text", " ")).alias("tok")
    ).where(F.col("tok") != "")
    counts = toks.groupBy("tok").agg(F.count("*").alias("c"))
    total = counts.agg(
        F.sum("c").alias("total_tokens"), F.count("*").alias("vocab_size")
    )
    head = counts.orderBy(F.col("c").desc(), F.col("tok")).limit(
        max(COVERAGE_NS)
    )
    wr = Window.orderBy(F.col("c").desc(), F.col("tok"))
    ranked = head.select("c", F.row_number().over(wr).alias("rn"))
    fanned = ranked.select(
        "c",
        "rn",
        F.explode(
            F.array(*[F.lit(n) for n in COVERAGE_NS])
        ).alias("n_top"),
    ).where(F.col("rn") <= F.col("n_top"))
    cov = fanned.groupBy("n_top").agg(
        F.sum("c").alias("covered_tokens")
    )
    return cov.crossJoin(F.broadcast(total)).select(
        "n_top",
        "covered_tokens",
        "total_tokens",
        "vocab_size",
        rnd(
            F.col("covered_tokens") / F.col("total_tokens").cast("double"), 6
        ).alias("coverage_share"),
    )


_COVERAGE_ORACLE = f"""
WITH toks AS (
  SELECT t.tok
  FROM documents, unnest(string_split(text, ' ')) AS t(tok)
  WHERE t.tok != ''
),
counts AS (
  SELECT tok, count(*) AS c FROM toks GROUP BY tok
),
total AS (
  SELECT CAST(sum(c) AS BIGINT) AS total_tokens,
         count(*) AS vocab_size
  FROM counts
),
head AS (
  SELECT c FROM counts ORDER BY c DESC, tok LIMIT {max(COVERAGE_NS)}
),
ranked AS (
  SELECT c, row_number() OVER (ORDER BY c DESC) AS rn FROM head
),
cov AS (
  SELECT t.n_top, CAST(sum(r.c) AS BIGINT) AS covered_tokens
  FROM ranked r
  JOIN (VALUES {", ".join(f"({n})" for n in COVERAGE_NS)}) t(n_top)
    ON r.rn <= t.n_top
  GROUP BY t.n_top
)
SELECT cov.n_top, cov.covered_tokens, tt.total_tokens, tt.vocab_size,
       round(cov.covered_tokens / CAST(tt.total_tokens AS DOUBLE) + 1e-6, 6)
         AS coverage_share
FROM cov CROSS JOIN total tt
"""


# --------------------------------------------------------------------------
# 6. dedup token-savings ledger
# --------------------------------------------------------------------------

def dedup_token_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DEDUP TOKEN-SAVINGS LEDGER per source: total tokens scanned vs
    tokens remaining after exact dedup (one representative per distinct
    text), and the savings share — the number that turns a dedup pass
    into a training-compute budget line ("exact dedup alone cuts N% of
    this source's token bill"). Sits on top of ``exact_dedup``'s
    fingerprint machinery but reports the TOKEN economics, not the row
    counts.

    Scale shape: two stacked combinable hash aggregates (source x
    fingerprint, then source) — duplicate texts share a token count by
    construction, so no join against a keeper table is needed."""
    docs = load(spark, sf_dir, "documents")
    ntok = F.size(
        F.filter(F.split("text", " "), lambda t: t != "")
    ).cast("long")
    groups = docs.select(
        "source", F.md5("text").alias("fp"), ntok.alias("ntok")
    ).groupBy("source", "fp").agg(
        F.count("*").alias("n_copies"), F.max("ntok").alias("tok")
    )
    per_source = groups.groupBy("source").agg(
        F.sum("n_copies").alias("n_docs"),
        F.count("*").alias("n_unique_docs"),
        F.sum(F.col("n_copies") * F.col("tok")).alias("tokens_total"),
        F.sum("tok").alias("tokens_kept"),
    )
    return per_source.select(
        "source",
        "n_docs",
        "n_unique_docs",
        "tokens_total",
        "tokens_kept",
        rnd(
            1.0 - F.col("tokens_kept") / F.col("tokens_total").cast("double"),
            6,
        ).alias("savings_share"),
    )


_SAVINGS_ORACLE = """
WITH groups AS (
  SELECT source, md5(text) AS fp, count(*) AS n_copies,
         max(len(list_filter(string_split(text, ' '), t -> t != ''))) AS tok
  FROM documents GROUP BY 1, 2
),
per_source AS (
  SELECT source,
         CAST(sum(n_copies) AS BIGINT) AS n_docs,
         count(*) AS n_unique_docs,
         CAST(sum(n_copies * tok) AS BIGINT) AS tokens_total,
         CAST(sum(tok) AS BIGINT) AS tokens_kept
  FROM groups GROUP BY source
)
SELECT source, n_docs, n_unique_docs, tokens_total, tokens_kept,
       round(1.0 - tokens_kept / CAST(tokens_total AS DOUBLE) + 1e-6, 6)
         AS savings_share
FROM per_source
"""


register("holt_winters_seasonal", oracle=_hw_oracle(),
         tags=("prepared-r8",))(holt_winters_seasonal)
register("theil_sen_trend", oracle=_THEILSEN_ORACLE,
         tags=("prepared-r8",))(theil_sen_trend)
register("benford_law_check", oracle=_BENFORD_ORACLE,
         tags=("prepared-r8",))(benford_law_check)
register("runs_test_randomness", oracle=_RUNS_ORACLE,
         tags=("prepared-r8",))(runs_test_randomness)
register("vocab_coverage_curve", oracle=_COVERAGE_ORACLE,
         tags=("prepared-r8",))(vocab_coverage_curve)
register("dedup_token_savings", oracle=_SAVINGS_ORACLE,
         tags=("prepared-r8",))(dedup_token_savings)
