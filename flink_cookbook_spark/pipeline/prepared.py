"""Operators prepared in round 7, registered since round 8.

This module and its siblings ``prepared2`` ... ``prepared19`` register
their queries with ``register(...)`` like every other operator module,
under tag ``prepared-r8`` (``prepared-r10`` in ``prepared19``). Each is
a complete (query fn, DuckDB oracle) pair held by tests/test_oracle.py
to the same comparison the driver uses (row count + column set +
order-insensitive value hash); tests/test_prepared.py keeps the
semantic property tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flink_cookbook_spark.catalog import load
from flink_cookbook_spark.registry import register, rnd


# --------------------------------------------------------------------------
# 1. product-quantization reconstruction manifest (vector compression)
# --------------------------------------------------------------------------

def pq_reconstruction_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRODUCT QUANTIZATION compression manifest: each vector's PQ code
    is its pair of IMI half-cell ids (ca, cb) — log2(k'^2) bits instead
    of 64 floats — and the stored reconstruction is the concatenation of
    the two half-centroids. Emits per vector the code and the
    reconstruction MSE, i.e. the quality ledger a compressed vector
    store ships alongside its codes (the same role int8 scales play in
    ``embedding_index_manifest``, at a far higher compression ratio).

    Scale shape: reuses the memoized IMI index (training cost already
    paid; assignment map-only); reconstruction + MSE are zero-shuffle
    array math against the broadcast centroid row."""
    from flink_cookbook_spark.pipeline.similarity import (
        DIM, _imi_broadcast_row, _imi_cells,
    )

    cents, cells = _imi_cells(spark, sf_dir)
    ca, cb = cents
    cdf = _imi_broadcast_row(spark, ca, cb)
    rec_a = F.element_at(
        F.filter(F.col("ca_cents"), lambda c: c.cid == F.col("ca")), 1
    ).getField("cemb")
    rec_b = F.element_at(
        F.filter(F.col("cb_cents"), lambda c: c.cid == F.col("cb")), 1
    ).getField("cemb")
    recon = F.concat(rec_a, rec_b)
    mse = (
        F.aggregate(
            F.zip_with(F.col("emb"), recon, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        / F.lit(float(DIM))
    )
    return (
        cells.crossJoin(F.broadcast(cdf))
        .select("vec_id", "ca", "cb", rnd(mse, 8).alias("mse"))
    )


def _pq_oracle() -> str:
    """Reuses the IMI oracle's unrolled double-Lloyd chains verbatim
    (everything through the ``cells`` CTE; the probe CTEs ride along
    unused — DuckDB permits unreferenced CTEs), then reconstructs each
    vector as half-centroid concatenation and replays the MSE."""
    from flink_cookbook_spark.pipeline.similarity import (
        DIM, KMEANS_ITERS, _imi_oracle,
    )

    full = _imi_oracle()
    prefix = full[: full.index(",\ngrid AS")]
    fin = KMEANS_ITERS
    return (
        prefix
        + f""",
recon AS (
  SELECT cl.vec_id, cl.ca, cl.cb, cx.c || cy.c AS rv
  FROM cells cl
  JOIN cx{fin} cx ON cx.cid = cl.ca
  JOIN cy{fin} cy ON cy.cid = cl.cb
)
SELECT r.vec_id, r.ca, r.cb,
       round(list_sum(list_transform(range(1, {DIM + 1}),
             i -> (e.v[i] - r.rv[i]) * (e.v[i] - r.rv[i]))) / {DIM} + 1e-6, 8)
         AS mse
FROM recon r JOIN e ON e.vec_id = r.vec_id
"""
    )


# --------------------------------------------------------------------------
# 2. as-of join with freshness tolerance
# --------------------------------------------------------------------------

#: maximum allowed staleness (seconds) of the matched right row.
ASOF_TOLERANCE_S = 3600


def asof_tolerance_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join WITH A FRESHNESS TOLERANCE: each purchase is enriched
    with the user's latest prior-or-equal view ONLY when that view is at
    most ``ASOF_TOLERANCE_S`` old — an as-of match staler than the
    tolerance is reported as no-match (NULLs + fresh=false), the
    standard guard against attributing to long-dead context. Same
    single-shuffle union+sweep machinery as ``latest_baseline_join``
    (never a range join); the tolerance is a post-sweep projection, so
    the plan cost is identical to the untolerated join."""
    from flink_cookbook_spark.operators.metrics import asof_join

    ev = load(spark, sf_dir, "events")
    sec = F.floor(F.col("ts").cast("double")).cast("long")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "event_id", sec.alias("t"), "value"
    )
    views = (
        ev.where(F.col("event_type") == "view")
        .select("user_id", sec.alias("vt"), F.col("value").alias("view_value"))
        # dedupe exact-tie timestamps keeping MAX value, mirroring the
        # sweep's deterministic value-ordered tie-break
        .groupBy("user_id", "vt")
        .agg(F.max("view_value").alias("view_value"))
    )
    j = asof_join(
        purchases, views,
        key="user_id", left_ts="t", right_ts="vt",
        value_cols=["view_value"], how="left",
    )
    fresh = F.col("t") - F.col("vt_asof") <= ASOF_TOLERANCE_S
    return j.select(
        "user_id",
        "event_id",
        "t",
        rnd("value", 4).alias("value"),
        F.when(fresh, F.col("vt_asof")).alias("view_t_fresh"),
        rnd(F.when(fresh, F.col("view_value_asof")), 4).alias("view_value_fresh"),
        F.coalesce(fresh, F.lit(False)).alias("fresh"),
    )


_ASOF_TOLERANCE_ORACLE = f"""
WITH p AS (
  SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS t, value
  FROM events WHERE event_type = 'purchase'
),
v AS (
  SELECT user_id, vt, max(view_value) AS view_value FROM (
    SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS vt,
           value AS view_value
    FROM events WHERE event_type = 'view'
  ) GROUP BY user_id, vt
),
j AS (
  SELECT p.user_id, p.event_id, p.t, p.value, v.vt, v.view_value
  FROM p ASOF LEFT JOIN v
    ON p.user_id = v.user_id AND p.t >= v.vt
)
SELECT user_id, event_id, t,
       round(value + 1e-6, 4) AS value,
       CASE WHEN t - vt <= {ASOF_TOLERANCE_S} THEN vt END AS view_t_fresh,
       round(CASE WHEN t - vt <= {ASOF_TOLERANCE_S} THEN view_value END
             + 1e-6, 4) AS view_value_fresh,
       coalesce(t - vt <= {ASOF_TOLERANCE_S}, false) AS fresh
FROM j
"""


# --------------------------------------------------------------------------
# 3. stratified train/val/test split manifest
# --------------------------------------------------------------------------

#: md5-coin decile boundaries: 0-7 train, 8 val, 9 test.
SPLIT_TRAIN_UPTO = 8
SPLIT_VAL_UPTO = 9


def stratified_split_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic STRATIFIED train/val/test split manifest: every
    document lands in exactly one split via an md5 decile coin (stable
    under reshuffles, re-runs, and engine changes — never rand()), and
    the manifest reports per (lang, source) stratum how many documents
    each split holds and its share WITHIN the stratum — the ledger that
    makes an 80/10/10 split auditable per stratum rather than only in
    aggregate. One hash aggregate + a window over the tiny
    strata x splits result."""
    docs = load(spark, sf_dir, "documents")
    coin = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("split:"), F.col("doc_id").cast("string"))),
                1, 15,
            ), 16, 10,
        ).cast("long")
        % 10
    )
    split = (
        F.when(coin < SPLIT_TRAIN_UPTO, "train")
        .when(coin < SPLIT_VAL_UPTO, "val")
        .otherwise("test")
    )
    agg = docs.groupBy("lang", "source", split.alias("split")).agg(
        F.count("*").alias("n_docs")
    )
    w = Window.partitionBy("lang", "source")
    return agg.select(
        "lang", "source", "split", "n_docs",
        rnd(F.col("n_docs") / F.sum("n_docs").over(w), 6).alias("stratum_share"),
    )


_SPLIT_ORACLE = f"""
WITH coined AS (
  SELECT lang, source,
         CASE
           WHEN CAST('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 15)
                     AS BIGINT) % 10 < {SPLIT_TRAIN_UPTO} THEN 'train'
           WHEN CAST('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 15)
                     AS BIGINT) % 10 < {SPLIT_VAL_UPTO} THEN 'val'
           ELSE 'test' END AS split
  FROM documents
),
agg AS (
  SELECT lang, source, split, count(*) AS n_docs
  FROM coined GROUP BY 1, 2, 3
)
SELECT lang, source, split, n_docs,
       round(n_docs * 1.0 / sum(n_docs) OVER (PARTITION BY lang, source)
             + 1e-6, 6) AS stratum_share
FROM agg
"""


# --------------------------------------------------------------------------
# 4. approx-percentile accuracy contract
# --------------------------------------------------------------------------

#: Spark approx_percentile accuracy parameter: rank error <= n/accuracy.
APPROX_PCT_ACCURACY = 1000


def approx_percentile_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Accuracy CONTRACT for the approximate percentile sketch (the
    ``agg_approx_distinct`` pattern applied to quantiles): per event
    type, the exact p50/p95 next to booleans asserting that Spark's
    ``approx_percentile`` landed within its documented rank-error bound
    (<= n/accuracy, +1 for interpolation slack). The sketch value itself
    is implementation-defined and CANNOT be replayed by another engine —
    what IS cross-engine checkable is the exact percentiles and that the
    bound HELD, which is precisely the property production code relies
    on. Two aggregates over the same exchange: sketch + exact, then one
    rank-counting join of the 4-row result against the corpus."""
    ev = load(spark, sf_dir, "events").select("event_type", "value")
    g = ev.groupBy("event_type").agg(
        F.percentile_approx("value", [0.5, 0.95], APPROX_PCT_ACCURACY).alias("ap"),
        F.expr("percentile(value, array(0.5, 0.95))").alias("ex"),
        F.count("*").alias("n"),
    ).select(
        "event_type", "n",
        F.col("ap")[0].alias("a50"), F.col("ap")[1].alias("a95"),
        F.col("ex")[0].alias("e50"), F.col("ex")[1].alias("e95"),
    )
    ranks = (
        ev.join(F.broadcast(g), "event_type")
        .groupBy("event_type")
        .agg(
            F.sum((F.col("value") <= F.col("a50")).cast("long")).alias("r50"),
            F.sum((F.col("value") <= F.col("a95")).cast("long")).alias("r95"),
        )
    )
    out = g.join(ranks, "event_type")
    slack = F.col("n") / F.lit(APPROX_PCT_ACCURACY) + F.lit(1.0)
    return out.select(
        "event_type",
        "n",
        rnd("e50", 4).alias("exact_p50"),
        rnd("e95", 4).alias("exact_p95"),
        (F.abs(F.col("r50") - 0.5 * F.col("n")) <= slack).alias("p50_within_bound"),
        (F.abs(F.col("r95") - 0.95 * F.col("n")) <= slack).alias("p95_within_bound"),
    )


_APPROX_PCT_ORACLE = """
SELECT event_type,
       count(*) AS n,
       round(quantile_cont(value, 0.5) + 1e-6, 4) AS exact_p50,
       round(quantile_cont(value, 0.95) + 1e-6, 4) AS exact_p95,
       true AS p50_within_bound,
       true AS p95_within_bound
FROM events
GROUP BY event_type
"""


# --------------------------------------------------------------------------
# 5. language-ID confusion matrix
# --------------------------------------------------------------------------

def lang_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declared-vs-predicted language CONFUSION MATRIX over the marker
    language-ID heuristic (``lang_id_heuristic``): per (declared,
    predicted) cell the document count and its share of the declared
    class — the row-normalized matrix quality teams read before trusting
    a classifier to gate a corpus. Composes the per-doc classifier with
    one tiny aggregate + window."""
    from flink_cookbook_spark.pipeline.text import lang_id_heuristic

    per_doc = lang_id_heuristic(spark, sf_dir)
    agg = per_doc.groupBy("declared_lang", "predicted_lang").agg(
        F.count("*").alias("n_docs")
    )
    w = Window.partitionBy("declared_lang")
    return agg.select(
        "declared_lang", "predicted_lang", "n_docs",
        rnd(F.col("n_docs") / F.sum("n_docs").over(w), 6).alias("share_of_declared"),
    )


def _lang_confusion_oracle() -> str:
    from flink_cookbook_spark.pipeline.text import STOPWORDS

    stop_in = ", ".join(repr(s) for s in STOPWORDS)
    return f"""
WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS ts FROM documents),
m AS (
  SELECT lang AS declared_lang,
         CASE WHEN CAST(len(list_filter(ts, x -> x IN ({stop_in}))) AS DOUBLE)
                   / len(ts) >= 0.05
              THEN 'en' ELSE 'other' END AS predicted_lang
  FROM t
),
agg AS (
  SELECT declared_lang, predicted_lang, count(*) AS n_docs
  FROM m GROUP BY 1, 2
)
SELECT declared_lang, predicted_lang, n_docs,
       round(n_docs * 1.0 / sum(n_docs) OVER (PARTITION BY declared_lang)
             + 1e-6, 6) AS share_of_declared
FROM agg
"""




# --------------------------------------------------------------------------
# 6. MinHash band-configuration sensitivity sweep
# --------------------------------------------------------------------------

#: (bands, rows-per-band) configurations swept over the SAME 16
#: signatures: b x r = 16 throughout, trading precision against recall
#: (P(candidate) = 1 - (1 - j^r)^b).
BAND_CONFIGS = ((16, 1), (8, 2), (4, 4), (2, 8))


def minhash_band_sensitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH BANDING CALIBRATION (the minhash sibling of
    ``similarity_threshold_curve``): sweep (bands, rows) configurations
    over the already-memoized 16-hash signatures and report, per
    config, how many candidate pairs the band join would generate and
    how many TRUE near-dup pairs (exact Jaccard >= 0.5) it covers —
    the precision/recall dial operators turn before an LSH rollout.

    ONE distributed plan for the whole sweep (round-9 tier-2 bench
    finding: the per-config driver loop ran 8 separate actions, each
    re-deriving the band fan-out AND the exact inverted-index join —
    10.7 s warm; this form runs the self-join once over a config-tagged
    key space and aggregates per config): every config's band keys fan
    out of the one signature table tagged with the config's band count,
    the candidate join is a (config, band_key) equi-join (never
    corpus^2), and coverage is a left-join marker aggregated per
    config. True pairs come from the exact inverted-index join,
    computed once and memoized (``ngram_jaccard_pairs`` is also a
    registered query — same session reuse)."""
    from flink_cookbook_spark.pipeline._cache import memo_persist
    from flink_cookbook_spark.pipeline.dedup import (
        _minhash_signatures_df, ngram_jaccard_pairs,
    )

    sigs = _minhash_signatures_df(spark, sf_dir)
    true_pairs = memo_persist(
        spark,
        "band_true_pairs",
        sf_dir,
        lambda: ngram_jaccard_pairs(spark, sf_dir)
        .select("doc1", "doc2")
        .distinct(),
    )
    tagged = []
    for b, r in BAND_CONFIGS:
        for band in range(b):
            tagged.append(
                F.struct(
                    F.lit(b).alias("bands"),
                    F.concat_ws(
                        ":",
                        F.lit(band),
                        *[F.col(f"mh{band * r + i}") for i in range(r)],
                    ).alias("band_key"),
                )
            )
    banded = sigs.select(
        "doc_id", F.explode(F.array(*tagged)).alias("t")
    ).select("doc_id", "t.bands", "t.band_key")
    cands = (
        banded.alias("a")
        .join(
            banded.alias("b"),
            (F.col("a.bands") == F.col("b.bands"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.bands").alias("bands"),
            F.col("a.doc_id").alias("doc1"),
            F.col("b.doc_id").alias("doc2"),
        )
        .distinct()
    )
    marked = cands.join(
        true_pairs.withColumn("is_true", F.lit(1)), ["doc1", "doc2"], "left"
    )
    per = marked.groupBy("bands").agg(
        F.count("*").alias("n_candidate_pairs"),
        F.sum(F.coalesce(F.col("is_true"), F.lit(0)))
        .cast("long")
        .alias("n_true_covered"),
    )
    conf = spark.createDataFrame(
        list(BAND_CONFIGS), "bands int, rows_per_band int"
    )
    n_true = true_pairs.agg(F.count("*").alias("n_true_pairs"))
    out = (
        conf.join(per, "bands", "left")
        .crossJoin(F.broadcast(n_true))
        .select(
            "bands",
            "rows_per_band",
            F.coalesce("n_candidate_pairs", F.lit(0)).alias(
                "n_candidate_pairs"
            ),
            F.coalesce("n_true_covered", F.lit(0)).alias("n_true_covered"),
            "n_true_pairs",
        )
    )
    return out.select(
        "bands", "rows_per_band", "n_candidate_pairs", "n_true_covered",
        "n_true_pairs",
        rnd(
            F.col("n_true_covered")
            / F.greatest(F.col("n_true_pairs"), F.lit(1)).cast("double"),
            6,
        ).alias("recall"),
        rnd(
            F.col("n_true_covered")
            / F.greatest(F.col("n_candidate_pairs"), F.lit(1)).cast("double"),
            6,
        ).alias("precision"),
    )


def _band_sensitivity_oracle() -> str:
    from flink_cookbook_spark.pipeline.dedup import (
        _JACCARD_PAIRS_ORACLE, _SHINGLES_CTE, _minhash_sql_cols,
    )

    legs = []
    for b, r in BAND_CONFIGS:
        keys = []
        for band in range(b):
            parts = " || ':' || ".join(
                f"CAST(mh{band * r + i} AS VARCHAR)" for i in range(r)
            )
            keys.append(f"CAST({band} AS VARCHAR) || ':' || {parts}")
        keys_sql = ", ".join(keys)
        legs.append(f"""
SELECT {b} AS bands, {r} AS rows_per_band,
       (SELECT CAST(count(*) AS BIGINT) FROM (
          SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
          FROM (SELECT doc_id, unnest([{keys_sql}]) AS band_key FROM sigs) a
          JOIN (SELECT doc_id, unnest([{keys_sql}]) AS band_key FROM sigs) b
            ON a.band_key = b.band_key AND a.doc_id < b.doc_id)) AS n_candidate_pairs,
       (SELECT CAST(count(*) AS BIGINT) FROM (
          SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
          FROM (SELECT doc_id, unnest([{keys_sql}]) AS band_key FROM sigs) a
          JOIN (SELECT doc_id, unnest([{keys_sql}]) AS band_key FROM sigs) b
            ON a.band_key = b.band_key AND a.doc_id < b.doc_id) c
        JOIN tp ON c.doc1 = tp.doc1 AND c.doc2 = tp.doc2) AS n_true_covered""")
        # Spark's concat_ws on a leading int literal renders identically
        # (no trailing .0) because the band index is a string-cast int
    union = "\nUNION ALL\n".join(legs)
    # true pairs from the exact-Jaccard oracle, shingles CTE shared
    jacc_body = _JACCARD_PAIRS_ORACLE.split("WITH ", 1)[1]
    return f"""
WITH {jacc_body.split("SELECT doc1, doc2,", 1)[0].rstrip().rstrip(")").rstrip() + ")"} ,
tp AS (
  SELECT doc1, doc2 FROM inter
  JOIN sizes sa ON doc1 = sa.doc_id
  JOIN sizes sb ON doc2 = sb.doc_id
  WHERE n_common * 1.0 / (sa.n_shingles + sb.n_shingles - n_common) >= 0.5
),
sigs AS (
  SELECT doc_id,
         {_minhash_sql_cols()}
  FROM shingles GROUP BY doc_id
),
ntrue AS (SELECT CAST(count(*) AS BIGINT) AS n_true_pairs FROM tp),
cfg AS (
{union}
)
SELECT cfg.bands, cfg.rows_per_band, cfg.n_candidate_pairs,
       cfg.n_true_covered, nt.n_true_pairs,
       round(cfg.n_true_covered * 1.0 / greatest(nt.n_true_pairs, 1) + 1e-6, 6)
         AS recall,
       round(cfg.n_true_covered * 1.0 / greatest(cfg.n_candidate_pairs, 1) + 1e-6, 6)
         AS precision
FROM cfg CROSS JOIN ntrue nt
"""


# --------------------------------------------------------------------------
# 7. out-of-vocabulary rate per source
# --------------------------------------------------------------------------

#: vocabulary = the top-N corpus tokens by frequency (ties: token asc).
OOV_VOCAB_TOP = 500


def oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OUT-OF-VOCABULARY rate per source: build the corpus top-N token
    vocabulary (frequency-ranked, deterministic tie-break), then report
    per source what share of token OCCURRENCES falls outside it — the
    coverage number that decides whether a tokenizer's vocab suits a
    new source before training on it. The vocabulary join is
    deliberately UNHINTED (top-N of a corpus-derived aggregate — the
    repo's forced-broadcast policy): AQE broadcasts it at fixture scale
    and keeps the shuffled join at high SF."""
    docs = load(spark, sf_dir, "documents")
    tokens = docs.select(
        "source", F.explode(F.split("text", " ")).alias("token")
    )
    # top-N via orderBy().limit() — Spark plans TakeOrderedAndProject
    # (per-partition top-N + k-row driver merge), never a
    # single-partition ranking window over the whole vocabulary
    vocab = (
        tokens.groupBy("token").agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("token").asc())
        .limit(OOV_VOCAB_TOP)
        .select("token")
    )
    joined = tokens.join(
        vocab.withColumn("in_vocab", F.lit(1)), "token", "left"
    )
    return joined.groupBy("source").agg(
        F.count("*").alias("n_tokens"),
        F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_oov"),
        rnd(
            F.sum(F.when(F.col("in_vocab").isNull(), 1.0).otherwise(0.0))
            / F.count("*"),
            6,
        ).alias("oov_share"),
    )


_OOV_ORACLE = f"""
WITH tokens AS (
  SELECT source, unnest(string_split(text, ' ')) AS token FROM documents
),
vocab AS (
  SELECT token FROM (
    SELECT token, count(*) AS n,
           row_number() OVER (ORDER BY count(*) DESC, token) AS rk
    FROM tokens GROUP BY token)
  WHERE rk <= {OOV_VOCAB_TOP}
)
SELECT t.source,
       count(*) AS n_tokens,
       CAST(sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
       round(sum(CASE WHEN v.token IS NULL THEN 1.0 ELSE 0.0 END) / count(*)
             + 1e-6, 6) AS oov_share
FROM tokens t LEFT JOIN vocab v ON t.token = v.token
GROUP BY t.source
"""


# --------------------------------------------------------------------------
# 8. embedding centroid drift (distribution shift in vector space)
# --------------------------------------------------------------------------

def embedding_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EMBEDDING-SPACE DRIFT monitor: per label, the L2 shift between
    the class centroid computed on the even-id half of the corpus and
    the odd-id half — the vector-space analogue of ``psi_value_drift``
    (a healthy static corpus shows near-zero shift; a changed encoder
    or data mix moves centroids). One posexplode + ONE hash aggregate
    with conditional means per (label, dim) — map-side combinable,
    shuffle volume labels x dims regardless of corpus size (the
    ``label_centroids`` shape) — then a labels-sized rollup."""
    emb = load(spark, sf_dir, "embeddings").select(
        "label",
        (F.col("vec_id") % 2 == 0).alias("even"),
        F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "val"),
    )
    per_dim = emb.groupBy("label", "pos").agg(
        F.avg(F.when(F.col("even"), F.col("val"))).alias("ma"),
        F.avg(F.when(~F.col("even"), F.col("val"))).alias("mb"),
    )
    counts = (
        load(spark, sf_dir, "embeddings")
        .groupBy("label")
        .agg(
            F.sum((F.col("vec_id") % 2 == 0).cast("long")).alias("n_even"),
            F.sum((F.col("vec_id") % 2 != 0).cast("long")).alias("n_odd"),
        )
    )
    drift = per_dim.groupBy("label").agg(
        F.sqrt(F.sum(F.pow(F.col("ma") - F.col("mb"), F.lit(2.0)))).alias("l2_u"),
        F.max(F.abs(F.col("ma") - F.col("mb"))).alias("maxdim_u"),
    )
    return drift.join(counts, "label").select(
        "label", "n_even", "n_odd",
        rnd("l2_u", 6).alias("l2_shift"),
        rnd("maxdim_u", 6).alias("max_dim_shift"),
    )


_CENTROID_DRIFT_ORACLE = f"""
WITH e AS (
  SELECT label, vec_id % 2 = 0 AS even,
         CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings
),
per_dim AS (
  SELECT label, g.i AS pos,
         avg(CASE WHEN even THEN v[g.i] END) AS ma,
         avg(CASE WHEN NOT even THEN v[g.i] END) AS mb
  FROM e CROSS JOIN generate_series(1, 64) AS g(i)
  GROUP BY 1, 2
),
counts AS (
  SELECT label,
         CAST(sum(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_even,
         CAST(sum(CASE WHEN vec_id % 2 != 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_odd
  FROM embeddings GROUP BY label
),
drift AS (
  SELECT label,
         sqrt(sum((ma - mb) * (ma - mb))) AS l2_u,
         max(abs(ma - mb)) AS maxdim_u
  FROM per_dim GROUP BY label
)
SELECT d.label, c.n_even, c.n_odd,
       round(d.l2_u + 1e-6, 6) AS l2_shift,
       round(d.maxdim_u + 1e-6, 6) AS max_dim_shift
FROM drift d JOIN counts c ON d.label = c.label
"""


# --------------------------------------------------------------------------
# 9. near-dup cluster size histogram
# --------------------------------------------------------------------------

def dedup_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution of NEAR-DUP CLUSTER SIZES — the one-line answer to
    "how duplicated is this corpus": per cluster size, how many clusters
    exist, how many documents they hold, and the share of the corpus
    sitting in clusters of that size (singletons = unique docs; the
    heavy tail = template/boilerplate families worth hand-review).
    Composes the label-propagation clustering (memoized edges) with two
    tiny aggregates — post-cluster cardinality, never corpus rows."""
    from flink_cookbook_spark.pipeline.dedup import dedup_clusters

    cl = dedup_clusters(spark, sf_dir)
    sizes = cl.groupBy("cluster_id").agg(F.count("*").alias("cluster_size"))
    agg = sizes.groupBy("cluster_size").agg(F.count("*").alias("n_clusters"))
    w = Window.partitionBy()
    return agg.select(
        "cluster_size",
        "n_clusters",
        (F.col("cluster_size") * F.col("n_clusters")).alias("n_docs"),
        rnd(
            (F.col("cluster_size") * F.col("n_clusters"))
            / F.sum(F.col("cluster_size") * F.col("n_clusters")).over(w),
            6,
        ).alias("corpus_share"),
    )


def _cluster_histogram_oracle() -> str:
    """Wraps the registered recursive label-propagation oracle as a
    subquery (DuckDB permits WITH RECURSIVE inside FROM) and aggregates
    cluster sizes on top — the composed query stays hash-exact against
    the composed Spark plan."""
    from flink_cookbook_spark.registry import get_query

    inner = get_query("dedup_clusters").oracle
    return f"""
SELECT cluster_size, n_clusters,
       cluster_size * n_clusters AS n_docs,
       round((cluster_size * n_clusters) * 1.0
             / sum(cluster_size * n_clusters) OVER () + 1e-6, 6) AS corpus_share
FROM (
  SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters FROM (
    SELECT cluster_id, count(*) AS cluster_size
    FROM ({inner})
    GROUP BY cluster_id)
  GROUP BY cluster_size)
"""


# --------------------------------------------------------------------------
# 10. session-gap threshold calibration
# --------------------------------------------------------------------------

#: candidate inactivity gaps (seconds) swept by the calibration.
SESSION_GAP_CANDIDATES = (300, 600, 900, 1800, 3600)


def session_gap_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SESSIONIZATION GAP CALIBRATION (the session sibling of
    ``similarity_threshold_curve``): sweep candidate inactivity
    thresholds over the per-user inter-event gap distribution and
    report, per candidate, how many session breaks it would cut and the
    resulting session count / mean session length — the elbow picks the
    production gap (the fixed 30-min default is a guess until this
    table exists). One keyed window pass computes every gap; the sweep
    is conditional aggregation (one combinable row, then an explode),
    so all candidates always emit."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts")
    t = F.col("ts").cast("double")
    gaps = ev.select(
        "user_id",
        (t - F.lag(t).over(w)).alias("gap"),
    )
    base = gaps.agg(
        F.count("*").alias("n_events"),
        F.count_distinct("user_id").alias("n_users"),
        *[
            F.coalesce(
                F.sum((F.col("gap") > F.lit(float(g))).cast("long")), F.lit(0)
            ).alias(f"b{i}")
            for i, g in enumerate(SESSION_GAP_CANDIDATES)
        ],
    )
    swept = base.select(
        "n_events",
        "n_users",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(g).alias("g"), F.col(f"b{i}").alias("nb")
                    )
                    for i, g in enumerate(SESSION_GAP_CANDIDATES)
                ]
            )
        ).alias("s"),
    )
    n_sessions = F.col("s.nb") + F.col("n_users")
    return swept.select(
        F.col("s.g").alias("gap_threshold_s"),
        F.col("s.nb").alias("n_breaks"),
        n_sessions.alias("n_sessions"),
        rnd(
            F.col("n_events") / F.greatest(n_sessions, F.lit(1)).cast("double"), 4
        ).alias("avg_session_events"),
    )


_SESSION_GAP_ORACLE = f"""
WITH g AS (
  SELECT user_id,
         epoch(ts) - lag(epoch(ts)) OVER (PARTITION BY user_id ORDER BY ts) AS gap
  FROM events
),
base AS (
  SELECT count(*) AS n_events, count(DISTINCT user_id) AS n_users FROM g
),
th AS (SELECT unnest([{", ".join(str(g) for g in SESSION_GAP_CANDIDATES)}]) AS gap_threshold_s)
SELECT th.gap_threshold_s,
       CAST(coalesce(sum(CASE WHEN g.gap > th.gap_threshold_s THEN 1 ELSE 0 END), 0)
            AS BIGINT) AS n_breaks,
       CAST(coalesce(sum(CASE WHEN g.gap > th.gap_threshold_s THEN 1 ELSE 0 END), 0)
            + max(b.n_users) AS BIGINT) AS n_sessions,
       round(max(b.n_events) * 1.0
             / greatest(coalesce(sum(CASE WHEN g.gap > th.gap_threshold_s
                                          THEN 1 ELSE 0 END), 0) + max(b.n_users), 1)
             + 1e-6, 4) AS avg_session_events
FROM th CROSS JOIN base b LEFT JOIN g ON true
GROUP BY th.gap_threshold_s
"""


# --------------------------------------------------------------------------
# 11. burstiness (Fano factor) per user
# --------------------------------------------------------------------------

def burstiness_fano(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user BURSTINESS via the Fano factor of hourly event counts
    (variance / mean over the user's OBSERVED hours): ~1 = Poisson-like
    traffic, >>1 = bursty sessions, <1 = regular/heartbeat — the
    behavioral fingerprint feeding bot detection and sampling-rate
    decisions. Two stacked hash aggregates (user x hour counts, then
    per-user moments); NULL below two observed hours (variance
    undefined), both engines via NULL propagation."""
    ev = load(spark, sf_dir, "events")
    hour = (F.floor(F.col("ts").cast("double") / 3600) * 3600).cast("long")
    hourly = ev.groupBy("user_id", hour.alias("hr")).agg(
        F.count("*").alias("n")
    )
    return hourly.groupBy("user_id").agg(
        F.count("*").alias("n_hours"),
        rnd(F.avg("n"), 4).alias("mean_hourly"),
        rnd(F.var_samp("n") / F.avg("n"), 4).alias("fano"),
    )


_BURSTINESS_ORACLE = """
WITH hourly AS (
  SELECT user_id,
         CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS hr,
         count(*) AS n
  FROM events GROUP BY 1, 2
)
SELECT user_id,
       count(*) AS n_hours,
       round(avg(n) + 1e-6, 4) AS mean_hourly,
       round(var_samp(n) / avg(n) + 1e-6, 4) AS fano
FROM hourly GROUP BY user_id
"""


# --------------------------------------------------------------------------
# 12. event-time lateness profile (watermark sizing)
# --------------------------------------------------------------------------

def lateness_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EVENT-TIME LATENESS PROFILE — the number behind every
    ``withWatermark`` duration: within each key's ARRIVAL order
    (event_id), how far does an event's timestamp lag the maximum
    event time already seen for that key? Reports per event type the
    out-of-order share and the lateness quantiles; the production
    watermark is read off the tail (p95/max) rather than guessed.
    One keyed window pass (running max over arrival order) + one hash
    aggregate — per-key, so the profile parallelizes by key instead of
    serializing through a global arrival order."""
    ev = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    t = F.col("ts").cast("double")
    late = ev.select(
        "event_type",
        F.greatest(F.max(t).over(w) - t, F.lit(0.0)).alias("lateness"),
    ).where(F.col("lateness").isNotNull())
    return late.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum((F.col("lateness") > 0).cast("long")).alias("n_late"),
        rnd(
            F.sum((F.col("lateness") > 0).cast("double")) / F.count("*"), 6
        ).alias("late_share"),
        rnd(F.expr("percentile(lateness, 0.95)"), 2).alias("p95_lateness_s"),
        rnd(F.max("lateness"), 2).alias("max_lateness_s"),
    )


_LATENESS_ORACLE = """
WITH late AS (
  SELECT event_type,
         greatest(
           max(epoch(ts)) OVER (PARTITION BY user_id ORDER BY event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           - epoch(ts), 0.0) AS lateness
  FROM events
)
SELECT event_type,
       count(*) AS n_events,
       CAST(sum(CASE WHEN lateness > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
       round(sum(CASE WHEN lateness > 0 THEN 1.0 ELSE 0.0 END) / count(*)
             + 1e-6, 6) AS late_share,
       round(quantile_cont(lateness, 0.95) + 1e-6, 2) AS p95_lateness_s,
       round(max(lateness) + 1e-6, 2) AS max_lateness_s
FROM late
WHERE lateness IS NOT NULL
GROUP BY event_type
"""


# --------------------------------------------------------------------------
# 13. curation filter funnel report
# --------------------------------------------------------------------------

#: the pipeline's rule order (cheap dedup first), mirrored from
#: ``corpus_filter_pipeline``'s first-failing-reason CASE.
FUNNEL_STAGES = (
    (1, "duplicate"),
    (2, "too_short"),
    (3, "low_quality"),
    (4, "non_en"),
)


def filter_funnel_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CURATION FUNNEL: per filter stage, how many documents the rule
    drops and how many survive after it — the stage-attribution view of
    ``corpus_filter_pipeline``'s per-doc verdicts (a pipeline owner reads
    this table, not 500k verdicts, to see which rule is doing the work).
    Every stage ALWAYS emits (the threshold list is exploded from a
    literal and left-joined to the drop counts — the
    ``similarity_threshold_curve`` lesson), so a rule that drops nothing
    shows a 0, never a missing row. Composes the registered one-shuffle
    filter with two tiny aggregates over a 4-row result."""
    from flink_cookbook_spark.pipeline.text import corpus_filter_pipeline

    verdicts = corpus_filter_pipeline(spark, sf_dir)
    counts = (
        verdicts.where(F.col("reason") != "keep")
        .groupBy("reason")
        .agg(F.count("*").alias("n_dropped_u"))
    )
    stages = verdicts.agg(F.count("*").alias("n_total")).select(
        "n_total",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("stage"), F.lit(r).alias("reason")
                    )
                    for i, r in FUNNEL_STAGES
                ]
            )
        ).alias("s"),
    ).select("n_total", "s.stage", "s.reason")
    w = Window.orderBy("stage").rowsBetween(Window.unboundedPreceding, 0)
    joined = stages.join(counts, "reason", "left").select(
        "stage",
        "reason",
        F.coalesce(F.col("n_dropped_u"), F.lit(0).cast("long")).alias("n_dropped"),
        "n_total",
    )
    return joined.select(
        "stage",
        "reason",
        "n_dropped",
        (F.col("n_total") - F.sum("n_dropped").over(w)).alias("n_remaining"),
    )


def _funnel_oracle() -> str:
    from flink_cookbook_spark.registry import get_query

    inner = get_query("corpus_filter_pipeline").oracle
    values = ", ".join(f"({i}, '{r}')" for i, r in FUNNEL_STAGES)
    return f"""
WITH v AS ({inner}),
counts AS (
  SELECT reason, count(*) AS n FROM v WHERE reason != 'keep' GROUP BY reason
),
total AS (SELECT count(*) AS n_total FROM v),
stages AS (SELECT * FROM (VALUES {values}) s(stage, reason))
SELECT CAST(s.stage AS INTEGER) AS stage, s.reason,
       CAST(coalesce(c.n, 0) AS BIGINT) AS n_dropped,
       CAST(t.n_total - sum(coalesce(c.n, 0)) OVER (ORDER BY s.stage)
            AS BIGINT) AS n_remaining
FROM stages s LEFT JOIN counts c USING (reason) CROSS JOIN total t
"""


# --------------------------------------------------------------------------
# 14. temperature-scaled source mixture weights
# --------------------------------------------------------------------------

#: sampling temperature: q_i = p_i^alpha / sum(p^alpha). alpha=1 keeps the
#: natural mix; alpha->0 flattens toward uniform (the multilingual-training
#: upweighting of small sources).
TEMPERATURE_ALPHA = 0.7


def temperature_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TEMPERATURE-SCALED data-mixing weights: each source's natural
    token share p is re-weighted to q = p^alpha / sum(p^alpha), the
    standard recipe for boosting under-represented sources without
    discarding the big ones (alpha = 0.7 here). Emits per source the raw
    and scaled shares plus the boost factor q/p — the numbers a mixing
    config is written from (the prescriptive sibling of the descriptive
    ``source_mixture_weights``). One hash aggregate to sources-cardinality,
    then window math over that tiny result."""
    docs = load(spark, sf_dir, "documents")
    per_src = docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(F.split("text", " "))).alias("n_tokens"),
    )
    w = Window.partitionBy()
    p = F.col("n_tokens") / F.sum("n_tokens").over(w)
    shared = per_src.select(
        "source", "n_docs", "n_tokens", p.alias("p"),
        F.pow(p, F.lit(TEMPERATURE_ALPHA)).alias("pa"),
    )
    q = F.col("pa") / F.sum("pa").over(w)
    return shared.select(
        "source",
        "n_docs",
        "n_tokens",
        rnd("p", 6).alias("raw_share"),
        rnd(q, 6).alias("temp_share"),
        rnd(q / F.col("p"), 4).alias("boost"),
    )


_TEMPERATURE_ORACLE = f"""
WITH per_src AS (
  SELECT source, count(*) AS n_docs,
         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
),
shared AS (
  SELECT source, n_docs, n_tokens,
         n_tokens * 1.0 / sum(n_tokens) OVER () AS p,
         pow(n_tokens * 1.0 / sum(n_tokens) OVER (), {TEMPERATURE_ALPHA}) AS pa
  FROM per_src
)
SELECT source, n_docs, n_tokens,
       round(p + 1e-6, 6) AS raw_share,
       round(pa / sum(pa) OVER () + 1e-6, 6) AS temp_share,
       round((pa / sum(pa) OVER ()) / p + 1e-6, 4) AS boost
FROM shared
"""


# --------------------------------------------------------------------------
# 15. contrastive pair mining (hard positives / hard negatives)
# --------------------------------------------------------------------------

#: sample cap: the pair join is sample^2, so the cap bounds it at ~65k
#: pairs no matter the corpus size (the MAX_TRAIN_VECTORS pattern).
CONTRAST_MAX_VECTORS = 256


def contrastive_pair_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONTRASTIVE PAIR MINING over a capped md5 hash-sample of the
    labeled embedding corpus: per sampled anchor, the HARD POSITIVE
    (same label, LOWEST cosine — the pair a metric-learning loss gains
    most from pulling together) and the HARD NEGATIVE (different label,
    HIGHEST cosine — the pair it must push apart). Anchors whose label
    has no second sampled member emit NULL positives (both engines by
    NULL propagation). The pair join is sample x sample with the small
    side broadcast — bounded by CONTRAST_MAX_VECTORS^2 by construction,
    never corpus^2 (the ``similarity_threshold_curve`` fix, applied from
    birth); ranking is two bounded window passes with (cosine, vec_id)
    tie-breaks, and per-vector norms are hoisted above the join."""
    from flink_cookbook_spark.pipeline.similarity import (
        _dot, _emb_double, _norm,
    )

    emb = _emb_double(load(spark, sf_dir, "embeddings"))
    n = emb.count()
    mod = max(1, n // CONTRAST_MAX_VECTORS)
    coin = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("contrast:"), F.col("vec_id").cast("string"))),
            1, 15,
        ), 16, 10,
    ).cast("long")
    s = emb.where(coin % mod == 0).select(
        "vec_id", "label", "emb", _norm(F.col("emb")).alias("nrm")
    )
    a = s.select(
        F.col("vec_id").alias("aid"), F.col("label").alias("al"),
        F.col("emb").alias("av"), F.col("nrm").alias("an"),
    )
    b = s.select(
        F.col("vec_id").alias("bid"), F.col("label").alias("bl"),
        F.col("emb").alias("bv"), F.col("nrm").alias("bn"),
    )
    pairs = (
        a.crossJoin(F.broadcast(b))
        .where(F.col("aid") != F.col("bid"))
        .select(
            "aid", "al", "bid", "bl",
            (_dot(F.col("av"), F.col("bv")) / (F.col("an") * F.col("bn"))).alias("cos"),
        )
    )
    w_neg = Window.partitionBy("aid").orderBy(
        F.col("cos").desc(), F.col("bid").asc()
    )
    w_pos = Window.partitionBy("aid").orderBy(
        F.col("cos").asc(), F.col("bid").asc()
    )
    neg = (
        pairs.where(F.col("al") != F.col("bl"))
        .withColumn("rk", F.row_number().over(w_neg))
        .where(F.col("rk") == 1)
        .select("aid", F.col("bid").alias("hard_neg_id"),
                rnd("cos", 6).alias("hard_neg_cos"))
    )
    pos = (
        pairs.where(F.col("al") == F.col("bl"))
        .withColumn("rk", F.row_number().over(w_pos))
        .where(F.col("rk") == 1)
        .select("aid", F.col("bid").alias("hard_pos_id"),
                rnd("cos", 6).alias("hard_pos_cos"))
    )
    return (
        s.select(F.col("vec_id"), F.col("label"))
        .join(pos, F.col("vec_id") == pos.aid, "left").drop("aid")
        .join(neg, F.col("vec_id") == neg.aid, "left").drop("aid")
    )


_CONTRASTIVE_ORACLE = f"""
WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
m AS (SELECT greatest(1, count(*) // {CONTRAST_MAX_VECTORS}) AS md FROM e),
s AS (
  SELECT vec_id, label, v, sqrt(list_dot_product(v, v)) AS nrm
  FROM e, m
  WHERE CAST('0x' || substr(md5('contrast:' || CAST(vec_id AS VARCHAR)), 1, 15)
             AS BIGINT) % m.md = 0
),
p AS (
  SELECT a.vec_id AS aid, a.label AS al, b.vec_id AS bid, b.label AS bl,
         list_dot_product(a.v, b.v) / (a.nrm * b.nrm) AS cos
  FROM s a JOIN s b ON a.vec_id != b.vec_id
),
neg AS (
  SELECT aid, bid, cos,
         row_number() OVER (PARTITION BY aid ORDER BY cos DESC, bid ASC) AS rk
  FROM p WHERE al != bl
),
pos AS (
  SELECT aid, bid, cos,
         row_number() OVER (PARTITION BY aid ORDER BY cos ASC, bid ASC) AS rk
  FROM p WHERE al = bl
)
SELECT s.vec_id, s.label,
       pos.bid AS hard_pos_id, round(pos.cos + 1e-6, 6) AS hard_pos_cos,
       neg.bid AS hard_neg_id, round(neg.cos + 1e-6, 6) AS hard_neg_cos
FROM s
LEFT JOIN (SELECT * FROM pos WHERE rk = 1) pos ON pos.aid = s.vec_id
LEFT JOIN (SELECT * FROM neg WHERE rk = 1) neg ON neg.aid = s.vec_id
"""


# --------------------------------------------------------------------------
# 16. per-event-type arrival rate profile (capacity planning)
# --------------------------------------------------------------------------

def event_rate_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ARRIVAL-RATE PROFILE per event type: events-per-minute mean, p95,
    peak, and the peak-to-mean ratio — the table stream capacity
    (shuffle partitions, state-store sizing, maxOffsetsPerTrigger) is
    provisioned from, and the per-type complement of the per-user
    ``burstiness_fano``. Two stacked hash aggregates: (type, minute)
    counts, then per-type moments over the minute series."""
    ev = load(spark, sf_dir, "events")
    minute = (F.floor(F.col("ts").cast("double") / 60) * 60).cast("long")
    per_min = ev.groupBy("event_type", minute.alias("mn")).agg(
        F.count("*").alias("n")
    )
    return per_min.groupBy("event_type").agg(
        F.count("*").alias("n_minutes"),
        F.sum("n").alias("n_events"),
        rnd(F.avg("n"), 4).alias("mean_per_min"),
        rnd(F.expr("percentile(n, 0.95)"), 4).alias("p95_per_min"),
        F.max("n").alias("peak_per_min"),
        rnd(F.max("n") / F.avg("n"), 4).alias("peak_to_mean"),
    )


_EVENT_RATE_ORACLE = """
WITH per_min AS (
  SELECT event_type,
         CAST(floor(epoch(ts) / 60) * 60 AS BIGINT) AS mn,
         count(*) AS n
  FROM events GROUP BY 1, 2
)
SELECT event_type,
       count(*) AS n_minutes,
       CAST(sum(n) AS BIGINT) AS n_events,
       round(avg(n) + 1e-6, 4) AS mean_per_min,
       round(quantile_cont(n, 0.95) + 1e-6, 4) AS p95_per_min,
       max(n) AS peak_per_min,
       round(max(n) / avg(n) + 1e-6, 4) AS peak_to_mean
FROM per_min GROUP BY event_type
"""


# --------------------------------------------------------------------------
# 17. Zipf rank-frequency fit per source (corpus health)
# --------------------------------------------------------------------------

#: ranks entering the log-log fit (the Zipf head; the tail is Heaps'-law
#: territory covered by ``vocab_growth``).
ZIPF_TOP_N = 100


def zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ZIPF'S-LAW FIT per source: the log-log slope of the token
    rank-frequency head (natural text sits near -1; template/boilerplate
    corpora flatten, spam steepens) plus fit r^2 and the top-token share
    — a one-row-per-source corpus-health fingerprint. Token counts are
    one hash aggregate; ranking is a top-N-per-group window the
    optimizer runs as WindowGroupLimit (never a full vocab sort); the
    regression consumes sources x ZIPF_TOP_N rows via the single-pass
    regr_* moment aggregates (the ``per_key_linear_trend`` pattern)."""
    docs = load(spark, sf_dir, "documents")
    counts = (
        docs.select("source", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count("*").alias("cnt"))
    )
    totals = counts.groupBy("source").agg(
        F.sum("cnt").alias("total_tokens"),
        F.count("*").alias("vocab_size"),
    )
    w = Window.partitionBy("source").orderBy(
        F.col("cnt").desc(), F.col("tok").asc()
    )
    head = counts.withColumn("rk", F.row_number().over(w)).where(
        F.col("rk") <= ZIPF_TOP_N
    )
    fit = head.groupBy("source").agg(
        F.count("*").alias("n_ranks"),
        rnd(F.regr_slope(F.log("cnt"), F.log("rk")), 6).alias("zipf_slope"),
        rnd(F.regr_r2(F.log("cnt"), F.log("rk")), 6).alias("fit_r2"),
        F.max(F.when(F.col("rk") == 1, F.col("cnt"))).alias("top_cnt"),
    )
    return fit.join(totals, "source").select(
        "source", "vocab_size", "n_ranks", "zipf_slope", "fit_r2",
        rnd(F.col("top_cnt") / F.col("total_tokens"), 6).alias("top_token_share"),
    )


_ZIPF_ORACLE = f"""
WITH counts AS (
  SELECT source, t.tok, count(*) AS cnt
  FROM documents, unnest(string_split(text, ' ')) AS t(tok)
  GROUP BY source, t.tok
),
totals AS (
  SELECT source, CAST(sum(cnt) AS BIGINT) AS total_tokens,
         count(*) AS vocab_size
  FROM counts GROUP BY source
),
head AS (
  SELECT source, cnt,
         row_number() OVER (PARTITION BY source
                            ORDER BY cnt DESC, tok ASC) AS rk
  FROM counts QUALIFY rk <= {ZIPF_TOP_N}
),
fit AS (
  SELECT source, count(*) AS n_ranks,
         round(regr_slope(ln(cnt), ln(rk)) + 1e-6, 6) AS zipf_slope,
         round(regr_r2(ln(cnt), ln(rk)) + 1e-6, 6) AS fit_r2,
         max(CASE WHEN rk = 1 THEN cnt END) AS top_cnt
  FROM head GROUP BY source
)
SELECT f.source, t.vocab_size, f.n_ranks, f.zipf_slope, f.fit_r2,
       round(f.top_cnt * 1.0 / t.total_tokens + 1e-6, 6) AS top_token_share
FROM fit f JOIN totals t ON f.source = t.source
"""


# --------------------------------------------------------------------------
# 18. watermark delay vs completeness sweep
# --------------------------------------------------------------------------

#: candidate watermark delays (seconds) swept against observed lateness.
WATERMARK_CANDIDATES = (0, 60, 300, 900, 3600)


def watermark_completeness_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WATERMARK SIZING SWEEP — the decision table built on top of
    ``lateness_profile``'s quantiles: for each candidate
    ``withWatermark`` delay, how many events would arrive later than the
    watermark allows (state already closed -> dropped) and the resulting
    completeness. The production delay is the smallest candidate whose
    completeness clears the SLO, read straight off this table instead of
    guessed. Lateness is the same per-key running-max definition as
    ``lateness_profile`` (one keyed window pass); the sweep is
    conditional aggregation folded to ONE combinable row then exploded,
    so every candidate always emits — zero drops included."""
    ev = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    t = F.col("ts").cast("double")
    late = ev.select(
        F.greatest(F.max(t).over(w) - t, F.lit(0.0)).alias("lateness")
    ).where(F.col("lateness").isNotNull())
    base = late.agg(
        F.count("*").alias("n_events"),
        *[
            F.coalesce(
                F.sum((F.col("lateness") > F.lit(float(d))).cast("long")),
                F.lit(0),
            ).alias(f"d{i}")
            for i, d in enumerate(WATERMARK_CANDIDATES)
        ],
    )
    swept = base.select(
        "n_events",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("delay"), F.col(f"d{i}").alias("nd")
                    )
                    for i, d in enumerate(WATERMARK_CANDIDATES)
                ]
            )
        ).alias("s"),
    )
    return swept.select(
        F.col("s.delay").alias("watermark_delay_s"),
        F.col("s.nd").alias("n_dropped"),
        rnd(
            (F.col("n_events") - F.col("s.nd"))
            / F.greatest(F.col("n_events"), F.lit(1)).cast("double"),
            6,
        ).alias("completeness"),
    )


_WATERMARK_SWEEP_ORACLE = f"""
WITH late AS (
  SELECT greatest(
           max(epoch(ts)) OVER (PARTITION BY user_id ORDER BY event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           - epoch(ts), 0.0) AS lateness
  FROM events
),
f AS (SELECT lateness FROM late WHERE lateness IS NOT NULL),
base AS (SELECT count(*) AS n_events FROM f),
cand AS (SELECT unnest([{", ".join(str(d) for d in WATERMARK_CANDIDATES)}])
                AS watermark_delay_s)
SELECT c.watermark_delay_s,
       CAST(coalesce(sum(CASE WHEN f.lateness > c.watermark_delay_s
                              THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_dropped,
       round((max(b.n_events)
              - coalesce(sum(CASE WHEN f.lateness > c.watermark_delay_s
                                  THEN 1 ELSE 0 END), 0)) * 1.0
             / greatest(max(b.n_events), 1) + 1e-6, 6) AS completeness
FROM cand c CROSS JOIN base b LEFT JOIN f ON true
GROUP BY c.watermark_delay_s
"""


# --------------------------------------------------------------------------
# 19. class balance report (labeled embedding corpus)
# --------------------------------------------------------------------------

def class_balance_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CLASS BALANCE audit of the labeled embedding corpus: per label
    its share, the imbalance ratio vs the majority class, and (repeated
    on every row, window-computed) the EFFECTIVE number of classes
    exp(entropy) — 1.0 = collapsed, n_labels = perfectly balanced — the
    one number a stratified sampler or loss re-weighting is configured
    from. One hash aggregate to label-cardinality, then window math over
    that tiny result."""
    emb = load(spark, sf_dir, "embeddings")
    per_label = emb.groupBy("label").agg(F.count("*").alias("n_vectors"))
    w = Window.partitionBy()
    share = F.col("n_vectors") / F.sum("n_vectors").over(w)
    shared = per_label.select(
        "label", "n_vectors", share.alias("p"),
        F.max("n_vectors").over(w).alias("n_max"),
    )
    eff = F.exp(F.sum(-F.col("p") * F.log("p")).over(w))
    return shared.select(
        "label",
        "n_vectors",
        rnd("p", 6).alias("share"),
        rnd(F.col("n_vectors") / F.col("n_max").cast("double"), 6).alias(
            "vs_majority"
        ),
        rnd(eff, 4).alias("effective_classes"),
    )


_CLASS_BALANCE_ORACLE = """
WITH per_label AS (
  SELECT label, count(*) AS n_vectors FROM embeddings GROUP BY label
),
shared AS (
  SELECT label, n_vectors,
         n_vectors * 1.0 / sum(n_vectors) OVER () AS p,
         max(n_vectors) OVER () AS n_max
  FROM per_label
)
SELECT label, n_vectors,
       round(p + 1e-6, 6) AS share,
       round(n_vectors * 1.0 / n_max + 1e-6, 6) AS vs_majority,
       round(exp(sum(-p * ln(p)) OVER ()) + 1e-6, 4) AS effective_classes
FROM shared
"""


# --------------------------------------------------------------------------
# 20. Kaplan-Meier survival of signup -> first-purchase delay
# --------------------------------------------------------------------------

def kaplan_meier_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier estimator over signup->first-purchase delay, with
    right-censoring at corpus end for users who never purchase — the
    survival-analysis complement of ``funnel_time_to_convert`` (which
    only sees converters and so overstates conversion speed).

    Shape: two keyed min-aggs (per-user signup / first purchase), one
    1-row corpus-max broadcast, then the KM table over DISTINCT hour
    durations — the global ordered window runs over at most
    corpus-span-in-hours rows regardless of user count, so it is
    calendar-bounded, not data-bounded, at 100 TB.  The product
    Π(1 - d/n) is computed as exp(Σ ln ·) with a 1e-300 floor so a
    final-time factor of exactly 0 yields survival 0.0 on both engines
    (Spark ``log(0)`` is NULL, DuckDB's is -inf — the floor sidesteps
    the divergence).
    """
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
        "dur", "n_all", "d",
        F.coalesce(F.sum("n_all").over(w_before), F.lit(0)).alias("cumb"),
        F.sum("n_all").over(
            w_ord.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        ).alias("tot"),
    )
    k = r.select(
        "dur", "d", (F.col("tot") - F.col("cumb")).alias("n_at_risk")
    )
    surv = F.exp(
        F.sum(
            F.log(
                F.greatest(
                    F.lit(1.0) - F.col("d") / F.col("n_at_risk"),
                    F.lit(1e-300),
                )
            )
        ).over(w_ord)
    )
    return (
        k.where(F.col("d") > 0)
        .select(
            F.col("dur").alias("t_hours"),
            "n_at_risk",
            F.col("d").alias("n_events"),
            rnd(surv, 6).alias("survival"),
        )
    )


_KM_ORACLE = """
WITH sec AS (SELECT user_id, event_type, epoch(ts) AS s FROM events),
s0 AS (
  SELECT user_id, min(s) AS t0 FROM sec
  WHERE event_type = 'signup' GROUP BY user_id
),
p AS (
  SELECT s0.user_id, min(sec.s) AS tp
  FROM s0 JOIN sec ON sec.user_id = s0.user_id
   AND sec.event_type = 'purchase' AND sec.s >= s0.t0
  GROUP BY s0.user_id
),
mx AS (SELECT max(s) AS tmax FROM sec),
subj AS (
  SELECT CAST(floor((coalesce(p.tp, mx.tmax) - s0.t0) / 3600) AS BIGINT) AS dur,
         CASE WHEN p.tp IS NOT NULL THEN 1 ELSE 0 END AS obs
  FROM s0 LEFT JOIN p USING (user_id) CROSS JOIN mx
),
g AS (
  SELECT dur, count(*) AS n_all, CAST(sum(obs) AS BIGINT) AS d
  FROM subj GROUP BY dur
),
r AS (
  SELECT dur, n_all, d,
         coalesce(sum(n_all) OVER (ORDER BY dur
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumb,
         sum(n_all) OVER () AS tot
  FROM g
),
k AS (SELECT dur, d, CAST(tot - cumb AS BIGINT) AS n_at_risk FROM r)
SELECT dur AS t_hours, n_at_risk, d AS n_events,
       round(exp(sum(ln(greatest(1.0 - d * 1.0 / n_at_risk, 1e-300)))
                 OVER (ORDER BY dur)) + 1e-6, 6) AS survival
FROM k WHERE d > 0
"""


# --------------------------------------------------------------------------
# 21. revenue concentration (Gini + top-decile share) per nation
# --------------------------------------------------------------------------

def revenue_concentration_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation customer-revenue concentration: Gini coefficient (via
    the rank formula G = 2·Σi·xᵢ/(n·Σx) − (n+1)/n over ascending
    revenue) and the revenue share of the top decile of customers.
    The whale-vs-long-tail diagnostic a mixture/quota policy is tuned
    against.  One shuffle to per-customer revenue, per-nation windows
    (25 bounded partitions at TPC-H shape), one final agg.

    Money discipline (caught by the 100x heavy-table sweep): the
    per-nation revenue totals sum ~60k customers' money values each and
    the double sum flipped a cent at 1.4e11 units — total/top-decile
    revenue run in DECIMAL (operators/tpch.py discipline). The
    per-CUSTOMER double stays as the ranking quantity, and the
    rank-weighted irev stays double: gini is a ratio, whose relative
    error the 6-dp rounding absorbs."""
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    rev = orders.groupBy("o_custkey").agg(
        F.sum("o_totalprice").alias("rev"),
        F.sum(F.col("o_totalprice").cast("decimal(14,2)")).alias("rev_d"),
    )
    per_cust = (
        rev.join(cust, rev.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == F.col("n_nationkey"))
        .select("n_name", "c_custkey", "rev", "rev_d")
    )
    w = Window.partitionBy("n_name").orderBy(
        F.col("rev").asc(), F.col("c_custkey").asc()
    )
    wn = Window.partitionBy("n_name")
    ranked = per_cust.select(
        "n_name", "rev", "rev_d",
        F.row_number().over(w).cast("long").alias("i"),
        F.count("*").over(wn).alias("n"),
    )
    ntop = F.floor((F.col("n") + 9) / 10)
    agg = ranked.groupBy("n_name").agg(
        F.max("n").alias("n_customers"),
        F.sum("rev_d").alias("total_rev_d"),
        F.sum(F.col("i") * F.col("rev")).alias("irev"),
        # no otherwise: sum skips NULLs, mirroring CASE WHEN with no ELSE
        F.sum(
            F.when(F.col("i") > F.col("n") - ntop, F.col("rev_d"))
        ).alias("top_rev_d"),
    )
    total_dbl = F.col("total_rev_d").cast("double")
    gini = (
        2.0 * F.col("irev") / (F.col("n_customers") * total_dbl)
        - (F.col("n_customers") + 1.0) / F.col("n_customers")
    )
    return agg.select(
        "n_name",
        "n_customers",
        F.round(F.col("total_rev_d"), 2).cast("double").alias("total_rev"),
        rnd(gini, 6).alias("gini"),
        rnd(F.col("top_rev_d").cast("double") / total_dbl, 6).alias(
            "top_decile_share"
        ),
    )


_GINI_ORACLE = """
WITH rev AS (
  SELECT o_custkey, sum(o_totalprice) AS rev,
         sum(CAST(o_totalprice AS DECIMAL(14,2))) AS rev_d
  FROM orders GROUP BY o_custkey
),
pc AS (
  SELECT n.n_name, c.c_custkey, rev.rev, rev.rev_d
  FROM rev JOIN customer c ON rev.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
),
ranked AS (
  SELECT n_name, rev, rev_d,
         CAST(row_number() OVER (PARTITION BY n_name
              ORDER BY rev ASC, c_custkey ASC) AS BIGINT) AS i,
         count(*) OVER (PARTITION BY n_name) AS n
  FROM pc
),
agg AS (
  SELECT n_name,
         max(n) AS n_customers,
         sum(rev_d) AS total_rev_d,
         sum(i * rev) AS irev,
         sum(CASE WHEN i > n - CAST(floor((n + 9) / 10) AS BIGINT)
                  THEN rev_d END) AS top_rev_d
  FROM ranked GROUP BY n_name
)
SELECT n_name, CAST(n_customers AS BIGINT) AS n_customers,
       CAST(round(total_rev_d, 2) AS DOUBLE) AS total_rev,
       round(2.0 * irev / (n_customers * CAST(total_rev_d AS DOUBLE))
             - (n_customers + 1.0) / n_customers + 1e-6, 6) AS gini,
       round(CAST(top_rev_d AS DOUBLE) / CAST(total_rev_d AS DOUBLE)
             + 1e-6, 6) AS top_decile_share
FROM agg
"""


# --------------------------------------------------------------------------
# 22. periodogram peaks (dominant seasonality detection)
# --------------------------------------------------------------------------

#: candidate periods in minutes: hour, 6 hours, day, week.
PERIODOGRAM_PERIODS = (60, 360, 1440, 10080)


def periodogram_peaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete-frequency periodogram per event type: spectral power of
    the per-minute arrival series at four candidate periods, normalized
    by the squared total count, plus a dominant-period flag — the
    automated answer to "is this stream hourly-, daily-, or
    weekly-seasonal?" that ``hourly_seasonal_profile`` assumes a priori.

    Power(T) = (Σ nₜ·cos(2πt/T))² + (Σ nₜ·sin(2πt/T))² over minute
    buckets t.  Everything is two stacked hash aggregates (minute
    counts, then per-type trig sums) — no window, no shuffle beyond the
    two agg exchanges, and the phase argument is reduced mod T before
    the trig call so both engines evaluate small angles.  The dominance
    flag compares ROUNDED powers so libm ulp drift cannot flip it."""
    ev = load(spark, sf_dir, "events")
    mn = F.floor(F.col("ts").cast("double") / 60).alias("mn")
    per_min = ev.groupBy("event_type", mn).agg(F.count("*").alias("n"))
    mn0 = per_min.agg(F.min("mn").alias("mn0"))
    base = per_min.crossJoin(F.broadcast(mn0))
    parts = []
    for period in PERIODOGRAM_PERIODS:
        ang = (
            2.0
            * 3.141592653589793
            * (((F.col("mn") - F.col("mn0")) % period).cast("double"))
            / period
        )
        parts.append(
            base.groupBy("event_type").agg(
                F.sum(F.col("n") * F.cos(ang)).alias("c"),
                F.sum(F.col("n") * F.sin(ang)).alias("s"),
                F.sum("n").alias("tot"),
            ).select(
                "event_type",
                F.lit(period).alias("period_minutes"),
                (
                    (F.col("c") * F.col("c") + F.col("s") * F.col("s"))
                    / (F.col("tot") * F.col("tot"))
                ).alias("raw_power"),
            )
        )
    un = parts[0]
    for p in parts[1:]:
        un = un.unionByName(p)
    wt = Window.partitionBy("event_type")
    out = un.select(
        "event_type",
        "period_minutes",
        rnd("raw_power", 6).alias("power_norm"),
    )
    return out.select(
        "event_type",
        "period_minutes",
        "power_norm",
        (F.col("power_norm") == F.max("power_norm").over(wt)).alias(
            "is_dominant"
        ),
    )


def _periodogram_oracle() -> str:
    per = ", ".join(str(p) for p in PERIODOGRAM_PERIODS)
    return f"""
WITH per_min AS (
  SELECT event_type, CAST(floor(epoch(ts) / 60) AS BIGINT) AS mn,
         count(*) AS n
  FROM events GROUP BY 1, 2
),
m0 AS (SELECT min(mn) AS mn0 FROM per_min),
p AS (
  SELECT per_min.*, t.period, m0.mn0
  FROM per_min CROSS JOIN m0 CROSS JOIN (
    SELECT unnest([{per}]) AS period
  ) t
),
agg AS (
  SELECT event_type, period,
         sum(n * cos(2.0 * 3.141592653589793 * ((mn - mn0) % period) / period)) AS c,
         sum(n * sin(2.0 * 3.141592653589793 * ((mn - mn0) % period) / period)) AS s,
         sum(n) AS tot
  FROM p GROUP BY 1, 2
),
pw AS (
  SELECT event_type, CAST(period AS INTEGER) AS period_minutes,
         round((c * c + s * s) / (CAST(tot AS DOUBLE) * tot) + 1e-6, 6)
           AS power_norm
  FROM agg
)
SELECT event_type, period_minutes, power_norm,
       power_norm = max(power_norm) OVER (PARTITION BY event_type)
         AS is_dominant
FROM pw
"""


# --------------------------------------------------------------------------
# 23. best-split changepoint per event type (binary segmentation, 1 split)
# --------------------------------------------------------------------------

def best_split_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-split changepoint detection over each event type's daily
    count series: the split day maximizing the between-segment variance
    reduction n₁n₂/(n₁+n₂)·(μ₁−μ₂)² — the offline answer CUSUM
    (``cusum_drift``) approximates online, and the first step of binary
    segmentation.  Prefix sums via one per-type ordered window over the
    DAILY series (calendar-bounded rows), argmax via row_number.  Every
    candidate's gain derives from exact integer sums, so cross-engine
    float equality holds bit-for-bit and the argmax is deterministic
    with the (gain DESC, day ASC) tie-break."""
    ev = load(spark, sf_dir, "events")
    day = F.floor(F.col("ts").cast("double") / 86400).alias("day")
    daily = ev.groupBy("event_type", day).agg(F.count("*").alias("cnt"))
    w = Window.partitionBy("event_type").orderBy("day")
    wt = Window.partitionBy("event_type")
    pre = daily.select(
        "event_type", "day",
        F.row_number().over(w).cast("long").alias("k"),
        F.sum("cnt").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).alias("cum_s"),
        F.count("*").over(wt).alias("n_days"),
        F.sum("cnt").over(wt).alias("tot"),
    )
    cand = pre.where(F.col("k") < F.col("n_days"))
    m1 = F.col("cum_s") / F.col("k")
    m2 = (F.col("tot") - F.col("cum_s")) / (F.col("n_days") - F.col("k"))
    gain = (
        F.col("k")
        * (F.col("n_days") - F.col("k"))
        / F.col("n_days").cast("double")
        * (m1 - m2)
        * (m1 - m2)
    )
    scored = cand.select(
        "event_type", "day", "k", "n_days",
        m1.alias("m1"), m2.alias("m2"), gain.alias("gain"),
    )
    w_best = Window.partitionBy("event_type").orderBy(
        F.col("gain").desc(), F.col("day").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w_best))
        .where(F.col("rk") == 1)
        .select(
            "event_type",
            F.col("day").alias("split_day"),
            F.col("k").alias("n_days_before"),
            (F.col("n_days") - F.col("k")).alias("n_days_after"),
            rnd("m1", 4).alias("mean_before"),
            rnd("m2", 4).alias("mean_after"),
            rnd("gain", 4).alias("sse_reduction"),
        )
    )


_CHANGEPOINT_ORACLE = """
WITH daily AS (
  SELECT event_type, CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day,
         count(*) AS cnt
  FROM events GROUP BY 1, 2
),
pre AS (
  SELECT event_type, day,
         CAST(row_number() OVER (PARTITION BY event_type ORDER BY day)
              AS BIGINT) AS k,
         sum(cnt) OVER (PARTITION BY event_type ORDER BY day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_s,
         count(*) OVER (PARTITION BY event_type) AS n_days,
         sum(cnt) OVER (PARTITION BY event_type) AS tot
  FROM daily
),
cand AS (
  SELECT event_type, day, k, n_days,
         cum_s * 1.0 / k AS m1,
         (tot - cum_s) * 1.0 / (n_days - k) AS m2,
         k * (n_days - k) / CAST(n_days AS DOUBLE)
           * (cum_s * 1.0 / k - (tot - cum_s) * 1.0 / (n_days - k))
           * (cum_s * 1.0 / k - (tot - cum_s) * 1.0 / (n_days - k)) AS gain
  FROM pre WHERE k < n_days
),
best AS (
  SELECT *, row_number() OVER (PARTITION BY event_type
             ORDER BY gain DESC, day ASC) AS rk
  FROM cand
)
SELECT event_type, day AS split_day, k AS n_days_before,
       CAST(n_days - k AS BIGINT) AS n_days_after,
       round(m1 + 1e-6, 4) AS mean_before,
       round(m2 + 1e-6, 4) AS mean_after,
       round(gain + 1e-6, 4) AS sse_reduction
FROM best WHERE rk = 1
"""


# --------------------------------------------------------------------------
# 24. kNN label consistency (embedding-space label agreement)
# --------------------------------------------------------------------------

#: sample cap and neighborhood size for the kNN label audit.
KNN_MAX_VECTORS = 300
KNN_K = 5


def knn_label_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label kNN label-consistency audit: on a capped md5 sample of
    the embedding corpus, the fraction of each vector's K=5 cosine
    nearest neighbors that share its label, aggregated per label — the
    standard embedding-quality / label-noise metric run before trusting
    labels for stratified sampling or contrastive mining.

    Scale: the sample is CAPPED at KNN_MAX_VECTORS by construction
    (``mod = max(1, n // cap)``, the IVF-trainer pattern), so the
    broadcast-nested-loop pair space is ≤ cap² ≈ 90k rows at any corpus
    size, and the per-anchor top-K is one bounded window."""
    emb = load(spark, sf_dir, "embeddings")
    n = emb.count()
    mod = max(1, n // KNN_MAX_VECTORS)
    coin = F.conv(
        F.substring(F.md5(F.concat(F.lit("knn:"), F.col("vec_id").cast("string"))), 1, 15),
        16, 10,
    ).cast("long")
    s = emb.where(coin % mod == 0).select(
        "vec_id", "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    s = s.withColumn(
        "nrm",
        F.sqrt(F.aggregate("v", F.lit(0.0), lambda a, x: a + x * x)),
    )
    a = s.select(
        F.col("vec_id").alias("aid"), F.col("label").alias("al"),
        F.col("v").alias("av"), F.col("nrm").alias("an"),
    )
    b = s.select(
        F.col("vec_id").alias("bid"), F.col("label").alias("bl"),
        F.col("v").alias("bv"), F.col("nrm").alias("bn"),
    )
    dot = F.aggregate(
        F.zip_with("av", "bv", lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    pairs = (
        a.crossJoin(F.broadcast(b))
        .where(F.col("aid") != F.col("bid"))
        .select(
            "aid", "al", "bid", "bl",
            (dot / (F.col("an") * F.col("bn"))).alias("cos"),
        )
    )
    w = Window.partitionBy("aid").orderBy(F.col("cos").desc(), F.col("bid").asc())
    knn = pairs.withColumn("rk", F.row_number().over(w)).where(
        F.col("rk") <= KNN_K
    )
    per_vec = knn.groupBy("aid", "al").agg(
        F.avg((F.col("al") == F.col("bl")).cast("double")).alias("consistency")
    )
    return per_vec.groupBy(F.col("al").alias("label")).agg(
        F.count("*").alias("n_vectors"),
        rnd(F.avg("consistency"), 6).alias("mean_consistency"),
        rnd(F.min("consistency"), 6).alias("min_consistency"),
    )


_KNN_ORACLE = f"""
WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
m AS (SELECT greatest(1, count(*) // {KNN_MAX_VECTORS}) AS md FROM e),
s AS (
  SELECT vec_id, label, v, sqrt(list_dot_product(v, v)) AS nrm
  FROM e, m
  WHERE CAST('0x' || substr(md5('knn:' || CAST(vec_id AS VARCHAR)), 1, 15)
             AS BIGINT) % m.md = 0
),
p AS (
  SELECT a.vec_id AS aid, a.label AS al, b.vec_id AS bid, b.label AS bl,
         list_dot_product(a.v, b.v) / (a.nrm * b.nrm) AS cos
  FROM s a JOIN s b ON a.vec_id != b.vec_id
),
knn AS (
  SELECT aid, al, bl,
         row_number() OVER (PARTITION BY aid ORDER BY cos DESC, bid ASC) AS rk
  FROM p
),
per_vec AS (
  SELECT aid, al,
         avg(CASE WHEN al = bl THEN 1.0 ELSE 0.0 END) AS consistency
  FROM knn WHERE rk <= {KNN_K} GROUP BY aid, al
)
SELECT al AS label, count(*) AS n_vectors,
       round(avg(consistency) + 1e-6, 6) AS mean_consistency,
       round(min(consistency) + 1e-6, 6) AS min_consistency
FROM per_vec GROUP BY al
"""


# --------------------------------------------------------------------------
# 25. within-document token entropy profile
# --------------------------------------------------------------------------

def token_entropy_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token-entropy profile: Shannon entropy of each
    document's within-doc token distribution, normalized by log2(n) so
    1.0 = maximally diverse and 0.0 = one token repeated — the
    information-theoretic upgrade of ``quality_score``'s repetition
    ratio (which cannot distinguish "one token 99×" from "99 distinct
    tokens twice each").  Flags docs under 0.5 normalized entropy.

    Shape: explode → (doc, token) counts → per-doc window total → per-doc
    entropy agg → per-source agg.  Cost is linear in corpus tokens; the
    widest exchange keys on doc_id, never on the vocabulary."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "source",
        F.explode(F.split("text", " ")).alias("tok"),
    )
    cnt = toks.groupBy("doc_id", "source", "tok").agg(
        F.count("*").alias("c")
    )
    wd = Window.partitionBy("doc_id")
    with_n = cnt.select(
        "doc_id", "source", "c", F.sum("c").over(wd).alias("n")
    )
    p = F.col("c") / F.col("n")
    per_doc = with_n.groupBy("doc_id", "source").agg(
        F.max("n").alias("n_tokens"),
        F.sum(-p * F.log2(p)).alias("h"),
    )
    h_norm = F.when(
        F.col("n_tokens") > 1, F.col("h") / F.log2(F.col("n_tokens"))
    ).otherwise(0.0)
    scored = per_doc.select("source", "h", h_norm.alias("hn"))
    return scored.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        rnd(F.avg("h"), 4).alias("mean_entropy_bits"),
        rnd(F.avg("hn"), 4).alias("mean_norm_entropy"),
        rnd(F.min("hn"), 4).alias("min_norm_entropy"),
        F.sum((F.col("hn") < 0.5).cast("long")).alias("n_low_entropy"),
    )


_TOKEN_ENTROPY_ORACLE = """
WITH toks AS (
  SELECT doc_id, source, unnest(string_split(text, ' ')) AS tok
  FROM documents
),
cnt AS (
  SELECT doc_id, source, tok, count(*) AS c
  FROM toks GROUP BY 1, 2, 3
),
with_n AS (
  SELECT doc_id, source, c,
         sum(c) OVER (PARTITION BY doc_id) AS n
  FROM cnt
),
per_doc AS (
  SELECT doc_id, source, max(n) AS n_tokens,
         sum(-(c * 1.0 / n) * log2(c * 1.0 / n)) AS h
  FROM with_n GROUP BY 1, 2
),
scored AS (
  SELECT source, h,
         CASE WHEN n_tokens > 1 THEN h / log2(n_tokens) ELSE 0.0 END AS hn
  FROM per_doc
)
SELECT source, count(*) AS n_docs,
       round(avg(h) + 1e-6, 4) AS mean_entropy_bits,
       round(avg(hn) + 1e-6, 4) AS mean_norm_entropy,
       round(min(hn) + 1e-6, 4) AS min_norm_entropy,
       CAST(sum(CASE WHEN hn < 0.5 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_low_entropy
FROM scored GROUP BY source
"""


# --------------------------------------------------------------------------
# 26. source concentration (HHI) per language
# --------------------------------------------------------------------------

def source_concentration_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language source concentration: Herfindahl-Hirschman index
    over source shares, its reciprocal (effective source count), and
    the top source with its share — the market-concentration sibling of
    ``class_balance_report``'s entropy view, and the number a corpus
    diversity requirement ("no language dominated by one crawl") is
    written against.  Two stacked hash aggs + one bounded per-language
    window (languages are a small domain)."""
    docs = load(spark, sf_dir, "documents")
    per_src = docs.groupBy("lang", "source").agg(F.count("*").alias("c"))
    wl = Window.partitionBy("lang")
    w_top = Window.partitionBy("lang").orderBy(
        F.col("c").desc(), F.col("source").asc()
    )
    shared = per_src.select(
        "lang", "source", "c",
        (F.col("c") / F.sum("c").over(wl)).alias("p"),
        F.row_number().over(w_top).alias("rk"),
    )
    hhi = F.sum(F.col("p") * F.col("p"))
    return shared.groupBy("lang").agg(
        F.sum("c").alias("n_docs"),
        F.count("*").alias("n_sources"),
        rnd(hhi, 6).alias("hhi"),
        rnd(1.0 / hhi, 4).alias("effective_sources"),
        F.max(F.when(F.col("rk") == 1, F.col("source"))).alias("top_source"),
        rnd(F.max(F.when(F.col("rk") == 1, F.col("p"))), 6).alias("top_share"),
    )


_HHI_ORACLE = """
WITH per_src AS (
  SELECT lang, source, count(*) AS c FROM documents GROUP BY 1, 2
),
shared AS (
  SELECT lang, source, c,
         c * 1.0 / sum(c) OVER (PARTITION BY lang) AS p,
         row_number() OVER (PARTITION BY lang
           ORDER BY c DESC, source ASC) AS rk
  FROM per_src
)
SELECT lang, CAST(sum(c) AS BIGINT) AS n_docs,
       count(*) AS n_sources,
       round(sum(p * p) + 1e-6, 6) AS hhi,
       round(1.0 / sum(p * p) + 1e-6, 4) AS effective_sources,
       max(CASE WHEN rk = 1 THEN source END) AS top_source,
       round(max(CASE WHEN rk = 1 THEN p END) + 1e-6, 6) AS top_share
FROM shared GROUP BY lang
"""


# --------------------------------------------------------------------------
# 27. event trigram motifs (sequential pattern mining, order 3)
# --------------------------------------------------------------------------

#: how many global trigrams the motif report keeps.
TRIGRAM_TOP_N = 20


def event_trigram_motifs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top event-type trigrams across per-user journeys — order-3
    sequential patterns, one step beyond ``event_transition_matrix``'s
    bigrams and the cheap PrefixSpan stand-in for "what three-step
    habits exist?".  Per-user ordered lead() window (state bounded by
    2 lookahead rows per user), then a hash agg over the trigram
    vocabulary (≤ |types|³, a constant), then a global top-N on that
    bounded aggregate."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tri = ev.select(
        "user_id",
        F.col("event_type").alias("t1"),
        F.lead("event_type", 1).over(w).alias("t2"),
        F.lead("event_type", 2).over(w).alias("t3"),
    ).where(F.col("t3").isNotNull())
    counts = tri.groupBy("t1", "t2", "t3").agg(F.count("*").alias("support"))
    total = counts.agg(F.sum("support").alias("tot"))
    w_rank = Window.orderBy(F.col("support").desc(), F.col("trigram").asc())
    return (
        counts.select(
            F.concat_ws(">", "t1", "t2", "t3").alias("trigram"), "support"
        )
        .crossJoin(F.broadcast(total))
        .withColumn("rk", F.row_number().over(w_rank))
        .where(F.col("rk") <= TRIGRAM_TOP_N)
        .select(
            "trigram", "support",
            rnd(F.col("support") / F.col("tot"), 6).alias("share"),
        )
    )


_TRIGRAM_ORACLE = f"""
WITH seq AS (
  SELECT user_id, event_type AS t1,
         lead(event_type, 1) OVER w AS t2,
         lead(event_type, 2) OVER w AS t3
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
counts AS (
  SELECT t1 || '>' || t2 || '>' || t3 AS trigram, count(*) AS support
  FROM seq WHERE t3 IS NOT NULL GROUP BY 1
),
ranked AS (
  SELECT trigram, support,
         sum(support) OVER () AS tot,
         row_number() OVER (ORDER BY support DESC, trigram ASC) AS rk
  FROM counts
)
SELECT trigram, support, round(support * 1.0 / tot + 1e-6, 6) AS share
FROM ranked WHERE rk <= {TRIGRAM_TOP_N}
"""


# --------------------------------------------------------------------------
# 28. open-order backlog profile (interval stabbing via +1/-1 deltas)
# --------------------------------------------------------------------------

def order_backlog_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily open-order backlog: each order opens at o_orderdate and
    closes the day after its last lineitem ships (same-day close for
    orders with no lineitems), and the backlog on a day is the count of
    open intervals covering it — the interval-stabbing query behind
    "how much WIP does the warehouse carry?".

    The classic scalable shape: intervals → ±1 boundary deltas → one
    hash agg on day → one cumulative window over the DISTINCT-day
    series, which is calendar-bounded however many orders exist.  No
    join ever expands rows beyond 2 per order."""
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    last_ship = li.groupBy("l_orderkey").agg(
        F.max("l_shipdate").alias("last_ship")
    )
    spans = (
        orders.join(last_ship, orders.o_orderkey == last_ship.l_orderkey, "left")
        .select(
            F.to_date("o_orderdate").alias("open_day"),
            F.date_add(
                F.coalesce(F.to_date("last_ship"), F.to_date("o_orderdate")), 1
            ).alias("close_day"),
        )
    )
    opens = spans.select(
        F.col("open_day").alias("day"),
        F.lit(1).alias("delta"),
        F.lit(1).alias("opened"),
        F.lit(0).alias("closed"),
    )
    closes = spans.select(
        F.col("close_day").alias("day"),
        F.lit(-1).alias("delta"),
        F.lit(0).alias("opened"),
        F.lit(1).alias("closed"),
    )
    daily = (
        opens.unionByName(closes)
        .groupBy("day")
        .agg(
            F.sum("delta").alias("delta"),
            F.sum("opened").alias("n_opened"),
            F.sum("closed").alias("n_closed"),
        )
    )
    w = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return daily.select(
        "day", "n_opened", "n_closed",
        F.sum("delta").over(w).alias("backlog"),
    )


_BACKLOG_ORACLE = """
WITH last_ship AS (
  SELECT l_orderkey, max(l_shipdate) AS last_ship
  FROM lineitem GROUP BY l_orderkey
),
spans AS (
  SELECT CAST(o.o_orderdate AS DATE) AS open_day,
         coalesce(CAST(ls.last_ship AS DATE),
                  CAST(o.o_orderdate AS DATE)) + 1 AS close_day
  FROM orders o LEFT JOIN last_ship ls ON o.o_orderkey = ls.l_orderkey
),
deltas AS (
  SELECT open_day AS day, 1 AS delta, 1 AS opened, 0 AS closed FROM spans
  UNION ALL
  SELECT close_day AS day, -1 AS delta, 0 AS opened, 1 AS closed FROM spans
),
daily AS (
  SELECT day, CAST(sum(delta) AS BIGINT) AS delta,
         CAST(sum(opened) AS BIGINT) AS n_opened,
         CAST(sum(closed) AS BIGINT) AS n_closed
  FROM deltas GROUP BY day
)
SELECT day, n_opened, n_closed,
       CAST(sum(delta) OVER (ORDER BY day
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS backlog
FROM daily
"""


# --------------------------------------------------------------------------
# 29. quality-threshold sweep (filter calibration decision table)
# --------------------------------------------------------------------------

#: candidate quality cutoffs swept by the calibration report.
QUALITY_THRESHOLDS = (0.0, 0.25, 0.5, 0.75, 0.9)


def quality_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decision table for the quality filter: for each candidate cutoff,
    how many documents and tokens survive ``quality_score``'s composite
    score ≥ cutoff — the same always-emit sweep pattern as
    ``watermark_completeness_sweep``, applied to the curation knob that
    governs corpus yield.  Every threshold always emits (conditional
    aggregation over a 5-row broadcast), so the report cannot go vacuous
    when a cutoff retains nothing.  One linear scan + one 5-key agg."""
    from flink_cookbook_spark.pipeline.text import STOPWORDS

    docs = load(spark, sf_dir, "documents")
    ts = F.split("text", " ")
    n = F.size(ts)
    stop_in = ", ".join(f"'{s}'" for s in STOPWORDS)
    n_stop = F.size(F.expr(f"filter(split(text, ' '), t -> t IN ({stop_in}))"))
    stop_ratio = n_stop.cast("double") / n
    rep_ratio = 1.0 - F.size(F.array_distinct(ts)).cast("double") / n
    score = (
        F.when(n < 10, 0.0).otherwise(1.0)
        * (1.0 - rep_ratio)
        * F.when(stop_ratio > 0.5, 0.5).otherwise(1.0)
    )
    scored = docs.select(score.alias("q"), n.cast("long").alias("n_tokens"))
    thr = spark.createDataFrame(
        [(t,) for t in QUALITY_THRESHOLDS], "threshold double"
    )
    keep = F.col("q") >= F.col("threshold")
    return (
        scored.crossJoin(F.broadcast(thr))
        .groupBy("threshold")
        .agg(
            F.sum(keep.cast("long")).alias("n_docs_kept"),
            F.sum(F.when(keep, F.col("n_tokens")).otherwise(0)).alias(
                "n_tokens_kept"
            ),
            rnd(F.avg(keep.cast("double")), 6).alias("doc_share"),
            rnd(
                F.sum(F.when(keep, F.col("n_tokens")).otherwise(0))
                / F.sum("n_tokens"),
                6,
            ).alias("token_share"),
        )
    )


from flink_cookbook_spark.pipeline.text import STOPWORDS as _QS_STOPWORDS

_QUALITY_SWEEP_ORACLE = f"""
WITH t AS (SELECT string_split(text, ' ') AS ts FROM documents),
m AS (
  SELECT len(ts) AS n,
         CAST(len(list_filter(ts, x -> x IN
           ({", ".join(repr(s) for s in _QS_STOPWORDS)}))) AS DOUBLE)
           / len(ts) AS stop_ratio,
         1.0 - CAST(len(list_distinct(ts)) AS DOUBLE) / len(ts) AS rep_ratio
  FROM t
),
scored AS (
  SELECT (CASE WHEN n < 10 THEN 0.0 ELSE 1.0 END)
           * (1.0 - rep_ratio)
           * (CASE WHEN stop_ratio > 0.5 THEN 0.5 ELSE 1.0 END) AS q,
         CAST(n AS BIGINT) AS n_tokens
  FROM m
),
thr AS (SELECT unnest([{", ".join(str(t) for t in QUALITY_THRESHOLDS)}]) AS threshold)
SELECT threshold,
       CAST(sum(CASE WHEN q >= threshold THEN 1 ELSE 0 END) AS BIGINT)
         AS n_docs_kept,
       CAST(sum(CASE WHEN q >= threshold THEN n_tokens ELSE 0 END) AS BIGINT)
         AS n_tokens_kept,
       round(avg(CASE WHEN q >= threshold THEN 1.0 ELSE 0.0 END) + 1e-6, 6)
         AS doc_share,
       round(sum(CASE WHEN q >= threshold THEN n_tokens ELSE 0 END) * 1.0
             / sum(n_tokens) + 1e-6, 6) AS token_share
FROM scored CROSS JOIN thr GROUP BY threshold
"""


# --------------------------------------------------------------------------
# 30. join-size estimator (optimizer-statistics audit, no join executed)
# --------------------------------------------------------------------------

def join_size_estimator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-cardinality estimation audit: the EXACT output size of the
    many-to-many click⋈purchase join on user_id (Σ c₁ᵤ·c₂ᵤ, computed
    from the two per-key count aggregates WITHOUT materializing a
    single joined row) next to the System-R independence estimate
    |L|·|R|/max(ndv_L, ndv_R), and their ratio — the skew factor that
    says how badly a cost-based optimizer would misplan this join.
    Two keyed aggs + one bounded-by-users equi-join of 2-column
    aggregates + a 1-row final agg; nothing here scales with the join
    OUTPUT, which is the point."""
    ev = load(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").groupBy("user_id").agg(
        F.count("*").alias("c1")
    )
    purch = ev.where(F.col("event_type") == "purchase").groupBy("user_id").agg(
        F.count("*").alias("c2")
    )
    joined = clicks.join(purch, "user_id")
    exact = joined.agg(
        F.sum(F.col("c1") * F.col("c2")).alias("exact_pairs")
    )
    lstats = clicks.agg(
        F.sum("c1").alias("n_left"), F.count("*").alias("ndv_left")
    )
    rstats = purch.agg(
        F.sum("c2").alias("n_right"), F.count("*").alias("ndv_right")
    )
    est = (
        F.col("n_left")
        * F.col("n_right")
        / F.greatest("ndv_left", "ndv_right").cast("double")
    )
    return (
        lstats.crossJoin(F.broadcast(rstats))
        .crossJoin(F.broadcast(exact))
        .select(
            "n_left", "n_right", "ndv_left", "ndv_right",
            F.coalesce("exact_pairs", F.lit(0)).alias("exact_pairs"),
            rnd(est, 2).alias("est_independent"),
            rnd(F.coalesce("exact_pairs", F.lit(0)) / est, 4).alias(
                "skew_factor"
            ),
        )
    )


_JOIN_SIZE_ORACLE = """
WITH clicks AS (
  SELECT user_id, count(*) AS c1 FROM events
  WHERE event_type = 'click' GROUP BY user_id
),
purch AS (
  SELECT user_id, count(*) AS c2 FROM events
  WHERE event_type = 'purchase' GROUP BY user_id
),
exact AS (
  SELECT CAST(coalesce(sum(c1 * c2), 0) AS BIGINT) AS exact_pairs
  FROM clicks JOIN purch USING (user_id)
),
ls AS (SELECT CAST(sum(c1) AS BIGINT) AS n_left, count(*) AS ndv_left FROM clicks),
rs AS (SELECT CAST(sum(c2) AS BIGINT) AS n_right, count(*) AS ndv_right FROM purch)
SELECT n_left, n_right, ndv_left, ndv_right, exact_pairs,
       round(n_left * n_right / CAST(greatest(ndv_left, ndv_right) AS DOUBLE)
             + 1e-6, 2) AS est_independent,
       round(exact_pairs
             / (n_left * n_right / CAST(greatest(ndv_left, ndv_right) AS DOUBLE))
             + 1e-6, 4) AS skew_factor
FROM ls CROSS JOIN rs CROSS JOIN exact
"""


# --------------------------------------------------------------------------
# 31. Markov stationary distribution (unrolled power iteration)
# --------------------------------------------------------------------------

#: power-iteration steps; the 5-state chain converges to 6dp well within.
MARKOV_ITERS = 12


def markov_stationary_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stationary distribution π = πP of the per-user event-type Markov
    chain — the long-run behavioral mix ``event_transition_matrix``'s
    one-step probabilities imply, via MARKOV_ITERS unrolled power-
    iteration steps from a uniform start, renormalized at the end so
    any mass lost to outgoing-edge-free states cancels.

    The iteration state is the |types|-row π vector — a BOUNDED
    aggregate (event-type domain, not data volume), so each unrolled
    step is a tiny broadcast join + 5-row agg and the whole chain stays
    lazy inside one plan: the PageRank pattern on a closed-form-sized
    matrix, no driver loop, no collect."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    pairs = ev.select(
        F.lag("event_type", 1).over(w).alias("from_type"),
        F.col("event_type").alias("to_type"),
    ).where(F.col("from_type").isNotNull())
    counts = pairs.groupBy("from_type", "to_type").agg(F.count("*").alias("n"))
    wf = Window.partitionBy("from_type")
    trans = counts.select(
        "from_type", "to_type",
        (F.col("n") / F.sum("n").over(wf)).alias("tp"),
    )
    wall = Window.partitionBy()
    pi = (
        ev.select(F.col("event_type").alias("state"))
        .distinct()
        .select("state", (F.lit(1.0) / F.count("*").over(wall)).alias("p"))
    )
    for _ in range(MARKOV_ITERS):
        pi = (
            pi.join(F.broadcast(trans), F.col("state") == F.col("from_type"))
            .groupBy(F.col("to_type").alias("state"))
            .agg(F.sum(F.col("p") * F.col("tp")).alias("p"))
        )
    return pi.select(
        "state",
        rnd(F.col("p") / F.sum("p").over(wall), 6).alias("stationary_p"),
    )


def _markov_oracle() -> str:
    steps = []
    for k in range(1, MARKOV_ITERS + 1):
        steps.append(
            f"it{k} AS (\n"
            f"  SELECT t.to_type AS state, sum(prev.p * t.p) AS p\n"
            f"  FROM it{k - 1} prev JOIN trans t ON prev.state = t.from_type\n"
            f"  GROUP BY t.to_type\n)"
        )
    return f"""
WITH pairs AS (
  SELECT lag(event_type) OVER (PARTITION BY user_id
           ORDER BY ts, event_id) AS from_type,
         event_type AS to_type
  FROM events
),
counts AS (
  SELECT from_type, to_type, count(*) AS n
  FROM pairs WHERE from_type IS NOT NULL GROUP BY 1, 2
),
trans AS (
  SELECT from_type, to_type,
         n * 1.0 / sum(n) OVER (PARTITION BY from_type) AS p
  FROM counts
),
states AS (SELECT DISTINCT event_type AS state FROM events),
it0 AS (SELECT state, 1.0 / (SELECT count(*) FROM states) AS p FROM states),
{", ".join(steps)}
SELECT state,
       round(p / sum(p) OVER () + 1e-6, 6) AS stationary_p
FROM it{MARKOV_ITERS}
"""


# --------------------------------------------------------------------------
# 32. negative-sampling table (word2vec unigram^0.75)
# --------------------------------------------------------------------------

#: vocabulary cap and temperature of the sampling table.
NEG_TABLE_N = 200
NEG_TABLE_ALPHA = 0.75


def negative_sampling_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """word2vec-style negative-sampling table: the top-N vocabulary by
    corpus frequency with unigram^0.75-tempered sampling probabilities
    and their cumulative bands — the [cum_lo, cum_hi) lookup a sampler
    inverts a uniform draw against, and the token-level sibling of
    ``temperature_mixture_weights``.  One token-count agg, a TOP-N
    (orderBy+limit → TakeOrdered, never a global sort), then windows
    over the N-row result only."""
    docs = load(spark, sf_dir, "documents")
    counts = (
        docs.select(F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("c"))
    )
    top = counts.orderBy(F.col("c").desc(), F.col("tok").asc()).limit(
        NEG_TABLE_N
    )
    w_ord = Window.orderBy(F.col("c").desc(), F.col("tok").asc())
    wall = Window.partitionBy()
    weighted = top.select(
        "tok", "c",
        F.pow(F.col("c").cast("double"), NEG_TABLE_ALPHA).alias("wt"),
        F.row_number().over(w_ord).cast("long").alias("rank"),
    )
    probs = weighted.select(
        "rank", "tok", "c",
        (F.col("wt") / F.sum("wt").over(wall)).alias("p"),
    )
    w_cum = Window.orderBy("rank").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return probs.select(
        "rank",
        F.col("tok").alias("token"),
        F.col("c").alias("n_occurrences"),
        rnd("p", 6).alias("sample_p"),
        rnd(F.sum("p").over(w_cum), 6).alias("cum_hi"),
    )


_NEG_TABLE_ORACLE = f"""
WITH counts AS (
  SELECT unnest(string_split(text, ' ')) AS tok FROM documents
),
agg AS (SELECT tok, count(*) AS c FROM counts GROUP BY tok),
ranked AS (
  SELECT tok, c,
         row_number() OVER (ORDER BY c DESC, tok ASC) AS rk
  FROM agg
),
top AS (
  SELECT tok, c, CAST(rk AS BIGINT) AS rank,
         pow(CAST(c AS DOUBLE), {NEG_TABLE_ALPHA}) AS wt
  FROM ranked WHERE rk <= {NEG_TABLE_N}
),
probs AS (
  SELECT rank, tok, c, wt / sum(wt) OVER () AS p
  FROM top
)
SELECT rank, tok AS token, c AS n_occurrences,
       round(p + 1e-6, 6) AS sample_p,
       round(sum(p) OVER (ORDER BY rank
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) + 1e-6, 6)
         AS cum_hi
FROM probs
"""


# --------------------------------------------------------------------------
# 33. sequence-packing efficiency sweep
# --------------------------------------------------------------------------

#: candidate max sequence lengths for the packing decision table.
PACKING_LENGTHS = (512, 1024, 2048, 4096)


def packing_efficiency_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing decision table: for each candidate max sequence length,
    the naive sequence count (one padded sequence per document chunk,
    Σ ceil(tokᵢ/L)), the bin-packing lower bound (ceil(Σtok/L)), the
    naive padding utilization, and the maximum compaction a perfect
    packer could reach — the numbers that choose L before running the
    actual ``sequence_packing``.  Always-emits every candidate via a
    4-row broadcast + conditional agg; integer ceil-div on both engines
    so floats never touch the counts."""
    docs = load(spark, sf_dir, "documents")
    scored = docs.select(
        F.size(F.split("text", " ")).cast("long").alias("n_tokens")
    )
    lens = spark.createDataFrame(
        [(l,) for l in PACKING_LENGTHS], "max_len bigint"
    )
    per = (
        scored.crossJoin(F.broadcast(lens))
        .groupBy("max_len")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.sum(
                F.expr("(n_tokens + max_len - 1) div max_len")
            ).alias("naive_seqs"),
        )
    )
    lb = F.expr("(total_tokens + max_len - 1) div max_len")
    return per.select(
        "max_len", "n_docs", "total_tokens", "naive_seqs",
        lb.alias("packed_lower_bound"),
        rnd(
            F.col("total_tokens")
            / (F.col("naive_seqs") * F.col("max_len")).cast("double"),
            6,
        ).alias("naive_utilization"),
        rnd(F.col("naive_seqs") / lb.cast("double"), 4).alias(
            "max_compaction"
        ),
    )


_PACKING_ORACLE = f"""
WITH scored AS (
  SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
  FROM documents
),
lens AS (SELECT unnest([{", ".join(str(l) for l in PACKING_LENGTHS)}]) AS max_len),
per AS (
  SELECT max_len, count(*) AS n_docs,
         CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
         CAST(sum((n_tokens + max_len - 1) // max_len) AS BIGINT)
           AS naive_seqs
  FROM scored CROSS JOIN lens GROUP BY max_len
)
SELECT CAST(max_len AS BIGINT) AS max_len, n_docs, total_tokens, naive_seqs,
       CAST((total_tokens + max_len - 1) // max_len AS BIGINT)
         AS packed_lower_bound,
       round(total_tokens / CAST(naive_seqs * max_len AS DOUBLE) + 1e-6, 6)
         AS naive_utilization,
       round(naive_seqs
             / CAST((total_tokens + max_len - 1) // max_len AS DOUBLE)
             + 1e-6, 4) AS max_compaction
FROM per
"""


# --------------------------------------------------------------------------
# 34. weekday × hour activity heatmap
# --------------------------------------------------------------------------

def weekday_hour_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week × hour-of-day activity heatmap with row-normalized
    shares and a per-day peak-hour flag — the 2-D upgrade of
    ``hourly_seasonal_profile`` and the table capacity planning and
    anomaly baselines read.  Day-of-week is computed as
    (epoch_days + 4) mod 7 (Sunday = 0) on BOTH engines, sidestepping
    the Spark-dayofweek-is-1-based vs DuckDB-dow-is-0-based trap.
    One 168-key hash agg + windows over the bounded result."""
    ev = load(spark, sf_dir, "events")
    sec = F.col("ts").cast("double")
    dow = ((F.floor(sec / 86400) + 4) % 7).cast("int")
    hour = (F.floor(sec / 3600) % 24).cast("int")
    cell = ev.groupBy(dow.alias("dow"), hour.alias("hour")).agg(
        F.count("*").alias("n_events")
    )
    wd = Window.partitionBy("dow")
    return cell.select(
        "dow", "hour", "n_events",
        rnd(F.col("n_events") / F.sum("n_events").over(wd), 6).alias(
            "dow_share"
        ),
        (F.col("n_events") == F.max("n_events").over(wd)).alias(
            "is_peak_hour"
        ),
    )


_HEATMAP_ORACLE = """
WITH cell AS (
  SELECT CAST((CAST(floor(epoch(ts) / 86400) AS BIGINT) + 4) % 7 AS INTEGER)
           AS dow,
         CAST(CAST(floor(epoch(ts) / 3600) AS BIGINT) % 24 AS INTEGER)
           AS hour,
         count(*) AS n_events
  FROM events GROUP BY 1, 2
)
SELECT dow, hour, n_events,
       round(n_events * 1.0 / sum(n_events) OVER (PARTITION BY dow)
             + 1e-6, 6) AS dow_share,
       n_events = max(n_events) OVER (PARTITION BY dow) AS is_peak_hour
FROM cell
"""


# --------------------------------------------------------------------------
# 35. audio feature extraction (real vendored WAV decode)
# --------------------------------------------------------------------------

def audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Waveform statistics over binary WAV payloads — duration, mean/
    peak amplitude, RMS, zero-crossing count — through the REAL vendored
    RIFF/PCM parser (pipeline/multimodal.py: encode_wav/decode_wav),
    the audio row of the multimodal matrix next to the BMP image path.
    The fixture synthesizes deterministic int16 PCM per audio doc
    (``wav_sample`` is a pure function of (doc_id, i)), so the DuckDB
    oracle recomputes the decoded waveform in closed form and the hash
    check verifies the container parse end-to-end.  Two Arrow-batched
    mapInPandas stages; work is repartitioned by doc_id so decode
    spreads evenly at any corpus size."""
    from flink_cookbook_spark.pipeline.multimodal import audio_features_df

    feats = audio_features_df(spark, sf_dir)
    return feats.select(
        "doc_id", "n_samples", "sample_rate",
        rnd("duration_s", 6).alias("duration_s"),
        rnd("mean_amp", 4).alias("mean_amp"),
        "peak_amp",
        rnd("rms", 4).alias("rms"),
        "zero_crossings",
    )


def _audio_oracle() -> str:
    from flink_cookbook_spark.pipeline.multimodal import WAV_EVERY, WAV_RATE

    return f"""
WITH a AS (
  SELECT doc_id, 64 + doc_id % 128 AS n,
         [(doc_id * 37 + i * 251) % 2003 - 1001
          for i in range(0, 64 + doc_id % 128)] AS s
  FROM documents WHERE doc_id % {WAV_EVERY} = 0
),
m AS (
  SELECT doc_id, n,
         list_sum([abs(x) for x in s]) AS sum_abs,
         list_max([abs(x) for x in s]) AS peak,
         list_sum([x * x for x in s]) AS sq,
         len([i for i in range(2, n + 1)
              if (s[i - 1] < 0) <> (s[i] < 0)]) AS zc
  FROM a
)
SELECT doc_id,
       CAST(n AS INTEGER) AS n_samples,
       {WAV_RATE} AS sample_rate,
       round(n / {WAV_RATE}.0 + 1e-6, 6) AS duration_s,
       round(sum_abs * 1.0 / n + 1e-6, 4) AS mean_amp,
       CAST(peak AS INTEGER) AS peak_amp,
       round(sqrt(sq * 1.0 / n) + 1e-6, 4) AS rms,
       CAST(zc AS INTEGER) AS zero_crossings
FROM m
"""


# --------------------------------------------------------------------------
# 36. mergeable moments sketch (skewness/kurtosis without raw rescan)
# --------------------------------------------------------------------------

def moments_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable moments sketch over event values: hourly partials of
    the raw power sums (n, Σx, Σx², Σx³, Σx⁴) merged per event type
    into mean/std/skewness/excess-kurtosis — the higher-moment member
    of the HLL/KMV/bitmap/count-min mergeable-sketch family
    (cf. the moments-sketch literature), giving distribution-shape
    monitoring from partials alone, no raw rescan at merge time.
    Two stacked hash aggregates; the merge input is |types|×|hours|
    rows however large the raw stream is."""
    ev = load(spark, sf_dir, "events")
    hr = F.floor(F.col("ts").cast("double") / 3600).alias("hr")
    v = F.col("value")
    partial = ev.groupBy("event_type", hr).agg(
        F.count("*").alias("n"),
        F.sum(v).alias("s1"),
        F.sum(v * v).alias("s2"),
        F.sum(v * v * v).alias("s3"),
        F.sum(v * v * v * v).alias("s4"),
    )
    merged = partial.groupBy("event_type").agg(
        F.count("*").alias("n_partials"),
        F.sum("n").alias("n"),
        F.sum("s1").alias("s1"),
        F.sum("s2").alias("s2"),
        F.sum("s3").alias("s3"),
        F.sum("s4").alias("s4"),
    )
    n = F.col("n").cast("double")
    mu = F.col("s1") / n
    m2 = F.col("s2") / n - mu * mu
    m3 = F.col("s3") / n - 3.0 * mu * (F.col("s2") / n) + 2.0 * mu * mu * mu
    m4 = (
        F.col("s4") / n
        - 4.0 * mu * (F.col("s3") / n)
        + 6.0 * mu * mu * (F.col("s2") / n)
        - 3.0 * mu * mu * mu * mu
    )
    return merged.select(
        "event_type", "n_partials", "n",
        rnd(mu, 4).alias("mean"),
        rnd(F.sqrt(m2), 4).alias("std"),
        rnd(m3 / F.pow(m2, 1.5), 4).alias("skewness"),
        rnd(m4 / (m2 * m2) - 3.0, 4).alias("kurtosis_excess"),
    )


_MOMENTS_ORACLE = """
WITH partial AS (
  SELECT event_type, CAST(floor(epoch(ts) / 3600) AS BIGINT) AS hr,
         count(*) AS n,
         sum(value) AS s1,
         sum(value * value) AS s2,
         sum(value * value * value) AS s3,
         sum(value * value * value * value) AS s4
  FROM events GROUP BY 1, 2
),
merged AS (
  SELECT event_type, count(*) AS n_partials,
         CAST(sum(n) AS BIGINT) AS n,
         sum(s1) AS s1, sum(s2) AS s2, sum(s3) AS s3, sum(s4) AS s4
  FROM partial GROUP BY event_type
),
m AS (
  SELECT event_type, n_partials, n,
         s1 / n AS mu,
         s2 / n - (s1 / n) * (s1 / n) AS m2,
         s3 / n - 3.0 * (s1 / n) * (s2 / n)
           + 2.0 * (s1 / n) * (s1 / n) * (s1 / n) AS m3,
         s4 / n - 4.0 * (s1 / n) * (s3 / n)
           + 6.0 * (s1 / n) * (s1 / n) * (s2 / n)
           - 3.0 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n) AS m4
  FROM merged
)
SELECT event_type, n_partials, n,
       round(mu + 1e-6, 4) AS mean,
       round(sqrt(m2) + 1e-6, 4) AS std,
       round(m3 / pow(m2, 1.5) + 1e-6, 4) AS skewness,
       round(m4 / (m2 * m2) - 3.0 + 1e-6, 4) AS kurtosis_excess
FROM m
"""


# --------------------------------------------------------------------------
# 37. measured LSH recall/precision audit
# --------------------------------------------------------------------------

def lsh_recall_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MEASURED recall and precision of the LSH candidate stage against
    ground truth (exact 3-gram Jaccard ≥ 0.5 via the inverted shingle
    index), next to the analytic s-curve expectation
    1−(1−J^r)^b at J = 0.5 — the empirical complement of
    ``minhash_band_sensitivity``'s purely analytic sweep, and the number
    that justifies (or indicts) the shipped band configuration on the
    REAL corpus.  All three inputs are existing bounded shapes (shingle
    inverted index, banded candidate equi-join); the audit itself is
    two 1-row aggregates joined — nothing scales beyond the dedup
    pipeline it measures."""
    from flink_cookbook_spark.pipeline.dedup import (
        JACCARD_THRESHOLD, LSH_BANDS, LSH_ROWS,
        _lsh_candidates_df, _shingles,
    )

    sh = _shingles(spark, sf_dir)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc1"), F.col("b.doc_id").alias("doc2"))
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc1"), F.col("n_shingles").alias("n1"))
    sb = sizes.select(F.col("doc_id").alias("doc2"), F.col("n_shingles").alias("n2"))
    truth = (
        inter.join(sa, "doc1")
        .join(sb, "doc2")
        .where(
            F.col("n_common") / (F.col("n1") + F.col("n2") - F.col("n_common"))
            >= JACCARD_THRESHOLD
        )
        .select("doc1", "doc2")
    )
    cand = _lsh_candidates_df(spark, sf_dir)
    hits = truth.join(cand, ["doc1", "doc2"], "left_semi")
    nt = truth.agg(F.count("*").alias("n_true_pairs"))
    nc = cand.agg(F.count("*").alias("n_candidates"))
    nh = hits.agg(F.count("*").alias("n_hits"))
    s_curve = 1.0 - F.pow(
        1.0 - F.pow(F.lit(JACCARD_THRESHOLD), F.lit(LSH_ROWS)),
        F.lit(LSH_BANDS),
    )
    return (
        nt.crossJoin(F.broadcast(nc))
        .crossJoin(F.broadcast(nh))
        .select(
            "n_true_pairs", "n_candidates", "n_hits",
            rnd(
                F.when(F.col("n_true_pairs") > 0,
                       F.col("n_hits") / F.col("n_true_pairs"))
                .otherwise(1.0), 6,
            ).alias("recall"),
            rnd(
                F.when(F.col("n_candidates") > 0,
                       F.col("n_hits") / F.col("n_candidates"))
                .otherwise(1.0), 6,
            ).alias("candidate_precision"),
            rnd(s_curve, 6).alias("s_curve_recall_at_threshold"),
        )
    )


def _lsh_recall_oracle() -> str:
    from flink_cookbook_spark.pipeline.dedup import (
        JACCARD_THRESHOLD, LSH_BANDS, LSH_ROWS,
        _SHINGLES_CTE, _band_sql, _minhash_sql_cols,
    )

    return (
        "WITH "
        + _SHINGLES_CTE
        + f""",
sizes AS (SELECT doc_id, count(*) AS n_shingles FROM shingles GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS n_common
  FROM shingles a JOIN shingles b
    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
truth AS (
  SELECT doc1, doc2
  FROM inter
  JOIN sizes sa ON sa.doc_id = doc1
  JOIN sizes sb ON sb.doc_id = doc2
  WHERE n_common * 1.0 / (sa.n_shingles + sb.n_shingles - n_common)
        >= {JACCARD_THRESHOLD}
),
sigs AS (
  SELECT doc_id,
         {_minhash_sql_cols()}
  FROM shingles GROUP BY doc_id
),
stacked AS (
  SELECT doc_id, band_id,
         CASE band_id
           {" ".join(f"WHEN {b} THEN {_band_sql(b)}" for b in range(LSH_BANDS))}
         END AS band_key
  FROM sigs, (SELECT unnest(range(0, {LSH_BANDS})) AS band_id)
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
  FROM stacked a JOIN stacked b
    ON a.band_id = b.band_id AND a.band_key = b.band_key
   AND a.doc_id < b.doc_id
),
nt AS (SELECT count(*) AS n_true_pairs FROM truth),
nc AS (SELECT count(*) AS n_candidates FROM cand),
nh AS (SELECT count(*) AS n_hits
       FROM truth t JOIN cand c ON t.doc1 = c.doc1 AND t.doc2 = c.doc2)
SELECT n_true_pairs, n_candidates, n_hits,
       round(CASE WHEN n_true_pairs > 0
                  THEN n_hits * 1.0 / n_true_pairs ELSE 1.0 END + 1e-6, 6)
         AS recall,
       round(CASE WHEN n_candidates > 0
                  THEN n_hits * 1.0 / n_candidates ELSE 1.0 END + 1e-6, 6)
         AS candidate_precision,
       round(1.0 - pow(1.0 - pow({JACCARD_THRESHOLD}, {LSH_ROWS}),
                       {LSH_BANDS}) + 1e-6, 6)
         AS s_curve_recall_at_threshold
FROM nt CROSS JOIN nc CROSS JOIN nh
"""
    )


# --------------------------------------------------------------------------
# 38. inter-arrival time profile per event type
# --------------------------------------------------------------------------

def interarrival_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival gap distribution per event type: p50/p90/p99 gap
    seconds, mean, and the coefficient of variation (CV > 1 = burstier
    than Poisson) — the jitter profile behind trigger-interval and
    timeout tuning, complementing ``event_rate_profile`` (rates) and
    ``burstiness_fano`` (per-user dispersion).

    Scale shape: the lag() window partitions on (event_type, DAY) so no
    partition outgrows a day's volume — a plain per-type partition would
    funnel N/|types| rows through one task at 100 TB.  The day-boundary
    gap (≤1 per type per day) is deliberately excluded and that census
    choice is mirrored in the oracle."""
    ev = load(spark, sf_dir, "events")
    sec = F.col("ts").cast("double")
    day = F.floor(sec / 86400)
    w = Window.partitionBy("event_type", day.alias("day")).orderBy(
        sec.asc(), F.col("event_id").asc()
    )
    gaps = ev.select(
        "event_type",
        (sec - F.lag(sec, 1).over(w)).alias("gap"),
    ).where(F.col("gap").isNotNull())
    return gaps.groupBy("event_type").agg(
        F.count("*").alias("n_gaps"),
        rnd(F.avg("gap"), 4).alias("mean_gap_s"),
        rnd(F.expr("percentile(gap, 0.5)"), 4).alias("p50_gap_s"),
        rnd(F.expr("percentile(gap, 0.9)"), 4).alias("p90_gap_s"),
        rnd(F.expr("percentile(gap, 0.99)"), 4).alias("p99_gap_s"),
        rnd(F.stddev_pop("gap") / F.avg("gap"), 4).alias("cv"),
    )


_INTERARRIVAL_ORACLE = """
WITH g AS (
  SELECT event_type,
         epoch(ts) - lag(epoch(ts)) OVER (
           PARTITION BY event_type, CAST(floor(epoch(ts) / 86400) AS BIGINT)
           ORDER BY epoch(ts), event_id) AS gap
  FROM events
)
SELECT event_type, count(*) AS n_gaps,
       round(avg(gap) + 1e-6, 4) AS mean_gap_s,
       round(quantile_cont(gap, 0.5) + 1e-6, 4) AS p50_gap_s,
       round(quantile_cont(gap, 0.9) + 1e-6, 4) AS p90_gap_s,
       round(quantile_cont(gap, 0.99) + 1e-6, 4) AS p99_gap_s,
       round(stddev_pop(gap) / avg(gap) + 1e-6, 4) AS cv
FROM g WHERE gap IS NOT NULL GROUP BY event_type
"""


# --------------------------------------------------------------------------
# 39. customer-revenue decile lift table (broadcast quantile boundaries)
# --------------------------------------------------------------------------

def decile_lift_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue decile lift table over customers — per value-decile:
    customer count, revenue share, cumulative share, and lift vs a
    uniform 10% — the marketing/finance view whose 80/20 shape
    ``revenue_concentration_gini`` compresses to one number.

    Scale design (the reason this is NOT a global ntile): decile
    BOUNDARIES come from one exact-percentile aggregate (a 1-row,
    9-value result, broadcast), and assignment is a map-only comparison
    against that array — no global sort, no single-partition ranking
    window, ties assigned by value identically on both engines.  The
    only windows run over the ≤10-row decile aggregate.  Boundaries are
    DISCRETE percentiles (actual revenue values) rather than
    interpolated ones: an interpolated boundary differs between engines
    in the last ulp and, when duplicate revenues sit at a decile edge,
    reclassifies a whole duplicate run (caught by the 10x probe —
    Spark/DuckDB disagreed on 10 replicated customers); a discrete
    boundary is the same stored double on both sides.

    Money discipline (caught by the 100x probe, twice): EVERY revenue
    here is the exact DECIMAL sum (operators/tpch.py discipline). The
    per-decile totals flipped a cent in double at 4.6e11 money units —
    and after that first conversion the re-probe caught the subtler
    layer: the per-CUSTOMER double sum (then still the boundary /
    assignment quantity) differs between engines by an ulp at scale, so
    customers tied AT a decile boundary flipped sides (14 of 1.5M).
    Discrete boundaries only help when the quantity they slice is
    itself engine-identical — so ordering, boundaries, and assignment
    all run on the exact decimal as well."""
    orders = load(spark, sf_dir, "orders")
    rev = orders.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(14,2)")).alias("rev_d"),
    )
    rev.createOrReplaceTempView("_fcs_decile_rev")
    qs = [i / 10.0 for i in range(1, 10)]
    bounds = spark.sql(
        "SELECT array("
        + ", ".join(
            f"percentile_disc({q}) WITHIN GROUP (ORDER BY rev_d)" for q in qs
        )
        + ") AS bounds FROM _fcs_decile_rev"
    )
    assigned = (
        rev.crossJoin(F.broadcast(bounds))
        .select(
            "rev_d",
            (
                1
                + F.aggregate(
                    F.transform(
                        "bounds",
                        lambda b: (F.col("rev_d") > b).cast("int"),
                    ),
                    F.lit(0),
                    lambda acc, x: acc + x,
                )
            ).alias("decile"),
        )
    )
    per = assigned.groupBy("decile").agg(
        F.count("*").alias("n_customers"),
        F.sum("rev_d").alias("decile_rev_d"),
    )
    wall = Window.partitionBy()
    w_cum = Window.orderBy(F.col("decile").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    # exact decimal -> double: the same stored double on both engines
    # (unscaled sums sit orders below the 2^53 cast boundary)
    rev_dbl = F.col("decile_rev_d").cast("double")
    share = rev_dbl / F.sum("decile_rev_d").over(wall).cast("double")
    return per.select(
        "decile",
        "n_customers",
        F.round(F.col("decile_rev_d"), 2).cast("double").alias("decile_rev"),
        rnd(share, 6).alias("rev_share"),
        rnd(F.sum(share).over(w_cum), 6).alias("cum_share_from_top"),
        rnd(share * 10.0, 4).alias("lift"),
    )


_DECILE_ORACLE = """
WITH rev AS (
  SELECT o_custkey,
         sum(CAST(o_totalprice AS DECIMAL(14,2))) AS rev_d
  FROM orders GROUP BY o_custkey
),
bounds AS (
  SELECT quantile_disc(rev_d, [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9])
           AS bs
  FROM rev
),
assigned AS (
  SELECT rev_d,
         1 + list_sum([CASE WHEN rev_d > b THEN 1 ELSE 0 END for b in bs])
           AS decile
  FROM rev CROSS JOIN bounds
),
per AS (
  SELECT decile, count(*) AS n_customers, sum(rev_d) AS decile_rev_d
  FROM assigned GROUP BY decile
),
shared AS (
  SELECT CAST(decile AS INTEGER) AS decile, n_customers, decile_rev_d,
         CAST(decile_rev_d AS DOUBLE) /
           CAST(sum(decile_rev_d) OVER () AS DOUBLE) AS share
  FROM per
)
SELECT decile, n_customers,
       CAST(round(decile_rev_d, 2) AS DOUBLE) AS decile_rev,
       round(share + 1e-6, 6) AS rev_share,
       round(sum(share) OVER (ORDER BY decile DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) + 1e-6, 6)
         AS cum_share_from_top,
       round(share * 10.0 + 1e-6, 4) AS lift
FROM shared
"""


# --------------------------------------------------------------------------
# 40. water-filling token-budget allocation across sources
# --------------------------------------------------------------------------

#: fraction of the corpus token total handed out as the budget, and the
#: number of unrolled cap-and-redistribute rounds.
WF_BUDGET_FRACTION = 0.5
WF_ROUNDS = 4


def water_filling_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Water-filling allocation of a token budget across sources: each
    source wants budget·wᵢ/Σw (sqrt-tempered weights, so small sources
    are boosted), but no source can give more than it HAS — capped
    sources take their full availability and the surplus re-spreads
    over the rest, for WF_ROUNDS unrolled rounds.  This is the
    feasibility-aware step after ``temperature_mixture_weights``: that
    query prescribes the ideal mix, this one fits it to the corpus.

    Weights use sqrt(c) rather than pow(c, α): sqrt is IEEE-exact on
    both engines while pow differs in the last ulp across libms, and a
    1-ulp weight difference can flip a cap decision (the decile-boundary
    lesson).  Every iteration is a window pass over the |sources| rows
    of the per-source aggregate — the unrolled state is bounded by the
    source domain, never by corpus size."""
    docs = load(spark, sf_dir, "documents")
    per_src = docs.groupBy("source").agg(
        F.sum(F.size(F.split("text", " ")).cast("long")).alias("ci")
    )
    wall = Window.partitionBy()
    st = per_src.select(
        "source",
        F.col("ci").cast("double").alias("c"),
        F.sqrt(F.col("ci").cast("double")).alias("w"),
        F.lit(None).cast("double").alias("alloc"),
        F.lit(False).alias("capped"),
        (F.lit(WF_BUDGET_FRACTION) * F.sum(F.col("ci").cast("double")).over(wall)).alias("b"),
    )
    for _ in range(WF_ROUNDS):
        r = F.col("b") - F.coalesce(
            F.sum(F.when(F.col("capped"), F.col("alloc"))).over(wall), F.lit(0.0)
        )
        sumw = F.sum(F.when(~F.col("capped"), F.col("w"))).over(wall)
        tent = (r * F.col("w")) / sumw
        now_capped = (~F.col("capped")) & (tent >= F.col("c"))
        st = st.select(
            "source", "c", "w",
            F.when(F.col("capped"), F.col("alloc"))
            .when(now_capped, F.col("c"))
            .otherwise(F.lit(None).cast("double"))
            .alias("alloc"),
            (F.col("capped") | now_capped).alias("capped"),
            "b",
        )
    r = F.col("b") - F.coalesce(
        F.sum(F.when(F.col("capped"), F.col("alloc"))).over(wall), F.lit(0.0)
    )
    sumw = F.sum(F.when(~F.col("capped"), F.col("w"))).over(wall)
    final_alloc = F.coalesce(F.col("alloc"), (r * F.col("w")) / sumw)
    return st.select(
        "source",
        F.col("c").cast("long").alias("available_tokens"),
        rnd(final_alloc, 2).alias("allocated_tokens"),
        F.col("capped"),
        rnd(final_alloc / F.col("c"), 6).alias("fill_ratio"),
    )


def _water_filling_oracle() -> str:
    rounds = []
    prev = "r0"
    for k in range(1, WF_ROUNDS + 1):
        cur = f"r{k}"
        rounds.append(f"""
{cur} AS (
  SELECT source, c, w,
         CASE WHEN capped THEN alloc
              WHEN ((b - coalesce(sum(CASE WHEN capped THEN alloc END)
                                  OVER (), 0.0)) * w)
                   / sum(CASE WHEN NOT capped THEN w END) OVER () >= c
              THEN c ELSE NULL END AS alloc,
         capped OR (NOT capped AND
           ((b - coalesce(sum(CASE WHEN capped THEN alloc END)
                          OVER (), 0.0)) * w)
           / sum(CASE WHEN NOT capped THEN w END) OVER () >= c) AS capped,
         b
  FROM {prev}
)""")
        prev = cur
    return f"""
WITH per_src AS (
  SELECT source,
         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS ci
  FROM documents GROUP BY source
),
r0 AS (
  SELECT source, CAST(ci AS DOUBLE) AS c, sqrt(CAST(ci AS DOUBLE)) AS w,
         CAST(NULL AS DOUBLE) AS alloc, FALSE AS capped,
         {WF_BUDGET_FRACTION} * sum(CAST(ci AS DOUBLE)) OVER () AS b
  FROM per_src
),
{", ".join(rounds)},
fin AS (
  SELECT source, c, capped,
         coalesce(alloc,
           ((b - coalesce(sum(CASE WHEN capped THEN alloc END)
                          OVER (), 0.0)) * w)
           / sum(CASE WHEN NOT capped THEN w END) OVER ()) AS alloc
  FROM {prev}
)
SELECT source, CAST(c AS BIGINT) AS available_tokens,
       round(alloc + 1e-6, 2) AS allocated_tokens,
       capped,
       round(alloc / c + 1e-6, 6) AS fill_ratio
FROM fin
"""


# --------------------------------------------------------------------------
# 41. anomaly-detector ensemble consensus
# --------------------------------------------------------------------------

def anomaly_ensemble_consensus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three robust outlier screens voting per event type — z-score
    (mean ± 3σ), MAD (median ± 3.5·1.4826·MAD), and Tukey IQR fences
    (q1 − 1.5·IQR, q3 + 1.5·IQR) — with flag counts per method and the
    2-of-3 / 3-of-3 consensus that a production alerting rule actually
    pages on (single-method flags are noise candidates by definition).
    All location statistics are DISCRETE percentiles (stored values —
    identical doubles on both engines; interpolation would reopen the
    ulp trap).  Three stacked aggregates with 1-row-per-type broadcast
    joins; nothing scales beyond the raw scan."""
    ev = load(spark, sf_dir, "events").select("event_type", "value")
    ev.createOrReplaceTempView("_fcs_ens_events")
    stats = spark.sql(
        """
        SELECT event_type,
               avg(value) AS mu,
               stddev_pop(value) AS sigma,
               percentile_disc(0.5) WITHIN GROUP (ORDER BY value) AS med,
               percentile_disc(0.25) WITHIN GROUP (ORDER BY value) AS q1,
               percentile_disc(0.75) WITHIN GROUP (ORDER BY value) AS q3
        FROM _fcs_ens_events GROUP BY event_type
        """
    )
    with_stats = ev.join(F.broadcast(stats), "event_type")
    # MAD needs |v - med| materialized before its own percentile pass
    dev = with_stats.select(
        "event_type", "value", "mu", "sigma", "med", "q1", "q3",
        F.abs(F.col("value") - F.col("med")).alias("absdev"),
    )
    dev.createOrReplaceTempView("_fcs_ens_dev")
    madt = spark.sql(
        """
        SELECT event_type,
               percentile_disc(0.5) WITHIN GROUP (ORDER BY absdev) AS mad
        FROM _fcs_ens_dev GROUP BY event_type
        """
    )
    full = dev.join(F.broadcast(madt), "event_type")
    fz = F.abs(F.col("value") - F.col("mu")) > 3.0 * F.col("sigma")
    fm = F.abs(F.col("value") - F.col("med")) > 3.5 * 1.4826 * F.col("mad")
    iqr = F.col("q3") - F.col("q1")
    fi = (F.col("value") < F.col("q1") - 1.5 * iqr) | (
        F.col("value") > F.col("q3") + 1.5 * iqr
    )
    votes = fz.cast("int") + fm.cast("int") + fi.cast("int")
    return full.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(fz.cast("long")).alias("n_flag_z"),
        F.sum(fm.cast("long")).alias("n_flag_mad"),
        F.sum(fi.cast("long")).alias("n_flag_iqr"),
        F.sum((votes >= 2).cast("long")).alias("n_consensus2"),
        F.sum((votes == 3).cast("long")).alias("n_consensus3"),
    )


_ENSEMBLE_ORACLE = """
WITH stats AS (
  SELECT event_type,
         avg(value) AS mu,
         stddev_pop(value) AS sigma,
         quantile_disc(value, 0.5) AS med,
         quantile_disc(value, 0.25) AS q1,
         quantile_disc(value, 0.75) AS q3
  FROM events GROUP BY event_type
),
dev AS (
  SELECT e.event_type, e.value, s.mu, s.sigma, s.med, s.q1, s.q3,
         abs(e.value - s.med) AS absdev
  FROM events e JOIN stats s USING (event_type)
),
madt AS (
  SELECT event_type, quantile_disc(absdev, 0.5) AS mad
  FROM dev GROUP BY event_type
),
flags AS (
  SELECT d.event_type,
         CASE WHEN abs(d.value - d.mu) > 3.0 * d.sigma THEN 1 ELSE 0 END AS fz,
         CASE WHEN abs(d.value - d.med) > 3.5 * 1.4826 * m.mad
              THEN 1 ELSE 0 END AS fm,
         CASE WHEN d.value < d.q1 - 1.5 * (d.q3 - d.q1)
                OR d.value > d.q3 + 1.5 * (d.q3 - d.q1)
              THEN 1 ELSE 0 END AS fi
  FROM dev d JOIN madt m USING (event_type)
)
SELECT event_type, count(*) AS n,
       CAST(sum(fz) AS BIGINT) AS n_flag_z,
       CAST(sum(fm) AS BIGINT) AS n_flag_mad,
       CAST(sum(fi) AS BIGINT) AS n_flag_iqr,
       CAST(sum(CASE WHEN fz + fm + fi >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_consensus2,
       CAST(sum(CASE WHEN fz + fm + fi = 3 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_consensus3
FROM flags GROUP BY event_type
"""


register("pq_reconstruction_manifest", oracle=_pq_oracle(),
         tags=("prepared-r8",))(pq_reconstruction_manifest)
register("asof_tolerance_join", oracle=_ASOF_TOLERANCE_ORACLE,
         tags=("prepared-r8",))(asof_tolerance_join)
register("stratified_split_manifest", oracle=_SPLIT_ORACLE,
         tags=("prepared-r8",))(stratified_split_manifest)
register("approx_percentile_accuracy", oracle=_APPROX_PCT_ORACLE,
         tags=("prepared-r8",))(approx_percentile_accuracy)
register("lang_confusion_matrix", oracle=_lang_confusion_oracle(),
         tags=("prepared-r8",))(lang_confusion_matrix)
register("minhash_band_sensitivity", oracle=_band_sensitivity_oracle(),
         tags=("prepared-r8",))(minhash_band_sensitivity)
register("oov_rate", oracle=_OOV_ORACLE, tags=("prepared-r8",))(oov_rate)
register("embedding_centroid_drift", oracle=_CENTROID_DRIFT_ORACLE,
         tags=("prepared-r8",))(embedding_centroid_drift)
register("dedup_cluster_size_histogram", oracle=_cluster_histogram_oracle(),
         tags=("prepared-r8",))(dedup_cluster_size_histogram)
register("session_gap_calibration", oracle=_SESSION_GAP_ORACLE,
         tags=("prepared-r8",))(session_gap_calibration)
register("burstiness_fano", oracle=_BURSTINESS_ORACLE,
         tags=("prepared-r8",))(burstiness_fano)
register("lateness_profile", oracle=_LATENESS_ORACLE,
         tags=("prepared-r8",))(lateness_profile)
register("filter_funnel_report", oracle=_funnel_oracle(),
         tags=("prepared-r8",))(filter_funnel_report)
register("temperature_mixture_weights", oracle=_TEMPERATURE_ORACLE,
         tags=("prepared-r8",))(temperature_mixture_weights)
register("contrastive_pair_mining", oracle=_CONTRASTIVE_ORACLE,
         tags=("prepared-r8",))(contrastive_pair_mining)
register("event_rate_profile", oracle=_EVENT_RATE_ORACLE,
         tags=("prepared-r8",))(event_rate_profile)
register("zipf_fit", oracle=_ZIPF_ORACLE, tags=("prepared-r8",))(zipf_fit)
register("watermark_completeness_sweep", oracle=_WATERMARK_SWEEP_ORACLE,
         tags=("prepared-r8",))(watermark_completeness_sweep)
register("class_balance_report", oracle=_CLASS_BALANCE_ORACLE,
         tags=("prepared-r8",))(class_balance_report)
register("kaplan_meier_survival", oracle=_KM_ORACLE,
         tags=("prepared-r8",))(kaplan_meier_survival)
register("revenue_concentration_gini", oracle=_GINI_ORACLE,
         tags=("prepared-r8",))(revenue_concentration_gini)
register("periodogram_peaks", oracle=_periodogram_oracle(),
         tags=("prepared-r8",))(periodogram_peaks)
register("best_split_changepoint", oracle=_CHANGEPOINT_ORACLE,
         tags=("prepared-r8",))(best_split_changepoint)
register("knn_label_consistency", oracle=_KNN_ORACLE,
         tags=("prepared-r8",))(knn_label_consistency)
register("token_entropy_profile", oracle=_TOKEN_ENTROPY_ORACLE,
         tags=("prepared-r8",))(token_entropy_profile)
register("source_concentration_hhi", oracle=_HHI_ORACLE,
         tags=("prepared-r8",))(source_concentration_hhi)
register("event_trigram_motifs", oracle=_TRIGRAM_ORACLE,
         tags=("prepared-r8",))(event_trigram_motifs)
register("order_backlog_profile", oracle=_BACKLOG_ORACLE,
         tags=("prepared-r8",))(order_backlog_profile)
register("quality_threshold_sweep", oracle=_QUALITY_SWEEP_ORACLE,
         tags=("prepared-r8",))(quality_threshold_sweep)
register("join_size_estimator", oracle=_JOIN_SIZE_ORACLE,
         tags=("prepared-r8",))(join_size_estimator)
register("markov_stationary_distribution", oracle=_markov_oracle(),
         tags=("prepared-r8",))(markov_stationary_distribution)
register("negative_sampling_table", oracle=_NEG_TABLE_ORACLE,
         tags=("prepared-r8",))(negative_sampling_table)
register("packing_efficiency_report", oracle=_PACKING_ORACLE,
         tags=("prepared-r8",))(packing_efficiency_report)
register("weekday_hour_heatmap", oracle=_HEATMAP_ORACLE,
         tags=("prepared-r8",))(weekday_hour_heatmap)
register("audio_features", oracle=_audio_oracle(),
         tags=("prepared-r8",))(audio_features)
register("moments_sketch_rollup", oracle=_MOMENTS_ORACLE,
         tags=("prepared-r8",))(moments_sketch_rollup)
register("lsh_recall_estimate", oracle=_lsh_recall_oracle(),
         tags=("prepared-r8",))(lsh_recall_estimate)
register("interarrival_profile", oracle=_INTERARRIVAL_ORACLE,
         tags=("prepared-r8",))(interarrival_profile)
register("decile_lift_table", oracle=_DECILE_ORACLE,
         tags=("prepared-r8",))(decile_lift_table)
register("water_filling_allocation", oracle=_water_filling_oracle(),
         tags=("prepared-r8",))(water_filling_allocation)
register("anomaly_ensemble_consensus", oracle=_ENSEMBLE_ORACLE,
         tags=("prepared-r8",))(anomaly_ensemble_consensus)
