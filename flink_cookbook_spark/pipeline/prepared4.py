"""Fourth round-7 batch of round-8-prepared operators: text statistics,
graph shape, rank fusion, and resampling inference.

Same contract as ``prepared.py``. This batch
rounds out the analytics surface with (1) the classical lexical-
diversity statistics per document, (2) the degree distribution of the
co-purchase graph with a power-law tail fit, (3) reciprocal-rank
fusion of two vector rankings — the standard way a retrieval stack
combines heterogeneous scorers, and (4) a fully deterministic Poisson-
bootstrap confidence interval for a median — distribution-free
uncertainty for any pipeline metric, built only from md5 coins so the
DuckDB oracle replays it bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flink_cookbook_spark.catalog import load
from flink_cookbook_spark.pipeline.dedup import _SQL_HASH, _portable_hash
from flink_cookbook_spark.registry import register, rnd


# --------------------------------------------------------------------------
# 1. lexical diversity profile (TTR, hapax share, Yule's K)
# --------------------------------------------------------------------------

def lexical_diversity_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEXICAL DIVERSITY per document: type-token ratio, hapax share
    (tokens occurring once), and Yule's K — the length-robust
    repetitiousness statistic ``10^4 * (sum_c(c^2 * V_c) - N) / N^2``
    over the within-doc frequency spectrum. Low-K/high-TTR documents
    read as varied prose; high-K documents are boilerplate/template —
    a quality signal orthogonal to the corpus-level repetition filters
    (``repeated_ngram_ratio`` counts adjacent repeats; K sees global
    reuse).

    Scale shape: explode to (doc, token) counts, then one per-doc
    aggregate — two combinable hash aggregates keyed by doc, no
    corpus-wide state. The empty token from the fixture's trailing
    space is filtered identically on both engines."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(F.split("text", " ")).alias("tok"),
    ).where(F.col("tok") != "")
    counts = toks.groupBy("doc_id", "tok").agg(F.count("*").alias("c"))
    per_doc = counts.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.count("*").alias("n_types"),
        F.sum((F.col("c") == 1).cast("long")).alias("n_hapax"),
        F.sum(F.col("c").cast("double") * F.col("c")).alias("sum_c2"),
    )
    n = F.col("n_tokens").cast("double")
    return per_doc.select(
        "doc_id",
        "n_tokens",
        "n_types",
        rnd(F.col("n_types") / n, 6).alias("ttr"),
        rnd(F.col("n_hapax") / F.col("n_types"), 6).alias("hapax_share"),
        rnd(1e4 * (F.col("sum_c2") - n) / (n * n), 4).alias("yule_k"),
    )


_LEXDIV_ORACLE = """
WITH toks AS (
  SELECT doc_id, t.tok
  FROM documents, unnest(string_split(text, ' ')) AS t(tok)
  WHERE t.tok != ''
),
counts AS (
  SELECT doc_id, tok, count(*) AS c FROM toks GROUP BY 1, 2
),
per_doc AS (
  SELECT doc_id,
         CAST(sum(c) AS BIGINT) AS n_tokens,
         count(*) AS n_types,
         CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
         sum(CAST(c AS DOUBLE) * c) AS sum_c2
  FROM counts GROUP BY doc_id
)
SELECT doc_id, n_tokens, n_types,
       round(n_types / CAST(n_tokens AS DOUBLE) + 1e-6, 6) AS ttr,
       round(n_hapax / CAST(n_types AS DOUBLE) + 1e-6, 6) AS hapax_share,
       round(1e4 * (sum_c2 - n_tokens)
             / (CAST(n_tokens AS DOUBLE) * n_tokens) + 1e-6, 4) AS yule_k
FROM per_doc
"""


# --------------------------------------------------------------------------
# 2. co-purchase graph degree distribution + power-law tail fit
# --------------------------------------------------------------------------

def copurchase_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DEGREE DISTRIBUTION of the co-purchase graph (parts are nodes,
    "appeared in the same order" is an edge): per degree value, how
    many parts have it, the share, and — constant across rows — the
    log-log OLS slope over the histogram, the standard quick power-law
    tail estimate (slopes near -2..-3 are the scale-free signature;
    a flat slope means the graph is closer to random). The structural
    companion to ``supplier_pagerank``/``dedup_pair_triangles``: those
    rank nodes, this characterizes the whole topology.

    Scale shape: pairs are generated per order (basket-bounded, never
    part x part), degrees and the histogram are combinable hash
    aggregates, and the OLS fit is a 1-row aggregate over the bounded
    histogram broadcast back onto it."""
    # the edge set is a projection of the shared basket-pair-count memo
    # (part_affinity / graph_assortativity family): pairs are emitted by
    # per-basket array expansion once per session — no basket self-join,
    # and `edges` here feeds two union legs that would otherwise each
    # re-run it.
    from flink_cookbook_spark.operators.relational import basket_pair_counts

    edges = basket_pair_counts(spark, sf_dir).select("p1", "p2")
    both = edges.select(F.col("p1").alias("p"), F.col("p2").alias("q")).unionAll(
        edges.select(F.col("p2").alias("p"), F.col("p1").alias("q"))
    )
    degrees = both.groupBy("p").agg(F.count("*").alias("degree"))
    hist = degrees.groupBy("degree").agg(F.count("*").alias("n_parts"))
    x = F.log(F.col("degree").cast("double"))
    y = F.log(F.col("n_parts").cast("double"))
    fit = hist.agg(
        F.count("*").cast("double").alias("m"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * y).alias("sxy"),
        F.sum(x * x).alias("sxx"),
        F.sum("n_parts").alias("total_parts"),
    ).select(
        F.when(
            F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx") > 0,
            (F.col("m") * F.col("sxy") - F.col("sx") * F.col("sy"))
            / (F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx")),
        ).alias("slope_raw"),
        "total_parts",
    )
    return hist.crossJoin(F.broadcast(fit)).select(
        "degree",
        "n_parts",
        rnd(F.col("n_parts") / F.col("total_parts"), 6).alias("part_share"),
        rnd("slope_raw", 4).alias("powerlaw_slope"),
    )


_DEGREE_ORACLE = """
WITH li AS (
  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
),
edges AS (
  SELECT DISTINCT a.pk AS p1, b.pk AS p2
  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
),
dirs AS (
  SELECT p1 AS p FROM edges UNION ALL SELECT p2 AS p FROM edges
),
degrees AS (
  SELECT p, count(*) AS degree FROM dirs GROUP BY p
),
hist AS (
  SELECT CAST(degree AS BIGINT) AS degree, count(*) AS n_parts
  FROM degrees GROUP BY 1
),
fit AS (
  SELECT CAST(count(*) AS DOUBLE) AS m,
         sum(ln(CAST(degree AS DOUBLE))) AS sx,
         sum(ln(CAST(n_parts AS DOUBLE))) AS sy,
         sum(ln(CAST(degree AS DOUBLE)) * ln(CAST(n_parts AS DOUBLE))) AS sxy,
         sum(ln(CAST(degree AS DOUBLE)) * ln(CAST(degree AS DOUBLE))) AS sxx,
         CAST(sum(n_parts) AS BIGINT) AS total_parts
  FROM hist
)
SELECT h.degree, h.n_parts,
       round(h.n_parts / CAST(f.total_parts AS DOUBLE) + 1e-6, 6) AS part_share,
       round(CASE WHEN f.m * f.sxx - f.sx * f.sx > 0
                  THEN (f.m * f.sxy - f.sx * f.sy)
                       / (f.m * f.sxx - f.sx * f.sx) END + 1e-6, 4)
         AS powerlaw_slope
FROM hist h CROSS JOIN fit f
"""


# --------------------------------------------------------------------------
# 3. reciprocal-rank fusion of two vector rankings
# --------------------------------------------------------------------------

#: RRF smoothing constant (the standard k=60 from the original paper).
RRF_K = 60

#: fused results returned per query.
RRF_TOP_K = 5


def rank_fusion_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RECIPROCAL-RANK FUSION of two retrieval rankings per query
    vector: candidates are ranked independently by cosine similarity
    and by L2 distance, then fused with ``sum(1 / (60 + rank))`` and
    the top 5 fused results returned. RRF is the standard scorer-
    agnostic way a retrieval stack merges rankers with incomparable
    score scales (here: angle vs magnitude-sensitive distance — they
    genuinely disagree when vector norms vary).

    Scale shape: the bounded query set broadcasts (the ``cosine_topk``
    pattern); both ranks come from the same scored pair set in one
    window pass each; fusion is per-(query, candidate) arithmetic. At
    production scale the candidate set comes from the IVF/IMI index
    instead of the full corpus — the fusion stage is unchanged."""
    from flink_cookbook_spark.pipeline.similarity import (
        N_QUERIES, _dot, _emb_double, _norm,
    )

    emb = _emb_double(load(spark, sf_dir, "embeddings"))
    queries = emb.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("emb").alias("qemb"),
        _norm(F.col("emb")).alias("qn"),
    )
    corpus = emb.select(
        F.col("vec_id").alias("cand_id"),
        F.col("emb").alias("cemb"),
        _norm(F.col("emb")).alias("cn"),
    )
    l2sq = F.aggregate(
        F.zip_with(
            F.col("qemb"), F.col("cemb"), lambda x, y: (x - y) * (x - y)
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    scored = (
        corpus.crossJoin(F.broadcast(queries))
        .where(F.col("cand_id") != F.col("query_id"))
        .select(
            "query_id",
            "cand_id",
            (
                _dot(F.col("qemb"), F.col("cemb"))
                / (F.col("qn") * F.col("cn"))
            ).alias("cos_raw"),
            l2sq.alias("l2sq"),
        )
    )
    w_cos = Window.partitionBy("query_id").orderBy(
        F.col("cos_raw").desc(), F.col("cand_id").asc()
    )
    w_l2 = Window.partitionBy("query_id").orderBy(
        F.col("l2sq").asc(), F.col("cand_id").asc()
    )
    ranked = scored.select(
        "query_id",
        "cand_id",
        F.row_number().over(w_cos).alias("rank_cos"),
        F.row_number().over(w_l2).alias("rank_l2"),
    )
    rrf = (
        1.0 / (RRF_K + F.col("rank_cos")) + 1.0 / (RRF_K + F.col("rank_l2"))
    )
    w_f = Window.partitionBy("query_id").orderBy(
        rrf.desc(), F.col("cand_id").asc()
    )
    return (
        ranked.select(
            "query_id",
            "cand_id",
            "rank_cos",
            "rank_l2",
            rnd(rrf, 8).alias("rrf_score"),
            F.row_number().over(w_f).alias("fused_rank"),
        )
        .where(F.col("fused_rank") <= RRF_TOP_K)
    )


def _rrf_oracle() -> str:
    from flink_cookbook_spark.pipeline.similarity import N_QUERIES

    return f"""
WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
         list_dot_product(q.e, c.e)
           / (sqrt(list_dot_product(q.e, q.e)) * sqrt(list_dot_product(c.e, c.e)))
           AS cos_raw,
         list_sum(list_transform(range(1, len(q.e) + 1),
                  i -> (q.e[i] - c.e[i]) * (q.e[i] - c.e[i]))) AS l2sq
  FROM emb q JOIN emb c ON q.vec_id < {N_QUERIES} AND c.vec_id != q.vec_id
),
ranked AS (
  SELECT query_id, cand_id,
         CAST(row_number() OVER (PARTITION BY query_id
              ORDER BY cos_raw DESC, cand_id ASC) AS INTEGER) AS rank_cos,
         CAST(row_number() OVER (PARTITION BY query_id
              ORDER BY l2sq ASC, cand_id ASC) AS INTEGER) AS rank_l2
  FROM scored
),
fused AS (
  SELECT query_id, cand_id, rank_cos, rank_l2,
         1.0 / ({RRF_K} + rank_cos) + 1.0 / ({RRF_K} + rank_l2) AS rrf_raw
  FROM ranked
)
SELECT query_id, cand_id, rank_cos, rank_l2,
       round(rrf_raw + 1e-6, 8) AS rrf_score,
       CAST(row_number() OVER (PARTITION BY query_id
            ORDER BY rrf_raw DESC, cand_id ASC) AS INTEGER) AS fused_rank
FROM fused
QUALIFY fused_rank <= {RRF_TOP_K}
"""


# --------------------------------------------------------------------------
# 4. deterministic Poisson-bootstrap median confidence interval
# --------------------------------------------------------------------------

#: capped sample size (the IVF-trainer modulus pattern: mod = n // cap).
BOOT_MAX_SAMPLE = 2000

#: number of bootstrap resamples.
BOOT_RESAMPLES = 16

#: Poisson(1) CDF thresholds for the md5-uniform -> replicate-count map
#: (P(0)=.3679, P(<=1)=.7358, P(<=2)=.9197, remainder -> 3).
_POIS_T = (0.367879, 0.735759, 0.919699)


def bootstrap_median_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POISSON-BOOTSTRAP CONFIDENCE INTERVAL for the event-metric
    median: each of ``BOOT_RESAMPLES`` resamples reweights every
    sampled row by a deterministic Poisson(1)-approximating md5 coin
    (the standard distributed-bootstrap trick — no resample ever
    materializes, only integer weights), takes the DISCRETE weighted
    median, and the spread of those medians is the CI. Distribution-
    free uncertainty for any pipeline metric, replayable bit-for-bit
    by the oracle because every random choice is an md5 PRF.

    Scale shape: the corpus is capped to ``BOOT_MAX_SAMPLE`` rows by
    the in-plan md5 modulus (IVF-trainer pattern), so the B-way fanout
    and the per-resample sort are constant-bounded regardless of
    corpus size; medians are discrete order statistics (no
    interpolation — the cross-engine percentile hazard)."""
    ev = load(spark, sf_dir, "events")
    n_corpus = ev.count()
    mod = max(1, n_corpus // BOOT_MAX_SAMPLE)
    coin = _portable_hash(
        F.concat(F.lit("boot:"), F.col("event_id").cast("string"))
    )
    s = ev.where(coin % mod == 0).select("event_id", "value")
    fan = s.select(
        "event_id",
        "value",
        F.explode(
            F.sequence(F.lit(0), F.lit(BOOT_RESAMPLES - 1))
        ).alias("b"),
    )
    u = (
        _portable_hash(
            F.concat(
                F.lit("bootw:"),
                F.col("event_id").cast("string"),
                F.lit(":"),
                F.col("b").cast("string"),
            )
        )
        % 1000000
    ) / 1000000.0
    w = (
        F.when(u < _POIS_T[0], 0)
        .when(u < _POIS_T[1], 1)
        .when(u < _POIS_T[2], 2)
        .otherwise(3)
    )
    wb = fan.withColumn("w", w).where(F.col("w") > 0)
    ww = Window.partitionBy("b").orderBy("value", "event_id")
    wt = Window.partitionBy("b")
    cum = wb.select(
        "b",
        "value",
        F.sum("w").over(ww).alias("cw"),
        F.sum("w").over(wt).alias("tw"),
    )
    med_b = (
        cum.where(F.col("cw") >= F.floor((F.col("tw") + 1) / 2))
        .groupBy("b")
        .agg(F.min("value").alias("med"))
    )
    wm = Window.orderBy("med", "b")
    meds = med_b.select(
        "med",
        F.row_number().over(wm).alias("rn"),
        F.count("*").over(Window.partitionBy()).alias("m"),
    )
    idx = lambda q: (F.floor(F.lit(q) * (F.col("m") - 1)) + 1).cast("int")  # noqa: E731
    boot = meds.agg(
        F.max("m").alias("n_resamples"),
        F.max(F.when(F.col("rn") == idx(0.05), F.col("med"))).alias("boot_p05"),
        F.max(F.when(F.col("rn") == idx(0.50), F.col("med"))).alias("boot_p50"),
        F.max(F.when(F.col("rn") == idx(0.95), F.col("med"))).alias("boot_p95"),
    )
    sw = Window.orderBy("value", "event_id")
    st = Window.partitionBy()
    sample_med = (
        s.select(
            "value",
            F.row_number().over(sw).alias("rn"),
            F.count("*").over(st).alias("ns"),
        )
        .where(F.col("rn") == F.floor((F.col("ns") + 1) / 2))
        .select(
            F.col("ns").alias("n_sample"),
            F.col("value").alias("sample_median"),
        )
    )
    return sample_med.crossJoin(F.broadcast(boot)).select(
        "n_sample",
        "n_resamples",
        "sample_median",
        "boot_p05",
        "boot_p50",
        "boot_p95",
        rnd(F.col("boot_p95") - F.col("boot_p05"), 4).alias("ci_width"),
    )


def _boot_oracle() -> str:
    h = _SQL_HASH.format(
        x="'boot:' || CAST(event_id AS VARCHAR)"
    )
    hw = _SQL_HASH.format(
        x="'bootw:' || CAST(event_id AS VARCHAR) || ':' || CAST(b AS VARCHAR)"
    )
    bvals = ", ".join(f"({i})" for i in range(BOOT_RESAMPLES))
    return f"""
WITH s AS (
  SELECT event_id, value FROM events
  WHERE {h} % (SELECT greatest(1, count(*) // {BOOT_MAX_SAMPLE}) FROM events) = 0
),
fan AS (
  SELECT s.event_id, s.value, t.b
  FROM s CROSS JOIN (VALUES {bvals}) t(b)
),
wb AS (
  SELECT event_id, value, b,
         CASE WHEN ({hw} % 1000000) / 1000000.0 < {_POIS_T[0]} THEN 0
              WHEN ({hw} % 1000000) / 1000000.0 < {_POIS_T[1]} THEN 1
              WHEN ({hw} % 1000000) / 1000000.0 < {_POIS_T[2]} THEN 2
              ELSE 3 END AS w
  FROM fan
),
cum AS (
  SELECT b, value,
         CAST(sum(w) OVER (PARTITION BY b ORDER BY value, event_id
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cw,
         CAST(sum(w) OVER (PARTITION BY b) AS BIGINT) AS tw
  FROM wb WHERE w > 0
),
med_b AS (
  SELECT b, min(value) AS med FROM cum
  WHERE cw >= (tw + 1) // 2 GROUP BY b
),
meds AS (
  SELECT med, row_number() OVER (ORDER BY med, b) AS rn,
         count(*) OVER () AS m
  FROM med_b
),
boot AS (
  SELECT CAST(max(m) AS BIGINT) AS n_resamples,
         max(CASE WHEN rn = CAST(floor(0.05 * (m - 1)) AS BIGINT) + 1
                  THEN med END) AS boot_p05,
         max(CASE WHEN rn = CAST(floor(0.50 * (m - 1)) AS BIGINT) + 1
                  THEN med END) AS boot_p50,
         max(CASE WHEN rn = CAST(floor(0.95 * (m - 1)) AS BIGINT) + 1
                  THEN med END) AS boot_p95
  FROM meds
),
sm AS (
  SELECT ns AS n_sample, value AS sample_median
  FROM (
    SELECT value, row_number() OVER (ORDER BY value, event_id) AS rn,
           count(*) OVER () AS ns
    FROM s
  )
  WHERE rn = (ns + 1) // 2
)
SELECT CAST(sm.n_sample AS BIGINT) AS n_sample, b.n_resamples,
       sm.sample_median, b.boot_p05, b.boot_p50, b.boot_p95,
       round(b.boot_p95 - b.boot_p05 + 1e-6, 4) AS ci_width
FROM sm CROSS JOIN boot b
"""


register("lexical_diversity_profile", oracle=_LEXDIV_ORACLE,
         tags=("prepared-r8",))(lexical_diversity_profile)
register("copurchase_degree_distribution", oracle=_DEGREE_ORACLE,
         tags=("prepared-r8",))(copurchase_degree_distribution)
register("rank_fusion_topk", oracle=_rrf_oracle(),
         tags=("prepared-r8",))(rank_fusion_topk)
register("bootstrap_median_ci", oracle=_boot_oracle(),
         tags=("prepared-r8",))(bootstrap_median_ci)
