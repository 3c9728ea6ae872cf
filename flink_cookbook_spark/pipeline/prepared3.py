"""Third round-7 batch of round-8-prepared operators: platform/ops
tooling for the 100 TB posture.

Same contract as ``prepared.py``. This batch is the operational side
of running the engine at scale — the diagnostics a platform team
computes ABOUT the data layout itself: shuffle-partition skew under
candidate partition counts, write-side file compaction planning,
Bloom-filter sizing calibration (the knob behind
``bloom_prefilter_join``), and referential-integrity auditing across
the star schema's FK edges.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_cookbook_spark.catalog import load
from flink_cookbook_spark.pipeline.dedup import _SQL_HASH, _portable_hash
from flink_cookbook_spark.registry import register, rnd


# --------------------------------------------------------------------------
# 1. hash-partition skew report
# --------------------------------------------------------------------------

#: candidate partition counts; divisors of the finest level so coarser
#: bucket counts derive EXACTLY from the finest histogram (x mod 8 =
#: (x mod 128) mod 8 whenever 8 | 128 — one scan serves all three).
SKEW_PARTITION_COUNTS = (8, 32, 128)


def partition_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HASH-PARTITION SKEW under candidate ``shuffle.partitions``
    settings: bucket lineitem's join key with the portable md5 hash at
    the finest candidate (128), then report — for 8/32/128 partitions —
    the max/mean partition ratio and the coefficient of variation,
    i.e. exactly the numbers that decide whether a key needs salting
    before its next shuffle. CV near sqrt((N-1)/rows-ish) noise means
    a healthy key; skew_ratio >> 1 means a hot key.

    Scale shape: ONE combinable hash aggregate reduces the corpus to a
    <=128-row bucket histogram; the coarser partition counts derive
    from that histogram arithmetically (divisor property above), so
    sweeping the knob costs zero extra scans. Variance uses the
    sum-of-squares identity with the FULL partition count in the
    denominator (empty partitions count as zero)."""
    li = load(spark, sf_dir, "lineitem")
    finest = SKEW_PARTITION_COUNTS[-1]
    b128 = li.groupBy(
        (_portable_hash(F.col("l_orderkey").cast("string")) % finest).alias("b")
    ).agg(F.count("*").alias("n"))
    fanned = b128.select(
        "b",
        "n",
        F.explode(
            F.array(*[F.lit(c) for c in SKEW_PARTITION_COUNTS])
        ).alias("n_partitions"),
    )
    per_part = fanned.groupBy(
        "n_partitions", (F.col("b") % F.col("n_partitions")).alias("p")
    ).agg(F.sum("n").alias("pn"))
    stats = per_part.groupBy("n_partitions").agg(
        F.sum("pn").alias("n_rows"),
        F.count("*").alias("nonempty_partitions"),
        F.max("pn").alias("max_rows"),
        F.sum(F.col("pn").cast("double") * F.col("pn")).alias("ss"),
    )
    mean = F.col("n_rows") / F.col("n_partitions")
    var = F.col("ss") / F.col("n_partitions") - mean * mean
    return stats.select(
        "n_partitions",
        "n_rows",
        "nonempty_partitions",
        "max_rows",
        rnd(mean, 4).alias("avg_rows"),
        rnd(F.col("max_rows") / mean, 4).alias("skew_ratio"),
        rnd(F.sqrt(F.greatest(var, F.lit(0.0))) / mean, 6).alias("cv"),
    ).orderBy("n_partitions")


_SKEW_ORACLE = f"""
WITH b128 AS (
  SELECT {_SQL_HASH.format(x="CAST(l_orderkey AS VARCHAR)")} % 128 AS b,
         count(*) AS n
  FROM lineitem GROUP BY 1
),
fanned AS (
  SELECT b, n, t.n_partitions
  FROM b128 CROSS JOIN (VALUES {", ".join(f"({c})" for c in SKEW_PARTITION_COUNTS)})
       t(n_partitions)
),
per_part AS (
  SELECT n_partitions, b % n_partitions AS p, CAST(sum(n) AS BIGINT) AS pn
  FROM fanned GROUP BY 1, 2
),
stats AS (
  SELECT n_partitions,
         CAST(sum(pn) AS BIGINT) AS n_rows,
         count(*) AS nonempty_partitions,
         CAST(max(pn) AS BIGINT) AS max_rows,
         CAST(sum(pn * pn) AS DOUBLE) AS ss
  FROM per_part GROUP BY 1
)
SELECT n_partitions, n_rows, nonempty_partitions, max_rows,
       round(CAST(n_rows AS DOUBLE) / n_partitions + 1e-6, 4) AS avg_rows,
       round(max_rows / (CAST(n_rows AS DOUBLE) / n_partitions) + 1e-6, 4)
         AS skew_ratio,
       round(sqrt(greatest(ss / n_partitions
                           - (CAST(n_rows AS DOUBLE) / n_partitions)
                             * (CAST(n_rows AS DOUBLE) / n_partitions), 0.0))
             / (CAST(n_rows AS DOUBLE) / n_partitions) + 1e-6, 6) AS cv
FROM stats
"""


# --------------------------------------------------------------------------
# 2. write-side file compaction plan
# --------------------------------------------------------------------------

#: target output file size in bytes. Fixture-scaled so the plan is
#: non-trivial on the shipped corpus; a production deployment sets the
#: usual 128 MB-class value — every downstream formula is size-relative.
TARGET_FILE_BYTES = 16384


def file_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WRITE-SIDE COMPACTION PLAN per (source, lang) output partition:
    estimated partition bytes (n_chars as the serialized-size proxy),
    the target file count at ``TARGET_FILE_BYTES``, docs per file, and
    a coalesce flag for partitions under half a target file — the
    planning table behind every small-file-problem cleanup. The writer
    turns this directly into ``repartition(target_files)`` per
    partition (or AQE coalesce for the flagged ones).

    Scale shape: one combinable hash aggregate to the partition-cell
    grain; all planning math is per-cell arithmetic. Ceil stays on
    DOUBLE and is floor'd explicitly on both engines (the
    cast-truncation-vs-round-half-even trap does not arise: ceil
    results are exact integers in double)."""
    docs = load(spark, sf_dir, "documents")
    cells = docs.groupBy("source", "lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("est_bytes"),
    )
    target = F.greatest(
        F.lit(1).cast("long"),
        F.ceil(F.col("est_bytes") / float(TARGET_FILE_BYTES)),
    )
    return cells.select(
        "source",
        "lang",
        "n_docs",
        "est_bytes",
        target.alias("target_files"),
        F.ceil(F.col("n_docs") / target.cast("double")).alias("docs_per_file"),
        rnd(F.col("est_bytes") / target.cast("double"), 2).alias(
            "avg_file_bytes"
        ),
        (F.col("est_bytes") < TARGET_FILE_BYTES / 2).alias(
            "coalesce_candidate"
        ),
    )


_COMPACTION_ORACLE = f"""
WITH cells AS (
  SELECT source, lang, count(*) AS n_docs,
         CAST(sum(n_chars) AS BIGINT) AS est_bytes
  FROM documents GROUP BY 1, 2
)
SELECT source, lang, n_docs, est_bytes,
       greatest(1, CAST(ceil(est_bytes / {float(TARGET_FILE_BYTES)}) AS BIGINT))
         AS target_files,
       CAST(ceil(n_docs / CAST(greatest(1,
            CAST(ceil(est_bytes / {float(TARGET_FILE_BYTES)}) AS BIGINT))
            AS DOUBLE)) AS BIGINT) AS docs_per_file,
       round(est_bytes / CAST(greatest(1,
            CAST(ceil(est_bytes / {float(TARGET_FILE_BYTES)}) AS BIGINT))
            AS DOUBLE) + 1e-6, 2) AS avg_file_bytes,
       est_bytes < {TARGET_FILE_BYTES / 2} AS coalesce_candidate
FROM cells
"""


# --------------------------------------------------------------------------
# 3. Bloom-filter false-positive-rate calibration
# --------------------------------------------------------------------------

#: (bits m, hash count k) configurations swept by the calibration.
BLOOM_CONFIGS = ((1024, 2), (1024, 4), (4096, 2), (4096, 4))

#: maximum hash functions across the swept configs.
_BLOOM_MAX_K = max(k for _, k in BLOOM_CONFIGS)

#: membership predicate epoch boundary: customers with an order before
#: 1996 are the filter's member set; the rest probe as non-members.
BLOOM_MEMBER_BEFORE = "1996-01-01"


def _bloom_positions(keys: DataFrame, key_col: str) -> DataFrame:
    """(key, i, h) for i in 0..max_k-1, h = portable 60-bit md5 hash of
    'key:i' — config positions are h % m, so one hash pass serves every
    (m, k) in the sweep."""
    hashes = F.array(
        *[
            _portable_hash(
                F.concat(
                    F.col(key_col).cast("string"), F.lit(":"), F.lit(str(i))
                )
            )
            for i in range(_BLOOM_MAX_K)
        ]
    )
    return keys.select(
        F.col(key_col).alias("key"), F.posexplode(hashes).alias("i", "h")
    )


def bloom_fpr_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BLOOM-FILTER SIZING CALIBRATION: simulate the filter bit-for-bit
    (portable md5 positions) for a sweep of (m bits, k hashes) configs —
    members are customers with a pre-1996 order, probes are the
    remaining customers — and report the MEASURED false-positive rate
    next to the analytic expectation ``(1 - (1 - 1/m)^(k*n))^k``. This
    is the evidence behind choosing ``bloom_prefilter_join``'s sizing:
    a measured FPR far off the formula means the hash family or the
    member-set estimate is wrong BEFORE the filter ships into a join.

    Scale shape: positions are generated once at the finest k (one
    narrow explode, k rows per key); each config's bit set is a
    bounded-by-m distinct aggregate, and the probe check is an
    equi-join on bit position (never key x key). Per-config outputs
    union over a constant, in-plan config list."""
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    members = (
        orders.where(F.col("o_orderdate") < BLOOM_MEMBER_BEFORE)
        .select(F.col("o_custkey").alias("ckey"))
        .distinct()
    )
    probes = cust.select(F.col("c_custkey").alias("ckey")).join(
        members, "ckey", "left_anti"
    )
    mpos = _bloom_positions(members, "ckey")
    ppos = _bloom_positions(probes, "ckey")
    n_members = members.agg(F.count("*").alias("n_members"))
    n_probes = probes.agg(F.count("*").alias("n_probes"))

    parts = []
    for m, k in BLOOM_CONFIGS:
        bits = (
            mpos.where(F.col("i") < k)
            .select((F.col("h") % m).alias("pos"))
            .distinct()
        )
        probe_rows = (
            ppos.where(F.col("i") < k)
            .select("key", (F.col("h") % m).alias("pos"))
            .join(bits.withColumn("hit", F.lit(1)), "pos", "left")
        )
        per_key = probe_rows.groupBy("key").agg(
            (F.sum(F.coalesce(F.col("hit"), F.lit(0))) == k).alias("fp")
        )
        row = (
            per_key.agg(F.sum(F.col("fp").cast("long")).alias("n_false_hits"))
            .crossJoin(F.broadcast(bits.agg(F.count("*").alias("n_bits_set"))))
            .crossJoin(F.broadcast(n_members))
            .crossJoin(F.broadcast(n_probes))
            .select(
                F.lit(m).alias("m_bits"),
                F.lit(k).alias("k_hashes"),
                "n_members",
                "n_bits_set",
                "n_probes",
                "n_false_hits",
                rnd(F.col("n_false_hits") / F.col("n_probes"), 6).alias(
                    "fpr_actual"
                ),
                rnd(
                    F.pow(
                        1.0
                        - F.pow(
                            F.lit(1.0 - 1.0 / m), k * F.col("n_members")
                        ),
                        float(k),
                    ),
                    6,
                ).alias("fpr_expected"),
            )
        )
        parts.append(row)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


def _bloom_oracle() -> str:
    key_expr = _SQL_HASH.format(
        x="CAST(ckey AS VARCHAR) || ':' || CAST(i AS VARCHAR)"
    )
    ivals = ", ".join(f"({i})" for i in range(_BLOOM_MAX_K))
    arms = []
    for m, k in BLOOM_CONFIGS:
        arms.append(f"""
SELECT {m} AS m_bits, {k} AS k_hashes,
       (SELECT count(*) FROM members) AS n_members,
       (SELECT count(DISTINCT h % {m}) FROM mpos WHERE i < {k}) AS n_bits_set,
       (SELECT count(*) FROM probes) AS n_probes,
       (SELECT count(*) FROM (
          SELECT p.key
          FROM ppos p LEFT JOIN
               (SELECT DISTINCT h % {m} AS pos FROM mpos WHERE i < {k}) b
               ON p.h % {m} = b.pos
          WHERE p.i < {k}
          GROUP BY p.key
          HAVING count(*) = {k}
             AND count(*) = CAST(sum(CASE WHEN b.pos IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       )) AS n_false_hits,
       round((SELECT count(*) FROM (
          SELECT p.key
          FROM ppos p LEFT JOIN
               (SELECT DISTINCT h % {m} AS pos FROM mpos WHERE i < {k}) b
               ON p.h % {m} = b.pos
          WHERE p.i < {k}
          GROUP BY p.key
          HAVING count(*) = {k}
             AND count(*) = CAST(sum(CASE WHEN b.pos IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       )) / CAST((SELECT count(*) FROM probes) AS DOUBLE) + 1e-6, 6)
         AS fpr_actual,
       round(pow(1.0 - pow(1.0 - 1.0 / {m},
                           {k} * (SELECT count(*) FROM members)), {float(k)})
             + 1e-6, 6) AS fpr_expected""")
    arms_sql = "\nUNION ALL\n".join(arms)
    return f"""
WITH members AS (
  SELECT DISTINCT o_custkey AS ckey FROM orders
  WHERE o_orderdate < DATE '{BLOOM_MEMBER_BEFORE}'
),
probes AS (
  SELECT c_custkey AS ckey FROM customer
  WHERE c_custkey NOT IN (SELECT ckey FROM members)
),
mpos AS (
  SELECT ckey AS key, t.i, {key_expr} AS h
  FROM members CROSS JOIN (VALUES {ivals}) t(i)
),
ppos AS (
  SELECT ckey AS key, t.i, {key_expr} AS h
  FROM probes CROSS JOIN (VALUES {ivals}) t(i)
)
{arms_sql}
"""


# --------------------------------------------------------------------------
# 4. referential-integrity audit across the star schema
# --------------------------------------------------------------------------

#: (edge name, child table, fk col, parent table, pk col)
FK_EDGES = (
    ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem.l_partkey->part", "lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("customer.c_nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
)


def fk_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REFERENTIAL-INTEGRITY AUDIT over every FK edge of the star
    schema: per edge, child row count, NULL foreign keys, orphans
    (non-NULL FK with no parent row), and the match rate — the
    cross-table complement of the single-table ``expectation_checks``,
    and the first report a 100 TB ingest runs after landing a batch
    (an orphan spike means a late or dropped dimension load).

    Scale shape: edges are grouped BY CHILD TABLE so each child is
    scanned once — every parent's DISTINCT key left-joins onto the same
    pass (parents are deduplicated, so the joins preserve row
    multiplicity and the per-edge counts are unchanged), and one
    combinable aggregate emits every edge's counters from that single
    scan (lineitem's three FK edges ride one scan instead of three).
    Dimension-sized build sides broadcast under AQE; the five 1-row
    results union in-plan with no driver-side collection."""
    by_child: dict[str, list[tuple[str, str, str, str]]] = {}
    for edge, child_t, fk, parent_t, pk in FK_EDGES:
        by_child.setdefault(child_t, []).append((edge, fk, parent_t, pk))
    parts = []
    for child_t, edges in by_child.items():
        child = load(spark, sf_dir, child_t).select(
            *[F.col(fk).alias(f"k{i}") for i, (_, fk, _, _) in enumerate(edges)]
        )
        joined = child
        for i, (_, _, parent_t, pk) in enumerate(edges):
            parent = (
                load(spark, sf_dir, parent_t)
                .select(F.col(pk).alias(f"k{i}"))
                .distinct()
                .withColumn(f"hit{i}", F.lit(1))
            )
            joined = joined.join(parent, f"k{i}", "left")
        agg_cols = [F.count("*").alias("n_rows")]
        for i in range(len(edges)):
            k, hit = F.col(f"k{i}"), F.col(f"hit{i}")
            agg_cols.append(F.sum(k.isNull().cast("long")).alias(f"n_null_fk{i}"))
            agg_cols.append(
                F.sum((k.isNotNull() & hit.isNull()).cast("long")).alias(
                    f"n_orphans{i}"
                )
            )
        agg = joined.agg(*agg_cols)
        # unstack the one aggregate row to per-edge rows via explode —
        # NOT one union branch per edge, which would re-derive the whole
        # scan+join+aggregate subtree once per edge in the plan tree
        stacked = agg.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(edge).alias("edge"),
                            F.col("n_rows").alias("n_rows"),
                            F.col(f"n_null_fk{i}").alias("n_null_fk"),
                            F.col(f"n_orphans{i}").alias("n_orphans"),
                        )
                        for i, (edge, _, _, _) in enumerate(edges)
                    ]
                )
            ).alias("e")
        ).select("e.*")
        parts.append(
            stacked.select(
                "edge",
                "n_rows",
                "n_null_fk",
                "n_orphans",
                rnd(
                    (
                        F.col("n_rows")
                        - F.col("n_null_fk")
                        - F.col("n_orphans")
                    )
                    / F.col("n_rows"),
                    6,
                ).alias("match_rate"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


def _fk_oracle() -> str:
    arms = []
    for edge, child_t, fk, parent_t, pk in FK_EDGES:
        arms.append(f"""
SELECT '{edge}' AS edge,
       count(*) AS n_rows,
       CAST(sum(CASE WHEN c.{fk} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_null_fk,
       CAST(sum(CASE WHEN c.{fk} IS NOT NULL AND p.hit IS NULL
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans,
       round((count(*)
              - sum(CASE WHEN c.{fk} IS NULL THEN 1 ELSE 0 END)
              - sum(CASE WHEN c.{fk} IS NOT NULL AND p.hit IS NULL
                         THEN 1 ELSE 0 END))
             / CAST(count(*) AS DOUBLE) + 1e-6, 6) AS match_rate
FROM {child_t} c
LEFT JOIN (SELECT DISTINCT {pk} AS k, 1 AS hit FROM {parent_t}) p
  ON c.{fk} = p.k""")
    return "\nUNION ALL\n".join(arms)


register("partition_skew_report", oracle=_SKEW_ORACLE,
         tags=("prepared-r8",))(partition_skew_report)
register("file_compaction_plan", oracle=_COMPACTION_ORACLE,
         tags=("prepared-r8",))(file_compaction_plan)
register("bloom_fpr_calibration", oracle=_bloom_oracle(),
         tags=("prepared-r8",))(bloom_fpr_calibration)
register("fk_integrity_audit", oracle=_fk_oracle(),
         tags=("prepared-r8",))(fk_integrity_audit)
