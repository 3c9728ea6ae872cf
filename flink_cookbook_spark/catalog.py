"""Fixture catalog: typed loaders over the driver-materialized parquet tables.

Tables (TESTDATA.md): region nation customer supplier part orders lineitem
events documents embeddings — one parquet file per table under an sf dir.

Scans stay declarative (``spark.read.schema(s).parquet``) so Catalyst gets
predicate pushdown, column pruning, and (on partitioned layouts) partition
pruning for free. At 100 TB the same call reads a partitioned/ bucketed
table — nothing in the engine assumes single-file inputs.

Each table's parquet schema is inferred once and memoized. Inference reads
the file footer in a one-task Spark job, so without the memo every
``load`` started a job before the query ran. Only the ``StructType`` is
kept, never a DataFrame: every ``load`` builds a fresh reader, so two
loads of one table carry distinct attribute ids. A shared DataFrame would
make a self-join that references both sides (lineitem joined to itself,
then filtered on the two suppliers) fail as ambiguous.

Staleness assumption: an entry is keyed by the table path and is valid
only for the session that inferred it and the file identity seen then
(inode, ``st_mtime_ns``, size). A load under another or a replaced
session, or of a file rewritten in place, infers again and replaces the
entry, so the memo holds at most one schema per path. A path the driver
cannot ``stat`` (a remote store) is keyed by session alone: within a live
session it is never re-inferred. The module-level dict is unsynchronized:
single-threaded driver use only (concurrent first loads would at worst
infer the same schema twice).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

_SCHEMAS: dict[str, tuple[SparkSession, tuple[int, int, int] | None, T.StructType]] = {}


def _parquet_schema(spark: SparkSession, path: str) -> T.StructType:
    """The file's inferred schema, inferred at most once per (session,
    file identity)."""
    try:
        st = os.stat(path)
        identity = (st.st_ino, st.st_mtime_ns, st.st_size)
    except OSError:
        identity = None
    hit = _SCHEMAS.get(path)
    if hit is not None and hit[0] is spark and hit[1] == identity:
        return hit[2]
    schema = spark.read.parquet(path).schema
    _SCHEMAS[path] = (spark, identity, schema)
    return schema


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table as a DataFrame (lazy; no action triggered).

    The parquet schema comes from the module's memo (see the staleness
    assumption above), so only a table's first load in a session starts
    a Spark job; every call returns a new plan over a new reader.

    ``events.ts`` has shipped in three parquet encodings across fixture
    regenerations: TIMESTAMP(NANOS) (read as long via
    ``spark.sql.legacy.parquet.nanosAsLong``), plain ``timestamp[us]``
    without timezone (Spark 4.x reads it as TIMESTAMP_NTZ), and
    instant-semantics ``timestamp[us, tz=UTC]``. All three are normalized
    here to session-TZ TimestampType (session TZ pinned UTC below, so
    epoch semantics match DuckDB's naive timestamps exactly) so every
    downstream operator sees native, castable event time.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # queries may run under a caller-provided session (the driver's):
    # pin the runtime confs correctness depends on. UTC matches DuckDB's
    # naive timestamps; adaptive shuffle keeps partition counts sane.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    path = f"{sf_dir}/{name}.parquet"
    df = spark.read.schema(_parquet_schema(spark, path)).parquet(path)

    for field in df.schema.fields:
        if field.name == "ts" and isinstance(field.dataType, T.LongType):
            # integer division: epoch nanos (~1.7e18) exceed double's
            # 53-bit mantissa, so `/ 1000` through a double corrupts ~12%
            # of microsecond values by 1 us.
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        elif isinstance(field.dataType, T.TimestampNTZType):
            # TIMESTAMP_NTZ forbids epoch casts (cast ntz->bigint is an
            # AnalysisException); with the session TZ pinned UTC the wall
            # clock IS the instant, so this cast is value-preserving.
            df = df.withColumn(field.name, F.col(field.name).cast("timestamp"))
    return df


def register_views(spark: SparkSession, sf_dir: str, tables: tuple[str, ...] = TABLES) -> None:
    """Register temp views so operators can be expressed in SQL too."""
    for name in tables:
        load(spark, sf_dir, name).createOrReplaceTempView(name)
