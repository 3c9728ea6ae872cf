"""Spark 4 Python DataSource: the reference's synthetic generator as a
genuine pluggable source (``spark.read.format("node_metrics_grid")``).

The reference runs its generator as an in-process source function
(/root/reference/src/flinkarima.py:45-118) or an external process
(src/datagen.py). Spark's idiomatic equivalent is the DataSource V2
Python API: a planned set of input partitions, each read independently
on an executor — which is what makes the generator scale-out (N
partitions → N parallel generator streams, exactly like adding Kafka
partitions).

Division of labor, deliberately: the Python reader emits only the GRID
(node_id, epoch-second) — trivial integer arithmetic per row — while the
cpu value model stays a JVM-side codegen'd expression (`_cpu_expr`)
applied on top. Python rows are the slow path; keeping the md5 PRF in
the JVM means the expensive part of the generator runs vectorized, and
the identical DuckDB SQL can hash-check the whole thing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)

from flink_cookbook_spark.registry import register, rnd
from flink_cookbook_spark.streaming.sources import (
    N_NODES,
    SEED,
    _cpu_expr,
    _cpu_sql,
    _generator_grid_sql,
    node_id_width,
)

_ORIGIN = 1_704_067_200  # 2024-01-01T00:00:00Z, the generator epoch


class _GridPartition(InputPartition):
    def __init__(self, start: int, end: int) -> None:
        self.start = start
        self.end = end


class NodeMetricsGridSource(DataSource):
    """Batch source yielding one (node_id, tsl) row per generator tick.

    Options: ``n_rows`` (total rows), ``n_nodes``, ``rate_per_node``
    (msgs/s/node — the reference's default 2.0), ``partitions``.
    """

    @classmethod
    def name(cls) -> str:
        return "node_metrics_grid"

    def schema(self) -> str:
        return "node_id string, tsl bigint"

    def reader(self, schema) -> "NodeMetricsGridReader":
        return NodeMetricsGridReader(self.options)

    def simpleStreamReader(self, schema) -> "NodeMetricsGridStreamReader":
        return NodeMetricsGridStreamReader(self.options)


class NodeMetricsGridReader(DataSourceReader):
    def __init__(self, options) -> None:
        self.n_rows = int(options.get("n_rows", 10_000))
        self.n_nodes = int(options.get("n_nodes", N_NODES))
        self.width = node_id_width(self.n_nodes)
        self.rate = float(options.get("rate_per_node", 2.0))
        self.n_parts = max(1, int(options.get("partitions", 8)))

    def partitions(self) -> list[InputPartition]:
        if self.n_rows <= 0:
            # n_rows=0 would make step 0 and range() raise; an empty
            # source is a legal (empty) partition list
            return []
        step = -(-self.n_rows // self.n_parts)  # ceil div
        return [
            _GridPartition(lo, min(lo + step, self.n_rows))
            for lo in range(0, self.n_rows, step)
        ]

    def read(self, partition: _GridPartition):
        for i in range(partition.start, partition.end):
            node_no = i % self.n_nodes
            tick = i // self.n_nodes
            yield (f"node-{node_no:0{self.width}d}", _ORIGIN + int(tick / self.rate))


class NodeMetricsGridStreamReader(SimpleDataSourceStreamReader):
    """Streaming flavor: the same grid as an unbounded source with
    integer row-index offsets — ``readStream.format("node_metrics_grid")``.

    Offsets are plain row counters, so checkpoint/restart resumes mid-
    grid exactly (the deterministic replay the reference's generator
    cannot do: its values are wall-clock + RNG). ``rows_per_batch``
    bounds each micro-batch. The simple-reader API re-reads from the
    driver on replay, which is the right tradeoff for a rate-limited
    generator; a partitioned prefetching reader would use
    ``streamReader`` instead.
    """

    def __init__(self, options) -> None:
        self.n_nodes = int(options.get("n_nodes", N_NODES))
        self.width = node_id_width(self.n_nodes)
        self.rate = float(options.get("rate_per_node", 2.0))
        self.rows_per_batch = int(options.get("rows_per_batch", 100))

    def initialOffset(self) -> dict:
        return {"row": 0}

    def _rows(self, start: int, end: int) -> list[tuple]:
        # a LIST, not a generator: the simple-reader harness pickles the
        # returned rows into its prefetch cache for exactly-once replay
        return [
            (
                f"node-{i % self.n_nodes:0{self.width}d}",
                _ORIGIN + int((i // self.n_nodes) / self.rate),
            )
            for i in range(start, end)
        ]

    def read(self, start: dict):
        lo = start["row"]
        hi = lo + self.rows_per_batch
        return self._rows(lo, hi), {"row": hi}

    def readBetweenOffsets(self, start: dict, end: dict):
        return self._rows(start["row"], end["row"])


def _ensure_registered(spark: SparkSession) -> None:
    """Register the source once per session (re-registration replaces)."""
    spark.dataSource.register(NodeMetricsGridSource)


def python_datasource_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 through the DataSource V2 Python API: plan 8 input partitions,
    generate the grid on executors, apply the JVM-side value model, and
    profile per node. The oracle regenerates the identical rows in
    DuckDB from scratch, so a hash match certifies partition planning,
    the Python reader, and the value model end to end."""
    _ensure_registered(spark)
    grid = (
        spark.read.format("node_metrics_grid")
        .option("n_rows", 10_000)
        .option("partitions", 8)
        .load()
    )
    withv = grid.select(
        "node_id",
        "tsl",
        F.timestamp_seconds("tsl").alias("ts"),
    ).select("node_id", "tsl", _cpu_expr("ts", "node_id", SEED).alias("cpu"))
    return withv.groupBy("node_id").agg(
        F.count("*").alias("n_msgs"),
        F.max("tsl").alias("last_tsl"),
        rnd(F.avg("cpu")).alias("avg_cpu"),
    )


register(
    "python_datasource_metrics",
    oracle=f"""
WITH {_generator_grid_sql(10_000).strip()},
vals AS (
  SELECT node_id, tsl, {_cpu_sql('node_id', 'tsl', SEED)} AS cpu FROM grid
)
SELECT node_id, count(*) AS n_msgs,
       max(tsl) AS last_tsl,
       round(avg(cpu) + 1e-6, 4) AS avg_cpu
FROM vals GROUP BY node_id
""",
    tags=("source", "S2", "python-datasource"),
)(python_datasource_metrics)
