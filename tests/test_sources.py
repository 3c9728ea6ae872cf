"""File-format source/sink roundtrips + partitioned-write pruning."""

from __future__ import annotations

from pyspark.sql import functions as F

from flink_cookbook_spark.catalog import load
from flink_cookbook_spark.sources.formats import read_stream, read_table, write_table


def _orders_sample(spark, sf_dir):
    return load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )


def test_csv_roundtrip(spark, sf_dir, tmp_path):
    src = _orders_sample(spark, sf_dir)
    path = str(tmp_path / "orders_csv")
    write_table(src, path, fmt="csv", header="true")
    back = read_table(
        spark, path, fmt="csv",
        schema="o_orderkey long, o_custkey long, o_orderstatus string, o_totalprice double",
        header="true",
    )
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, src.collect()))


def test_json_roundtrip(spark, sf_dir, tmp_path):
    src = _orders_sample(spark, sf_dir)
    path = str(tmp_path / "orders_json")
    write_table(src, path, fmt="json")
    back = read_table(
        spark, path, fmt="json",
        schema="o_orderkey long, o_custkey long, o_orderstatus string, o_totalprice double",
    )
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, src.collect()))


def test_orc_roundtrip(spark, sf_dir, tmp_path):
    src = _orders_sample(spark, sf_dir)
    path = str(tmp_path / "orders_orc")
    write_table(src, path, fmt="orc")
    back = read_table(spark, path, fmt="orc")
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, src.collect()))


def test_partitioned_write_prunes_on_read(spark, sf_dir, tmp_path):
    """partitionBy layout must give partition pruning: a status filter
    reads only that partition's directory."""
    from flink_cookbook_spark.plans.explain import formatted_plan

    src = _orders_sample(spark, sf_dir)
    path = str(tmp_path / "orders_part")
    write_table(src, path, partition_by=["o_orderstatus"])
    back = read_table(spark, path).where(F.col("o_orderstatus") == "F")
    want = src.where(F.col("o_orderstatus") == "F").count()
    assert back.count() == want
    plan = formatted_plan(back)
    assert "PartitionFilters" in plan and "o_orderstatus" in plan.split("PartitionFilters", 1)[1][:200]


def test_streaming_file_source_json(spark, sf_dir, tmp_path):
    """JSON directory as a streaming source == its batch read."""
    src = _orders_sample(spark, sf_dir)
    path = str(tmp_path / "orders_stream_json")
    write_table(src, path, fmt="json")
    schema = "o_orderkey long, o_custkey long, o_orderstatus string, o_totalprice double"
    stream = read_stream(spark, path, fmt="json", schema=schema)
    q = (
        stream.groupBy("o_orderstatus").agg(F.count("*").alias("n"))
        .writeStream.format("memory").queryName("json_src").outputMode("complete")
        .trigger(availableNow=True).start()
    )
    q.processAllAvailable(); q.stop()
    got = {r.o_orderstatus: r.n for r in spark.sql("SELECT * FROM json_src").collect()}
    want = {r.o_orderstatus: r.n for r in src.groupBy("o_orderstatus").agg(F.count("*").alias("n")).collect()}
    assert got == want


def test_kafka_source_requires_connector(spark):
    """S1: the Kafka builder constructs the right plan; without a broker/
    connector in this container, starting it must fail cleanly — the
    builder itself is the testable surface."""
    import pytest

    from flink_cookbook_spark.streaming.sources import kafka_metrics_stream

    with pytest.raises(Exception):
        df = kafka_metrics_stream(spark)
        df.writeStream.format("memory").queryName("_kafka_probe").start()


def test_python_datasource_grid_parity(spark):
    """The Python DataSource grid must equal the spark.range twin's grid
    row-for-row (same (node_id, tsl) multiset), and must honor the
    requested partition planning."""
    from flink_cookbook_spark.sources.pydatasource import _ensure_registered
    from flink_cookbook_spark.streaming.sources import synthetic_metrics_batch

    _ensure_registered(spark)
    src = (
        spark.read.format("node_metrics_grid")
        .option("n_rows", 1000)
        .option("partitions", 4)
        .load()
    )
    assert src.rdd.getNumPartitions() == 4
    from flink_cookbook_spark.functions.time import epoch_seconds

    twin = synthetic_metrics_batch(spark, n_rows=1000).select(
        "node_id", epoch_seconds("ts").alias("tsl")
    )
    assert src.exceptAll(twin).count() == 0
    assert twin.exceptAll(src).count() == 0


def test_python_datasource_streams_deterministic_batches(spark, tmp_path):
    """The streaming flavor must deliver the same grid rows as the batch
    reader, in offset order, across micro-batches — the deterministic
    replay the reference's wall-clock generator cannot provide."""
    from flink_cookbook_spark.sources.pydatasource import _ensure_registered

    _ensure_registered(spark)
    stream = (
        spark.readStream.format("node_metrics_grid")
        .option("rows_per_batch", 40)
        .load()
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("pyds_stream")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(processingTime="0 seconds")
        .start()
    )
    import time

    deadline = time.time() + 60
    while time.time() < deadline:
        if spark.sql("SELECT count(*) FROM pyds_stream").collect()[0][0] >= 120:
            break
        time.sleep(0.5)
    q.stop()
    rows = spark.sql(
        "SELECT node_id, tsl FROM pyds_stream ORDER BY tsl, node_id LIMIT 120"
    ).collect()
    assert len(rows) >= 120
    batch = (
        spark.read.format("node_metrics_grid").option("n_rows", 120).load()
        .orderBy("tsl", "node_id")
        .collect()
    )
    assert [(r.node_id, r.tsl) for r in rows[:120]] == [
        (r.node_id, r.tsl) for r in batch
    ]


def test_python_datasource_feeds_windowed_pipeline(spark, tmp_path):
    """Reference topology S2 -> W1/W2 with the custom streaming source:
    generator stream -> JVM value model -> 5-min event-time window avg ->
    memory sink, and the streamed aggregate must equal the batch twin
    computed over the same grid prefix — the engine's streaming==batch
    contract extended to a user-defined source."""
    import time

    from pyspark.sql import functions as F

    from flink_cookbook_spark.functions.time import epoch_seconds
    from flink_cookbook_spark.sources.pydatasource import _ensure_registered
    from flink_cookbook_spark.streaming.sources import SEED, _cpu_expr

    _ensure_registered(spark)
    n_rows = 600
    stream = (
        spark.readStream.format("node_metrics_grid")
        .option("rows_per_batch", 200)
        .load()
        .select("node_id", "tsl", F.timestamp_seconds("tsl").alias("ts"))
        .select("node_id", "ts", _cpu_expr("ts", "node_id", SEED).alias("cpu"))
    )
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "5 minutes").alias("w"), "node_id")
        .agg(F.avg("cpu").alias("avg_cpu"), F.count("*").alias("n"))
        .select(
            epoch_seconds("w.start").alias("window_start"),
            "node_id",
            "avg_cpu",
            "n",
        )
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("pyds_windowed")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ck2"))
        .trigger(processingTime="0 seconds")
        .start()
    )
    deadline = time.time() + 90
    while time.time() < deadline:
        got_n = spark.sql("SELECT coalesce(sum(n), 0) FROM pyds_windowed").collect()[0][0]
        if got_n >= n_rows:
            break
        time.sleep(0.5)
    q.stop()
    streamed = {
        (r.window_start, r.node_id): (round(r.avg_cpu, 6), r.n)
        for r in spark.sql("SELECT * FROM pyds_windowed").collect()
    }
    total = sum(n for _, n in streamed.values())
    assert total >= n_rows
    batch = (
        spark.read.format("node_metrics_grid")
        .option("n_rows", total)
        .load()
        .select("node_id", F.timestamp_seconds("tsl").alias("ts"))
        .select("node_id", "ts", _cpu_expr("ts", "node_id", SEED).alias("cpu"))
        .groupBy(F.window("ts", "5 minutes").alias("w"), "node_id")
        .agg(F.avg("cpu").alias("avg_cpu"), F.count("*").alias("n"))
        .select(epoch_seconds("w.start").alias("window_start"), "node_id", "avg_cpu", "n")
    )
    want = {
        (r.window_start, r.node_id): (round(r.avg_cpu, 6), r.n)
        for r in batch.collect()
    }
    assert streamed == want


def test_python_datasource_zero_rows_is_empty(spark):
    """n_rows=0 must yield an empty frame, not a range() ValueError."""
    from flink_cookbook_spark.sources.pydatasource import NodeMetricsGridReader

    assert NodeMetricsGridReader({"n_rows": 0}).partitions() == []


def test_synthetic_node_ids_are_not_truncated(spark):
    """Node ids pad to the width of the largest node number: Spark's
    ``lpad`` truncates, so a fixed width of 2 folded 200 nodes into 100
    ids. Up to 100 nodes the ids keep the reference's ``node-NN`` form."""
    from flink_cookbook_spark.streaming.sources import synthetic_metrics_batch

    def ids(n_rows, n_nodes):
        df = synthetic_metrics_batch(spark, n_rows=n_rows, n_nodes=n_nodes)
        return sorted(r.node_id for r in df.select("node_id").distinct().collect())

    wide = ids(400, 200)
    assert len(wide) == 200
    assert wide[0] == "node-000" and wide[-1] == "node-199"
    assert ids(5, 5) == [f"node-0{i}" for i in range(5)]
    assert ids(200, 100) == [f"node-{i:02d}" for i in range(100)]


def test_python_datasource_grid_parity_many_nodes(spark):
    """The Python grid pads node ids to the same width as its twin."""
    from flink_cookbook_spark.functions.time import epoch_seconds
    from flink_cookbook_spark.sources.pydatasource import _ensure_registered
    from flink_cookbook_spark.streaming.sources import synthetic_metrics_batch

    _ensure_registered(spark)
    src = (
        spark.read.format("node_metrics_grid")
        .option("n_rows", 400)
        .option("n_nodes", 200)
        .load()
    )
    twin = synthetic_metrics_batch(spark, n_rows=400, n_nodes=200).select(
        "node_id", epoch_seconds("ts").alias("tsl")
    )
    assert src.exceptAll(twin).count() == 0
    assert twin.exceptAll(src).count() == 0


def test_observation_metrics_surface(spark, sf_dir):
    """Engine surface: ``df.observe(Observation, ...)`` — accumulator-
    style metrics collected DURING an action with no extra scan (the
    row-count/validity counters a 100 TB ingest job attaches to its
    write). The observed aggregates must equal a separate aggregation
    of the same data."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from flink_cookbook_spark.catalog import load

    ev = load(spark, sf_dir, "events")
    obs = Observation("ingest_stats")
    observed = ev.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("value").isNull().cast("long")).alias("n_null_value"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
    )
    n_written = observed.where(F.col("value") >= 0).count()  # the 'job'
    got = obs.get
    want = ev.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("value").isNull().cast("long")).alias("n_null_value"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
    ).collect()[0]
    assert got["n_rows"] == want.n_rows
    assert got["n_null_value"] == want.n_null_value
    assert got["min_value"] == want.min_value
    assert got["max_value"] == want.max_value
    assert n_written <= got["n_rows"]
