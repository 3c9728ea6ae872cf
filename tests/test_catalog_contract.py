"""Fixture schema contract: ``catalog.load`` must hand every operator a
NORMALIZED schema regardless of how the driver's fixture regeneration
encoded it on disk (nanos-as-long, us-NTZ, us-LTZ have all shipped).

A future fixture regeneration that changes the parquet time encoding must
fail HERE, in-repo, not in the driver's correctness run (the round-3
outage: ``timestamp[us]`` fixtures surfaced as TIMESTAMP_NTZ, and
``cast(ntz AS BIGINT)`` is an AnalysisException that broke 17 queries).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from flink_cookbook_spark import catalog

SF_DIRS = [
    d
    for d in ("/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1")
    if os.path.isdir(d)
]

#: columns that must come out as session-TZ TimestampType — never NTZ,
#: never raw long — so epoch casts and window() semantics work everywhere.
TIME_COLUMNS = {
    "events": ("ts",),
    "orders": ("o_orderdate",),
    "lineitem": ("l_shipdate",),
}

FORBIDDEN = (T.TimestampNTZType,)


@pytest.mark.parametrize("sf_dir", SF_DIRS)
@pytest.mark.parametrize("table", catalog.TABLES)
def test_normalized_schema(spark, sf_dir, table):
    df = catalog.load(spark, sf_dir, table)
    by_name = {f.name: f.dataType for f in df.schema.fields}
    # no NTZ may survive normalization on ANY column
    for name, dtype in by_name.items():
        assert not isinstance(dtype, FORBIDDEN), (
            f"{table}.{name} is {dtype} after load(); catalog.load must "
            "normalize it to session-TZ TimestampType"
        )
    for col in TIME_COLUMNS.get(table, ()):
        assert isinstance(by_name[col], T.TimestampType), (
            f"{table}.{col} must normalize to TimestampType, got {by_name[col]}"
        )


@pytest.mark.parametrize("sf_dir", SF_DIRS[:1])
def test_epoch_cast_analyzes_and_matches_duckdb(spark, sf_dir):
    """The load-bearing property behind every windowed query: a normalized
    ``ts`` must cast to epoch seconds, and those values must equal what
    DuckDB sees reading the same parquet as naive-UTC timestamps."""
    import duckdb

    ev = catalog.load(spark, sf_dir, "events")
    got = [
        r.e
        for r in ev.select(F.col("ts").cast("long").alias("e"))
        .orderBy("e")
        .limit(5)
        .collect()
    ]
    con = duckdb.connect()
    want = [
        r[0]
        for r in con.execute(
            "SELECT CAST(floor(epoch(ts)) AS BIGINT) AS e FROM "
            f"read_parquet('{sf_dir}/events.parquet') ORDER BY e LIMIT 5"
        ).fetchall()
    ]
    assert got == want


def test_epoch_seconds_uniform_across_encodings(spark, tmp_path):
    """functions.time.epoch_seconds must return identical values whether
    the column arrives as TimestampType, TIMESTAMP_NTZ, or epoch-seconds
    long — the invariant that makes the round-3 fixture-encoding outage
    structurally unrepeatable."""
    from flink_cookbook_spark.functions.time import epoch_millis, epoch_seconds

    want = [1704067200, 1704070800, 1704074399]
    base = spark.createDataFrame([(v,) for v in want], "tsl long")
    as_ts = base.select(F.timestamp_seconds("tsl").alias("c"))
    as_ntz = base.select(
        F.timestamp_seconds("tsl").cast("timestamp_ntz").alias("c")
    )
    as_long = base.select(F.col("tsl").alias("c"))
    for df in (as_ts, as_ntz, as_long):
        got = [r.e for r in df.select(epoch_seconds("c").alias("e")).orderBy("e").collect()]
        assert got == want, df.schema
    got_ms = [
        r.e for r in as_ntz.select(epoch_millis("c").alias("e")).orderBy("e").collect()
    ]
    assert got_ms == [v * 1000 for v in want]


def _jobs_started(spark, fn):
    """(fn's result, ids of the Spark jobs fn started). Jobs are tagged
    with a one-off job group; the listener bus is drained before the
    status tracker is read, so a job that has already run is listed."""
    import uuid

    sc = spark.sparkContext
    group = f"catalog-contract-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "catalog contract probe")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def _write_region(path, with_comment: bool) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    cols = {"r_regionkey": pa.array([0, 1], pa.int64()), "r_name": ["AFRICA", "AMERICA"]}
    if with_comment:
        cols["r_comment"] = ["a", "b"]
    pq.write_table(pa.table(cols), str(path))


def test_second_load_starts_no_job(spark, sf_dir):
    """The schema memo: only a table's first load in a session infers the
    parquet schema (a one-task job); later loads plan without a job."""
    catalog.load(spark, sf_dir, "lineitem")
    df, jobs = _jobs_started(spark, lambda: catalog.load(spark, sf_dir, "lineitem"))
    assert jobs == [], f"a warm load started Spark jobs {jobs}"
    assert "l_orderkey" in df.columns


def test_rewritten_file_is_inferred_again(spark, tmp_path):
    """Staleness contract: the memo follows the file's identity, so a
    table rewritten in place under the same path shows its new schema."""
    _write_region(tmp_path / "region.parquet", with_comment=False)
    first, jobs = _jobs_started(spark, lambda: catalog.load(spark, str(tmp_path), "region"))
    # the probe sees the inference job of a cold load
    assert jobs, "a cold load must infer the schema"
    assert first.columns == ["r_regionkey", "r_name"]

    _write_region(tmp_path / "region.parquet", with_comment=True)
    again = catalog.load(spark, str(tmp_path), "region")
    assert again.columns == ["r_regionkey", "r_name", "r_comment"]
    assert sorted(r.r_comment for r in again.collect()) == ["a", "b"]


def test_other_session_infers_again(spark, tmp_path):
    """Staleness contract: an entry inferred under one session is not
    served to another."""
    _write_region(tmp_path / "region.parquet", with_comment=False)
    catalog.load(spark, str(tmp_path), "region")
    other = spark.newSession()
    _, jobs = _jobs_started(other, lambda: catalog.load(other, str(tmp_path), "region"))
    assert jobs, "a load under another session must infer the schema again"


def _assert_self_join_matches_duckdb(load, spark, sf_dir) -> None:
    """Self-join two loads of lineitem (same order, different supplier)
    and compare the count with the same join in DuckDB. The supplier
    test is a filter over the joined rows: inside the join condition,
    Spark re-resolves a self-join's trivially true ``a == a`` against
    the two sides, which would hide a shared plan."""
    import duckdb

    l1 = load(spark, sf_dir, "lineitem")
    l2 = load(spark, sf_dir, "lineitem")
    got = (
        l1.join(l2, l1["l_orderkey"] == l2["l_orderkey"])
        .where(l1["l_suppkey"] != l2["l_suppkey"])
        .count()
    )
    src = f"read_parquet('{sf_dir}/lineitem.parquet')"
    want = duckdb.connect().execute(
        f"SELECT count(*) FROM {src} l1 JOIN {src} l2 "
        "ON l1.l_orderkey = l2.l_orderkey AND l1.l_suppkey <> l2.l_suppkey"
    ).fetchone()[0]
    assert want > 0
    assert got == want


def test_two_loads_self_join(spark, sf_dir):
    """Only the schema is memoized: each load is a fresh plan with its own
    attribute ids, so a self-join of two loads resolves each side."""
    _assert_self_join_matches_duckdb(catalog.load, spark, sf_dir)


def test_shared_dataframe_breaks_self_join(spark, sf_dir):
    """The mutation test_two_loads_self_join guards against: if load
    returned one cached DataFrame, both sides would carry the same
    attribute ids and the self-join would be ambiguous."""
    from pyspark.errors import AnalysisException

    shared = catalog.load(spark, sf_dir, "lineitem")
    with pytest.raises(AnalysisException, match="ambiguous"):
        _assert_self_join_matches_duckdb(lambda *_: shared, spark, sf_dir)
