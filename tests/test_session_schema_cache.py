"""The per-session Parquet schema cache behind load_table/stream_table
(session.parquet_schema): a table file pays schema inference once per
session, the cached schema is the one inference returns, a rewritten
file re-infers, and nano-timestamp files still load to TimestampType."""

from __future__ import annotations

import os
import shutil
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql.types import LongType, TimestampType

from flink_tutorial_spark.session import (
    TABLES,
    load_table,
    normalize_event_time,
    parquet_schema,
)


def _jobs_in_group(spark, fn) -> int:
    """Number of Spark jobs `fn()` launches, counted by job group."""
    sc = spark.sparkContext
    group = f"schema-cache-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "schema cache test")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # job events reach the status store through the async listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _sorted_rows(df):
    return sorted(map(tuple, df.collect()), key=repr)


def test_second_load_launches_no_job(spark, sf_dir, tmp_path):
    # a private copy: earlier tests in this session may have cached the
    # shared testdata file already
    shutil.copy(os.path.join(sf_dir, "region.parquet"), tmp_path / "region.parquet")
    first = _jobs_in_group(spark, lambda: load_table(spark, str(tmp_path), "region"))
    second = _jobs_in_group(spark, lambda: load_table(spark, str(tmp_path), "region"))
    assert first >= 1
    assert second == 0


@pytest.mark.parametrize("name", TABLES)
def test_cached_schema_matches_inference(spark, sf_dir, name):
    path = os.path.join(sf_dir, f"{name}.parquet")
    uncached = spark.read.parquet(path)
    assert parquet_schema(spark, path) == uncached.schema
    cached = load_table(spark, sf_dir, name)
    expected = normalize_event_time(uncached, name)
    assert cached.schema == expected.schema
    assert _sorted_rows(cached) == _sorted_rows(expected)


def test_rewritten_file_reinfers(spark, tmp_path):
    path = str(tmp_path / "region.parquet")
    pq.write_table(pa.table({"r_regionkey": [0, 1], "r_name": ["A", "B"]}), path)
    assert load_table(spark, str(tmp_path), "region").columns == ["r_regionkey", "r_name"]
    pq.write_table(pa.table({"r_comment": ["x", "y", "z"]}), path)
    df = load_table(spark, str(tmp_path), "region")
    assert df.columns == ["r_comment"]
    assert sorted(r.r_comment for r in df.collect()) == ["x", "y", "z"]


def test_nanos_timestamps_load_through_cache(spark, tmp_path):
    # the TIMESTAMP(NANOS) generation of the testdata: read as longs
    # under nanosAsLong, restored to TimestampType by normalize_event_time
    ts = pa.array(
        [1_700_000_000_123_456_789, 1_700_086_400_000_001_999, None],
        type=pa.timestamp("ns"),
    )
    path = str(tmp_path / "events.parquet")
    pq.write_table(pa.table({"user_id": [1, 2, 3], "ts": ts}), path)

    uncached = spark.read.parquet(path)
    assert isinstance(uncached.schema["ts"].dataType, LongType)
    expected = _sorted_rows(normalize_event_time(uncached, "events"))
    for _ in range(2):  # the miss, then the hit
        df = load_table(spark, str(tmp_path), "events")
        assert isinstance(df.schema["ts"].dataType, TimestampType)
        assert _sorted_rows(df) == expected
