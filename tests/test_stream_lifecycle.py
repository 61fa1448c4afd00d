"""The bounded-stream lifecycle in streaming/run.run_stream, seen
through its runners: a failed start or a failing sink leaves no query
running and the session's shuffle-partition count and checkpoint file
manager where they were; a stateful stream's state operator keeps the
count it was started with after the pin is gone, and across a
checkpointed restart, and its logs keep the FileSystem checkpoint
manager. The count is stream_shuffle_partitions' pick from the stream's
source bytes."""

from __future__ import annotations

import os
import shutil
import time

import pandas as pd
import pytest
from pyspark.errors import StreamingQueryException
from pyspark.sql.streaming import StreamingQueryListener

from flink_tutorial_spark import plan_capture
from flink_tutorial_spark.session import load_table
from flink_tutorial_spark.streaming.run import (
    CHECKPOINT_FILE_MANAGER,
    FILE_SYSTEM_CHECKPOINT_MANAGER,
    ONE_PARTITION_MAX_BYTES,
    STREAM_PARTITIONS,
    run_fanout,
    run_to_memory,
    source_bytes,
    stream_shuffle_partitions,
    stream_table,
)
from tests.oracle_utils import run_and_compare
from tests.test_session_schema_cache import _jobs_in_group

SHUFFLE = "spark.sql.shuffle.partitions"
OVERRIDE = "SPARK_GRAFT_STREAM_SHUFFLE"
#: Spark's default manager on a local file system, unlike run_stream's pin
FILE_CONTEXT_CHECKPOINT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileContextBasedCheckpointFileManager"
)


def _restore(spark, key, value):
    if value is None:
        spark.conf.unset(key)
    else:
        spark.conf.set(key, value)


def record_managers(monkeypatch) -> list[str]:
    """A list that gets the class of each stream's offset-log manager
    as run_stream drains it (the query is live at plan capture)."""
    managers = []
    capture = plan_capture.capture_stream

    def probe(q, label):
        log = q._jsq.streamingQuery().offsetLog()
        managers.append(log.fileManager().getClass().getName())
        capture(q, label)

    monkeypatch.setattr(plan_capture, "capture_stream", probe)
    return managers


@pytest.fixture
def session_conf(spark):
    """A session shuffle-partition count that differs from every stream
    pick, and a checkpoint file manager that differs from run_stream's,
    so a leaked pin is visible; the prior values are put back."""
    prev = {k: spark.conf.get(k, None) for k in (SHUFFLE, CHECKPOINT_FILE_MANAGER)}
    value = str(STREAM_PARTITIONS + 3)
    spark.conf.set(SHUFFLE, value)
    spark.conf.set(CHECKPOINT_FILE_MANAGER, FILE_CONTEXT_CHECKPOINT_MANAGER)
    yield value
    for key, old in prev.items():
        _restore(spark, key, old)


@pytest.fixture
def stream(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    pd.DataFrame({"k": ["a", "b", "a", "c"], "v": [1, 2, 3, 4]}).to_parquet(
        src / "b000.parquet", index=False
    )
    return spark.readStream.format("parquet").schema("k string, v long").load(str(src))


class _StateProbe(StreamingQueryListener):
    """numShufflePartitions of every state operator in every progress
    event."""

    def __init__(self):
        self.counts = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        for so in event.progress.stateOperators or []:
            self.counts.append(so.numShufflePartitions)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


def _state_partitions(spark, fn):
    """Run `fn()`; return its result and the state operators' reported
    partition counts."""
    bus = spark.sparkContext._jsc.sc().listenerBus()
    bus.waitUntilEmpty()  # no earlier query's progress reaches the probe
    probe = _StateProbe()
    spark.streams.addListener(probe)
    try:
        out = fn()
        # listener events are async: drain the bus, then poll with a deadline
        bus.waitUntilEmpty()
        deadline = time.time() + 30
        while not probe.counts and time.time() < deadline:
            time.sleep(0.2)
    finally:
        spark.streams.removeListener(probe)
    assert probe.counts, "no state operator progress seen"
    return out, probe.counts


def _sparse(path, size: int) -> None:
    """A file of `size` bytes that takes no disk space; only os.stat
    ever sees it (a stream with a given schema reads no file at plan
    build)."""
    with open(path, "wb") as f:
        f.truncate(size)


def test_failed_start_stops_started_queries_and_restores_conf(
    spark, stream, session_conf
):
    # complete mode needs a streaming aggregation: start() fails while
    # the shuffle-partition pin is in place
    with pytest.raises(Exception, match="(?i)complete"):
        run_to_memory(stream, "complete")
    assert spark.streams.active == []
    assert spark.conf.get(SHUFFLE) == session_conf
    assert spark.conf.get(CHECKPOINT_FILE_MANAGER) == FILE_CONTEXT_CHECKPOINT_MANAGER


@pytest.mark.parametrize("prior", [None, FILE_CONTEXT_CHECKPOINT_MANAGER])
def test_started_stream_logs_through_the_file_system_manager(
    spark, stream, monkeypatch, prior
):
    """The manager is pinned for the start only, yet the started
    query's offset log keeps it; the session's value, or its absence,
    is back once run_stream returns."""
    managers = record_managers(monkeypatch)
    prev = spark.conf.get(CHECKPOINT_FILE_MANAGER, None)
    _restore(spark, CHECKPOINT_FILE_MANAGER, prior)
    try:
        got = run_to_memory(stream.groupBy("k").count(), "complete").collect()
        assert spark.conf.get(CHECKPOINT_FILE_MANAGER, None) == prior
    finally:
        _restore(spark, CHECKPOINT_FILE_MANAGER, prev)
    assert {r.k: r["count"] for r in got} == {"a": 2, "b": 1, "c": 1}
    assert managers == [FILE_SYSTEM_CHECKPOINT_MANAGER]


def test_run_to_memory_leaves_no_temporary_checkpoint(spark, stream):
    """A checkpoint-less stream runs on a `temporary-*` checkpoint under
    the JVM's java.io.tmpdir, which Spark deletes when the stream stops
    cleanly: nothing has to sweep that directory after a query."""
    tmp = spark.sparkContext._jvm.System.getProperty("java.io.tmpdir")

    def temporary():
        return {d for d in os.listdir(tmp) if d.startswith("temporary-")}

    before = temporary()
    assert run_to_memory(stream.dropDuplicates(["k"])).count() == 3
    assert temporary() - before == set()


def test_failing_sink_stops_query_and_restores_conf(spark, stream, session_conf):
    seen = []

    def ok(batch_df, epoch_id):
        seen.append(epoch_id)

    def boom(batch_df, epoch_id):
        raise RuntimeError("sink failed")

    with pytest.raises(StreamingQueryException, match="sink failed"):
        run_fanout(stream, [ok, boom])
    assert seen == [0]
    assert spark.streams.active == []
    assert spark.conf.get(SHUFFLE) == session_conf


def test_state_partitions_fixed_at_start(spark, stream, session_conf, monkeypatch):
    monkeypatch.delenv(OVERRIDE, raising=False)
    agg = stream.groupBy("k").count()
    # a 4-row file picks one partition; the override, when set, wins
    for override, picked in ((None, 1), ("3", 3)):
        if override is not None:
            monkeypatch.setenv(OVERRIDE, override)
        assert stream_shuffle_partitions(agg) == picked
        got, counts = _state_partitions(
            spark, lambda: run_to_memory(agg, "complete").collect()
        )
        assert {r.k: r["count"] for r in got} == {"a": 2, "b": 1, "c": 1}
        assert set(counts) == {picked}
        assert spark.conf.get(SHUFFLE) == session_conf
        assert spark.streams.active == []


def test_pick_steps_at_the_constant(spark, tmp_path, monkeypatch):
    monkeypatch.delenv(OVERRIDE, raising=False)
    src = tmp_path / "src"
    src.mkdir()
    df = spark.readStream.format("parquet").schema("k string").load(str(src))
    _sparse(src / "t.parquet", ONE_PARTITION_MAX_BYTES)
    assert source_bytes(df) == ONE_PARTITION_MAX_BYTES
    assert stream_shuffle_partitions(df) == 1
    _sparse(src / "t.parquet", ONE_PARTITION_MAX_BYTES + 1)
    assert stream_shuffle_partitions(df) == STREAM_PARTITIONS
    monkeypatch.setenv(OVERRIDE, "5")
    assert stream_shuffle_partitions(df) == 5


def test_glob_filter_sizes_only_its_table_and_self_join_counts_once(
    spark, sf_dir, tmp_path, monkeypatch
):
    monkeypatch.delenv(OVERRIDE, raising=False)
    shutil.copy(os.path.join(sf_dir, "events.parquet"), tmp_path / "events.parquet")
    # a sibling table past the constant in the same directory
    _sparse(tmp_path / "lineitem.parquet", 2 * ONE_PARTITION_MAX_BYTES)
    events_bytes = os.path.getsize(tmp_path / "events.parquet")
    ev = stream_table(spark, str(tmp_path), "events")
    assert source_bytes(ev) == events_bytes
    self_join = ev.alias("a").join(ev.alias("b"), "user_id")
    assert source_bytes(self_join) == events_bytes
    assert stream_shuffle_partitions(self_join) == 1
    whole_dir = (
        spark.readStream.format("parquet").schema(ev.schema).load(str(tmp_path))
    )
    assert source_bytes(whole_dir) == events_bytes + 2 * ONE_PARTITION_MAX_BYTES
    assert stream_shuffle_partitions(whole_dir) == STREAM_PARTITIONS


def test_static_side_counts_and_the_pick_launches_no_job(spark, sf_dir, monkeypatch):
    monkeypatch.delenv(OVERRIDE, raising=False)
    docs = stream_table(spark, sf_dir, "documents")
    joined = docs.join(load_table(spark, sf_dir, "documents"), "doc_id", "left_semi")
    # one file behind both leaves
    assert source_bytes(joined) == os.path.getsize(
        os.path.join(sf_dir, "documents.parquet")
    )
    orders = load_table(spark, sf_dir, "orders")
    assert source_bytes(docs.crossJoin(orders)) == sum(
        os.path.getsize(os.path.join(sf_dir, f"{t}.parquet"))
        for t in ("documents", "orders")
    )
    assert _jobs_in_group(spark, lambda: stream_shuffle_partitions(joined)) == 0


def test_rate_source_keeps_eight(spark, monkeypatch):
    monkeypatch.delenv(OVERRIDE, raising=False)
    rate = spark.readStream.format("rate").load()
    assert source_bytes(rate) is None
    assert stream_shuffle_partitions(rate) == STREAM_PARTITIONS
    joined = rate.join(
        spark.readStream.format("rate").load().withColumnRenamed("value", "v"),
        "timestamp",
    )
    assert stream_shuffle_partitions(joined) == STREAM_PARTITIONS


def test_checkpointed_restart_keeps_its_first_count(spark, tmp_path, monkeypatch):
    """Spark records the count in the checkpoint's offset log: a
    restart after the input grew past the constant keeps the first
    count, and the result equals a one-shot run over all the input."""
    monkeypatch.delenv(OVERRIDE, raising=False)
    src = tmp_path / "src"
    src.mkdir()
    pd.DataFrame({"k": ["a", "b", "a"], "v": [1, 2, 3]}).to_parquet(
        src / "b000.parquet", index=False
    )

    def keys():
        return (
            spark.readStream.format("parquet")
            .schema("k string, v long")
            .load(str(src))
            .dropDuplicates(["k"])
        )

    seen = []

    def sink(batch_df, epoch_id):
        seen.extend(r.k for r in batch_df.collect())

    ckpt = str(tmp_path / "ckpt")
    _, first = _state_partitions(spark, lambda: run_fanout(keys(), [sink], ckpt))
    assert set(first) == {1}
    # grow the input past the constant: the pad column is outside the
    # stream's schema, so its random bytes count on disk but are never read
    pd.DataFrame(
        {
            "k": ["a", "c", "d"],
            "v": [4, 5, 6],
            "pad": [os.urandom(ONE_PARTITION_MAX_BYTES // 2) for _ in range(3)],
        }
    ).to_parquet(src / "b001.parquet", index=False)
    assert stream_shuffle_partitions(keys()) == STREAM_PARTITIONS
    _, restart = _state_partitions(spark, lambda: run_fanout(keys(), [sink], ckpt))
    assert set(restart) == {1}
    one_shot, one_shot_counts = _state_partitions(
        spark, lambda: [r.k for r in run_to_memory(keys()).collect()]
    )
    assert set(one_shot_counts) == {STREAM_PARTITIONS}
    assert sorted(seen) == sorted(one_shot) == ["a", "b", "c", "d"]


@pytest.mark.parametrize(
    "name",
    [
        "streaming_scd2",
        "streaming_match_or_timeout",
        "streaming_interval_join",
        "streaming_ema",
    ],
)
def test_eight_partition_path_matches_oracle(spark, sf_dir, monkeypatch, name):
    """Small inputs run on one state partition; the override keeps the
    large-input path (8 stores per stateful operator) under oracle
    parity."""
    monkeypatch.setenv(OVERRIDE, str(STREAM_PARTITIONS))
    problems, counts = _state_partitions(
        spark, lambda: run_and_compare(spark, sf_dir, name)
    )
    assert not problems, f"{name}: " + "; ".join(problems)
    assert set(counts) == {STREAM_PARTITIONS}
