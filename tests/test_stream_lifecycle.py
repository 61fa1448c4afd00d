"""The bounded-stream lifecycle in streaming/run.run_stream, seen
through its runners: a failed start or a failing sink leaves no query
running and the session's shuffle-partition count where it was; a
stateful stream's state operator keeps the pinned count after the pin
is gone."""

from __future__ import annotations

import time

import pandas as pd
import pytest
from pyspark.errors import StreamingQueryException
from pyspark.sql.streaming import StreamingQueryListener

from flink_tutorial_spark.streaming.run import (
    run_fanout,
    run_to_memory,
    stream_shuffle_partitions,
)

SHUFFLE = "spark.sql.shuffle.partitions"


@pytest.fixture
def session_conf(spark):
    """A session shuffle-partition count that differs from the stream
    pin, so a leaked pin is visible; the prior value is put back."""
    prev = spark.conf.get(SHUFFLE)
    value = str(int(stream_shuffle_partitions()) + 3)
    spark.conf.set(SHUFFLE, value)
    yield value
    spark.conf.set(SHUFFLE, prev)


@pytest.fixture
def stream(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    pd.DataFrame({"k": ["a", "b", "a", "c"], "v": [1, 2, 3, 4]}).to_parquet(
        src / "b000.parquet", index=False
    )
    return spark.readStream.format("parquet").schema("k string, v long").load(str(src))


def test_failed_start_stops_started_queries_and_restores_conf(
    spark, stream, session_conf
):
    # complete mode needs a streaming aggregation: start() fails while
    # the shuffle-partition pin is in place
    with pytest.raises(Exception, match="(?i)complete"):
        run_to_memory(stream, "complete")
    assert spark.streams.active == []
    assert spark.conf.get(SHUFFLE) == session_conf


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


def test_state_partitions_fixed_at_start(spark, stream, session_conf):
    class Probe(StreamingQueryListener):
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

    probe = Probe()
    spark.streams.addListener(probe)
    try:
        got = run_to_memory(stream.groupBy("k").count(), "complete")
        rows = {r.k: r["count"] for r in got.collect()}
        # listener events are async: poll with a deadline
        deadline = time.time() + 30
        while not probe.counts and time.time() < deadline:
            time.sleep(0.2)
    finally:
        spark.streams.removeListener(probe)
    assert rows == {"a": 2, "b": 1, "c": 1}
    assert probe.counts, "no state operator progress seen"
    assert probe.counts[0] == int(stream_shuffle_partitions())
    assert spark.conf.get(SHUFFLE) == session_conf
    assert spark.streams.active == []

