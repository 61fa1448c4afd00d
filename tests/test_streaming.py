"""Structured Streaming semantics tests: drive deterministic micro-
batches through a file source (one parquet file per batch,
maxFilesPerTrigger=1) into memory sinks, reproducing the reference's
inline golden traces (SURVEY.md §5):

- event-time tumbling window I/O — EvenTimeTumblingWindowDemo.java:48-66
- update-mode running agg == retract-stream trace — day10/_02:55-66
- keyed count window — CountWindowDemo.java:32 / CountWindowAllDemo.java:33-41
- strict-contiguity CEP + match-or-timeout — LoginFail / OrderTimeout
- stream-stream interval join — IntervalJoinDemo.java:75-86
- idempotent keyed upsert sink — JDBCSinkDemo.java:24-59 contract
"""

from __future__ import annotations

import os
import uuid

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

EVENT_SCHEMA = StructType(
    [
        StructField("ts", TimestampType()),
        StructField("key", StringType()),
        StructField("user", LongType()),
        StructField("kind", StringType()),
        StructField("value", DoubleType()),
    ]
)

_ARROW_SCHEMA = pa.schema(
    [
        ("ts", pa.timestamp("us")),
        ("key", pa.string()),
        ("user", pa.int64()),
        ("kind", pa.string()),
        ("value", pa.float64()),
    ]
)

T0 = pd.Timestamp("2024-01-01 00:00:00")


def _row(sec, key="a", user=1, kind="x", value=1.0):
    return (T0 + pd.Timedelta(seconds=sec), key, user, kind, value)


def write_batches(tmpdir: str, batches):
    os.makedirs(tmpdir, exist_ok=True)
    for i, rows in enumerate(batches):
        pdf = pd.DataFrame(rows, columns=["ts", "key", "user", "kind", "value"])
        path = os.path.join(tmpdir, f"b{i:03d}.parquet")
        pq.write_table(
            pa.Table.from_pandas(pdf, schema=_ARROW_SCHEMA, preserve_index=False),
            path,
        )
        # FileStreamSource orders new files by MTIME: files written in
        # the same clock tick (easy under full-suite load) would process
        # in arbitrary order and break every cross-batch carry test.
        # Pin strictly increasing mtimes so batch order is deterministic.
        os.utime(path, (1_600_000_000 + i, 1_600_000_000 + i))


def run_stream(spark, src_dir, build_query, mode, name=None):
    name = name or f"out_{uuid.uuid4().hex[:8]}"
    stream = (
        spark.readStream.format("parquet")
        .schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .load(src_dir)
    )
    out = build_query(stream)
    q = out.writeStream.outputMode(mode).format("memory").queryName(name).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.sql(f"SELECT * FROM {name}")


def test_event_time_tumbling_window_golden(spark, tmp_path):
    # golden trace shape of EvenTimeTumblingWindowDemo.java:48-66:
    # 5s tumbling sums fire when the watermark passes the window end
    src = str(tmp_path / "src")
    write_batches(
        src,
        [
            [_row(1, "a", value=1), _row(2, "a", value=2), _row(4, "b", value=3)],
            [_row(6, "a", value=4)],
            [_row(13, "z", value=9)],  # pushes watermark past [5,10)
        ],
    )

    def q(stream):
        return (
            stream.withWatermark("ts", "0 seconds")
            .groupBy(F.window("ts", "5 seconds").alias("w"), "key")
            .agg(F.sum("value").alias("total"))
            .select(F.col("w.start").alias("ws"), "key", "total")
        )

    got = {
        (r.ws.isoformat(), r.key): r.total
        for r in run_stream(spark, src, q, "append").collect()
    }
    assert got[("2024-01-01T00:00:00", "a")] == 3.0  # [0,5): 1+2
    assert got[("2024-01-01T00:00:00", "b")] == 3.0
    assert got[("2024-01-01T00:00:05", "a")] == 4.0  # [5,10)


def test_update_mode_equals_retract_trace(spark, tmp_path):
    # day10/_02_StreamToTable_Agg.java:55-66: (true, ws_001, 45) then
    # retract+re-emit 90 — update mode re-emits the revised row per batch
    src = str(tmp_path / "src")
    write_batches(src, [[_row(1, "ws_001", value=45.0)], [_row(2, "ws_001", value=45.0)]])

    def q(stream):
        return stream.groupBy("key").agg(F.sum("value").alias("vc_sum"))

    rows = run_stream(spark, src, q, "update").collect()
    emitted = [r.vc_sum for r in rows if r.key == "ws_001"]
    assert emitted == [45.0, 90.0]


def test_keyed_count_window(spark, tmp_path):
    from flink_tutorial_spark.streaming.stateful import count_window_sum

    src = str(tmp_path / "src")
    write_batches(
        src,
        [
            [_row(1, "a", value=1), _row(2, "a", value=2), _row(3, "b", value=10)],
            [_row(4, "a", value=3), _row(5, "b", value=20), _row(6, "b", value=30)],
            [_row(7, "a", value=4)],
        ],
    )
    got = run_stream(
        spark, src, lambda s: count_window_sum(s, "key", "ts", "value", 3), "append"
    ).collect()
    by_key = {(r.key, r.window_seq): (r.cnt, r.sum_value) for r in got}
    assert by_key[("a", 1)] == (3, 6.0)  # first 3 a-rows: 1+2+3
    assert by_key[("b", 1)] == (3, 60.0)
    assert ("a", 2) not in by_key  # 4th a-row still buffered


def test_detect_consecutive_streaming(spark, tmp_path):
    from flink_tutorial_spark.streaming.cep import detect_consecutive

    src = str(tmp_path / "src")
    write_batches(
        src,
        [
            [
                _row(0, user=7, kind="fail"),
                _row(60, user=7, kind="fail"),
                _row(100, user=8, kind="fail"),
            ],
            [
                _row(120, user=8, kind="ok"),  # resets user 8
                _row(200, user=8, kind="fail"),
            ],
        ],
    )

    def q(stream):
        flagged = stream.withColumn("is_fail", F.col("kind") == "fail")
        return detect_consecutive(flagged, "user", "ts", "is_fail", 2, 1800)

    got = run_stream(spark, src, q, "append").collect()
    assert {(r.key, r.n_matched) for r in got} == {(7, 2)}


def test_detect_sequence_overlapping_and_expiry(spark, tmp_path):
    # generalized CEP: two overlapping signups share later click/purchase;
    # an expired signup (outside `within`) must NOT match
    from flink_tutorial_spark.streaming.cep import detect_sequence

    src = str(tmp_path / "src")
    base = int(T0.timestamp()) * 1_000_000
    write_batches(
        src,
        [
            [
                _row(0, user=1, kind="signup"),
                _row(10, user=1, kind="signup"),    # overlapping 2nd start
                _row(20, user=1, kind="click"),
                _row(30, user=1, kind="purchase"),
                _row(5000, user=2, kind="signup"),  # will expire (within=100)
            ],
            [
                _row(5200, user=2, kind="click"),   # 200s later: expired
                _row(5210, user=2, kind="purchase"),
            ],
        ],
    )

    def q(stream):
        flagged = stream.select(
            "user",
            "ts",
            (F.col("kind") == "signup").alias("s0"),
            (F.col("kind") == "click").alias("s1"),
            (F.col("kind") == "purchase").alias("s2"),
        )
        return detect_sequence(flagged, "user", "ts", ["s0", "s1", "s2"], 100)

    got = sorted(
        (r.key, (r.start_us - base) // 1_000_000, (r.end_us - base) // 1_000_000)
        for r in run_stream(spark, src, q, "append").collect()
    )
    # both signups (0s and 10s) complete on the same click+purchase
    assert got == [(1, 0, 30), (1, 10, 30)]


def test_match_or_timeout_streaming(spark, tmp_path):
    from flink_tutorial_spark.streaming.cep import match_or_timeout

    src = str(tmp_path / "src")
    base = int(T0.timestamp())
    write_batches(
        src,
        [
            [_row(0, user=1, kind="create", value=5.0), _row(10, user=2, kind="create", value=7.0)],
            [_row(300, user=1, kind="pay")],
            [_row(5000, user=9, kind="other")],  # watermark push -> user 2 times out
        ],
    )

    def q(stream):
        wm = stream.withWatermark("ts", "0 seconds")
        return match_or_timeout(wm, "user", "ts", "kind", "create", "pay", 900)

    got = {r.key: (r.status, r.start_ts) for r in run_stream(spark, src, q, "append").collect()}
    # start_ts is reported in int64 microseconds (full parquet precision)
    assert got[1] == ("matched", base * 1_000_000)
    assert got[2] == ("timeout", (base + 10) * 1_000_000)


def test_stream_stream_interval_join(spark, tmp_path):
    src = str(tmp_path / "src")
    write_batches(
        src,
        [
            [
                _row(0, user=1, kind="signup"),
                _row(100, user=1, kind="purchase", value=9.0),
                _row(3000, user=2, kind="signup"),
                _row(9000, user=2, kind="purchase", value=1.0),  # outside +10m
            ],
        ],
    )
    stream = (
        spark.readStream.format("parquet").schema(EVENT_SCHEMA).load(src)
    )
    s = stream.where(F.col("kind") == "signup").select(
        F.col("user").alias("s_user"), F.col("ts").alias("s_ts")
    ).withWatermark("s_ts", "1 hour")
    p = stream.where(F.col("kind") == "purchase").select(
        F.col("user").alias("p_user"), F.col("ts").alias("p_ts"), "value"
    ).withWatermark("p_ts", "1 hour")
    j = s.join(
        p,
        (F.col("s_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("s_ts"))
        & (F.col("p_ts") <= F.col("s_ts") + F.expr("INTERVAL 10 MINUTES")),
    )
    name = f"j_{uuid.uuid4().hex[:8]}"
    q = j.writeStream.outputMode("append").format("memory").queryName(name).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.sql(f"SELECT s_user, value FROM {name}").collect()
    assert [(r.s_user, r.value) for r in got] == [(1, 9.0)]


def test_streaming_session_window(spark, tmp_path):
    # EventTimeSessionWindowDemo.java:48-57 golden shape: events within
    # the gap merge; a quiet period splits; append emits closed sessions
    src = str(tmp_path / "src")
    write_batches(
        src,
        [
            [_row(0, "a", value=1), _row(3, "a", value=1), _row(5, "a", value=1)],
            [_row(30, "a", value=1)],                       # > 5s gap: new session
            [_row(600, "z", value=1)],                      # close everything
        ],
    )

    def q(stream):
        return (
            stream.withWatermark("ts", "0 seconds")
            .groupBy(F.session_window("ts", "5 seconds").alias("w"), "key")
            .agg(F.count("*").alias("cnt"))
            .select(
                F.col("w.start").alias("start"),
                F.col("w.end").alias("end"),
                "key",
                "cnt",
            )
        )

    got = {
        (r.start.isoformat(), r.end.isoformat(), r.key): r.cnt
        for r in run_stream(spark, src, q, "append").collect()
    }
    # session 1: rows at 0,3,5 merge -> [0, 10); session 2: [30, 35)
    assert got[("2024-01-01T00:00:00", "2024-01-01T00:00:10", "a")] == 3
    assert got[("2024-01-01T00:00:30", "2024-01-01T00:00:35", "a")] == 1


def test_timer_gated_forwarding(spark, tmp_path):
    # _05_CoProcessFunctionTimers: 'switch' opens the gate 100s; data
    # inside the window forwards, outside is suppressed
    from flink_tutorial_spark.streaming.cep import timer_gated_forward

    src = str(tmp_path / "src")
    write_batches(
        src,
        [
            [
                _row(0, user=1, kind="data", value=1.0),    # gate closed -> drop
                _row(10, user=1, kind="switch"),
                _row(50, user=1, kind="data", value=2.0),   # open -> forward
            ],
            [
                _row(200, user=1, kind="data", value=3.0),  # expired -> drop
                _row(20, user=2, kind="data", value=9.0),   # other key closed
            ],
        ],
    )

    def q(stream):
        return timer_gated_forward(stream, "user", "ts", "kind", "switch", "data", 100)

    got = [(r.key, r.value) for r in run_stream(spark, src, q, "append").collect()]
    assert got == [(1, 2.0)]


def test_windowed_count_with_running_total(spark, tmp_path):
    # ProcessWindowFunctionDemo01/02.java:54-102: per-window counts plus
    # a per-key total accumulated ACROSS windows via keyed state
    from flink_tutorial_spark.streaming.stateful import (
        windowed_count_with_running_total,
    )

    src = str(tmp_path / "src")
    write_batches(
        src,
        [
            [_row(1, "a"), _row(2, "a"), _row(11, "a")],   # windows 0 & 10
            [_row(21, "a"), _row(22, "a"), _row(1, "b")],  # window 20 + key b
        ],
    )
    got = run_stream(
        spark,
        src,
        lambda s: windowed_count_with_running_total(s, "key", "ts", 10),
        "append",
    ).collect()
    a_rows = sorted((r.window_start, r.window_cnt, r.running_total) for r in got if r.key == "a")
    base = int(T0.timestamp())
    assert a_rows == [(base, 2, 2), (base + 10, 1, 3), (base + 20, 2, 5)]
    assert [(r.window_cnt, r.running_total) for r in got if r.key == "b"] == [(1, 1)]


def test_stream_stream_left_outer_window_join(spark, tmp_path):
    # TumblingWindowLeftJoinDemo.java:56-84 STREAMING twin: left outer
    # stream-stream join emits the null-padded row once the watermark
    # closes the join window
    src = str(tmp_path / "src")
    write_batches(
        src,
        [
            [
                _row(0, user=1, kind="signup"),
                _row(30, user=1, kind="purchase", value=5.0),
                _row(10, user=2, kind="signup"),   # never purchases
            ],
            # watermark rows must pass BOTH side filters (the watermark
            # nodes sit after them) and both sides' watermarks advance
            # (multipleWatermarkPolicy=min); nulls emit a batch later
            [_row(9000, user=7, kind="signup"), _row(9000, user=7, kind="purchase", value=0.0)],
            [_row(20000, user=8, kind="signup"), _row(20000, user=8, kind="purchase", value=0.0)],
        ],
    )
    stream = (
        spark.readStream.format("parquet").schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", "1").load(src)
    )
    s = stream.where(F.col("kind") == "signup").select(
        F.col("user").alias("s_user"), F.col("ts").alias("s_ts")
    ).withWatermark("s_ts", "0 seconds")
    p = stream.where(F.col("kind") == "purchase").select(
        F.col("user").alias("p_user"), F.col("ts").alias("p_ts"), "value"
    ).withWatermark("p_ts", "0 seconds")
    j = s.join(
        p,
        (F.col("s_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("s_ts"))
        & (F.col("p_ts") <= F.col("s_ts") + F.expr("INTERVAL 10 MINUTES")),
        "leftOuter",
    )
    name = f"lo_{uuid.uuid4().hex[:8]}"
    q = j.writeStream.outputMode("append").format("memory").queryName(name).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        (r.s_user, r.value)
        for r in spark.sql(f"SELECT s_user, value FROM {name} WHERE s_user IN (1, 2)").collect()
    }
    assert got == {(1, 5.0), (2, None)}  # unmatched side null-padded


def test_socket_source_live(spark):
    # SocketSourceDemo.java:20: drive the real socket source against an
    # in-process TCP server
    import socket
    import threading
    import time as _t

    from flink_tutorial_spark.sources.streaming import socket_source

    server = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    server.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    server.bind(("127.0.0.1", 0))
    port = server.getsockname()[1]
    server.listen(1)

    def serve():
        conn, _ = server.accept()
        conn.sendall(b"hello spark\nhello flink\n")
        _t.sleep(8)
        conn.close()

    t = threading.Thread(target=serve, daemon=True)
    t.start()
    name = f"sock_{uuid.uuid4().hex[:8]}"
    lines = socket_source(spark, "127.0.0.1", port)
    q = lines.writeStream.outputMode("append").format("memory").queryName(name).start()
    try:
        deadline = _t.time() + 20
        rows = []
        while _t.time() < deadline and len(rows) < 2:
            rows = spark.sql(f"SELECT * FROM {name}").collect()
            _t.sleep(0.5)
    finally:
        q.stop()
        server.close()
    assert sorted(r.value for r in rows) == ["hello flink", "hello spark"]


def test_keyed_upsert_sink_idempotent(spark, tmp_path):
    from flink_tutorial_spark.sinks.foreach import KeyedUpsertSink

    sink = KeyedUpsertSink(spark, str(tmp_path / "kv"), ["key"])
    b1 = spark.createDataFrame([("a", 1.0), ("b", 2.0)], ["key", "value"])
    b2 = spark.createDataFrame([("a", 5.0)], ["key", "value"])
    sink(b1, 0)
    sink(b2, 1)
    sink(b2, 1)  # epoch replay must be a no-op
    got = {r.key: r.value for r in sink.read().collect()}
    assert got == {"a": 5.0, "b": 2.0}


def test_keyed_upsert_sink_bucket_incremental(spark, tmp_path):
    # VERDICT r1 #7: an epoch must rewrite only the buckets its keys
    # touch, and the superseded version must survive one epoch so lazy
    # readers stay valid
    from flink_tutorial_spark.sinks.foreach import KeyedUpsertSink

    sink = KeyedUpsertSink(spark, str(tmp_path / "kv"), ["key"], n_buckets=8)
    b1 = spark.createDataFrame(
        [(f"k{i}", float(i)) for i in range(20)], ["key", "value"]
    )
    sink(b1, 0)
    paths_before = dict(sink._live_bucket_paths())
    pinned = sink.read()  # lazy plan pinned to the v0 bucket dirs
    b2 = spark.createDataFrame([("k3", 99.0)], ["key", "value"])
    sink(b2, 1)
    paths_after = sink._live_bucket_paths()
    changed = {b for b in paths_before if paths_after.get(b) != paths_before[b]}
    assert len(changed) == 1  # exactly the bucket k3 hashes into
    # superseded version retained (N-1 rule): the pinned plan still reads
    assert len(pinned.collect()) == 20
    got = {r.key: r.value for r in sink.read().collect()}
    assert got["k3"] == 99.0 and len(got) == 20


def test_duckdb_upsert_sink_idempotent(spark, tmp_path):
    # JDBCSinkDemo.java:24-59 contract through a REAL staging->target
    # merge in an embedded SQL database (transactional delete+insert)
    import duckdb

    from flink_tutorial_spark.sinks.foreach import duckdb_upsert_writer

    db = str(tmp_path / "upsert.duckdb")
    write = duckdb_upsert_writer(db, "wordcount", ["key"])
    b1 = spark.createDataFrame([("a", 1.0), ("b", 2.0)], ["key", "value"])
    b2 = spark.createDataFrame([("a", 5.0), ("c", 7.0)], ["key", "value"])
    write(b1, 0)
    write(b2, 1)
    write(b2, 1)  # epoch replay must be a no-op
    con = duckdb.connect(db)
    got = dict(con.execute("SELECT key, value FROM wordcount ORDER BY key").fetchall())
    con.close()
    assert got == {"a": 5.0, "b": 2.0, "c": 7.0}


def test_detect_consecutive_sliding_streak(spark, tmp_path):
    # ADVICE r1 (medium): for n>=3 a bound violation must SLIDE the
    # streak forward, not reset it — flags at 0,20,40,55 with within=40
    # contain matches (0,40) AND (20,55); reset-at-current loses the 2nd
    from flink_tutorial_spark.streaming.cep import detect_consecutive

    src = str(tmp_path / "src")
    write_batches(
        src,
        [
            [
                _row(0, user=7, kind="fail"),
                _row(20, user=7, kind="fail"),
            ],
            [
                _row(40, user=7, kind="fail"),  # carry crosses the batch
                _row(55, user=7, kind="fail"),
                _row(60, user=7, kind="ok"),    # breaks the run
                _row(70, user=7, kind="fail"),  # new run: no match
            ],
        ],
    )

    def q(stream):
        flagged = stream.withColumn("is_fail", F.col("kind") == "fail")
        return detect_consecutive(flagged, "user", "ts", "is_fail", 3, 40)

    base = int(T0.timestamp()) * 1_000_000
    got = sorted(
        ((r.first_ts - base) // 1_000_000, (r.last_ts - base) // 1_000_000)
        for r in run_stream(spark, src, q, "append").collect()
    )
    assert got == [(0, 40), (20, 55)]


def test_detect_sequence_veto(spark, tmp_path):
    # notFollowedBy: a veto event strictly between start and completion
    # kills the sequence; a veto AT the completion ts does not
    from flink_tutorial_spark.streaming.cep import detect_sequence

    src = str(tmp_path / "src")
    base = int(T0.timestamp()) * 1_000_000
    write_batches(
        src,
        [
            [
                _row(0, user=1, kind="signup"),
                _row(10, user=1, kind="error"),    # vetoes the 0-start
                _row(20, user=1, kind="purchase"),
                _row(30, user=1, kind="signup"),
            ],
            [
                _row(40, user=1, kind="purchase"),  # completes the 30-start
                _row(50, user=2, kind="signup"),
                _row(60, user=2, kind="error"),
                _row(60, user=2, kind="purchase"),  # veto AT completion ts: survives
            ],
        ],
    )

    def q(stream):
        flagged = stream.select(
            "user",
            "ts",
            (F.col("kind") == "signup").alias("s0"),
            (F.col("kind") == "purchase").alias("s1"),
            (F.col("kind") == "error").alias("veto"),
        )
        return detect_sequence(flagged, "user", "ts", ["s0", "s1"], 100, veto_col="veto")

    got = sorted(
        (r.key, (r.start_us - base) // 1_000_000, (r.end_us - base) // 1_000_000)
        for r in run_stream(spark, src, q, "append").collect()
    )
    assert got == [(1, 30, 40), (2, 50, 60)]


def test_early_fire_update_mode_window(spark, tmp_path):
    # GlobalWindows + early-fire trigger analog (SURVEY §2.6 row 51,
    # _06_GlobalWindowDemo / ContinuousEventTimeTrigger family): an
    # UPDATE-mode window agg fires a partial result every micro-batch a
    # window is touched, then refines it — the memory sink keeps the
    # full firing log, so both the early fire and the revision are
    # observable, matching Flink's early-fire output stream.
    src = str(tmp_path / "src")
    write_batches(
        src,
        [
            [_row(0), _row(10)],            # window [0,60): partial count 2
            [_row(20), _row(70, key="b")],  # window [0,60) refined to 3
        ],
    )

    def q(stream):
        return (
            stream.withWatermark("ts", "0 seconds")
            .groupBy(F.window("ts", "60 seconds").alias("w"), F.col("key"))
            .agg(F.count("*").alias("cnt"))
            .select(F.col("w.start").alias("ws"), "key", "cnt")
        )

    log = run_stream(spark, src, q, "update").collect()
    fires = sorted(((r.ws - T0).total_seconds(), r.key, r.cnt) for r in log)
    # early fire (a,2) for window 0, its refinement (a,3), and (b,1)
    assert fires == [(0.0, "a", 2), (0.0, "a", 3), (60.0, "b", 1)]


def test_socket_sink_live(spark, tmp_path):
    # SocketSinkDemo.java:17 (writeToSocket): drive the foreachBatch
    # socket writer against an in-process TCP server and read the lines
    # back — the sink's live round trip
    import socket
    import threading

    from flink_tutorial_spark.sinks.foreach import socket_writer

    server = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    server.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    server.bind(("127.0.0.1", 0))
    port = server.getsockname()[1]
    server.listen(1)
    received: list[bytes] = []

    def serve():
        conn, _ = server.accept()
        while chunk := conn.recv(4096):
            received.append(chunk)
        conn.close()

    t = threading.Thread(target=serve, daemon=True)
    t.start()

    src = str(tmp_path / "src")
    write_batches(src, [[_row(0, kind="alpha"), _row(1, kind="beta")]])
    stream = (
        spark.readStream.format("parquet").schema(EVENT_SCHEMA).load(src)
    )
    q = (
        stream.select(F.col("kind").alias("value"))
        .writeStream.outputMode("append")
        .foreachBatch(socket_writer("127.0.0.1", port))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    t.join(timeout=10)
    server.close()
    lines = b"".join(received).decode().split()
    assert sorted(lines) == ["alpha", "beta"]


def test_late_side_channel(spark, tmp_path):
    # sideOutputLateData: rows older than the in-effect watermark land
    # in the late sink; the watermark advances at batch END (in effect
    # next batch), matching the drop rule of a downstream windowed agg
    from flink_tutorial_spark.sinks.foreach import LateSideChannel

    src = str(tmp_path / "src")
    write_batches(
        src,
        [
            [_row(0), _row(100)],          # batch 0: wm after = 100-10 = 90
            [_row(50), _row(95), _row(200)],  # 50 < 90 late; 95, 200 main
            [_row(120)],                   # wm now 190: 120 late
        ],
    )
    ch = LateSideChannel(spark, str(tmp_path / "out"), "ts", delay_seconds=10)
    stream = (
        spark.readStream.format("parquet")
        .schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .load(src)
    )
    q = stream.writeStream.outputMode("append").foreachBatch(ch).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    mains = sorted((r.ts - T0).total_seconds() for r in ch.main().collect())
    lates = sorted((r.ts - T0).total_seconds() for r in ch.late().collect())
    assert mains == [0.0, 95.0, 100.0, 200.0]
    assert lates == [50.0, 120.0]


def test_detect_consecutive_times_range(spark, tmp_path):
    # Flink times(2,3).consecutive(): every streak length in [2,3] emits
    # its own match; the carry dedup must not re-emit m=2 windows that
    # already fired before the batch boundary
    from flink_tutorial_spark.streaming.cep import detect_consecutive

    src = str(tmp_path / "src")
    write_batches(
        src,
        [
            [_row(0, kind="fail"), _row(20, kind="fail"), _row(40, kind="fail")],
            [_row(55, kind="fail")],
        ],
    )

    def q(stream):
        flagged = stream.withColumn("is_fail", F.col("kind") == "fail")
        return detect_consecutive(flagged, "user", "ts", "is_fail", 2, 40, n_max=3)

    base = int(T0.timestamp()) * 1_000_000
    got = sorted(
        ((r.first_ts - base) // 1_000_000, (r.last_ts - base) // 1_000_000, r.n_matched)
        for r in run_stream(spark, src, q, "append").collect()
    )
    assert got == [(0, 20, 2), (0, 40, 3), (20, 40, 2), (20, 55, 3), (40, 55, 2)]


def test_detect_sequence_optional_step(spark, tmp_path):
    # Flink .optional(): take/skip branches both live — user 1's branches
    # converge on the same purchase (one distinct match), user 2's skip
    # branch completes early and the take branch later (two matches)
    from flink_tutorial_spark.streaming.cep import detect_sequence

    src = str(tmp_path / "src")
    write_batches(
        src,
        [
            [_row(0, user=1, kind="view"), _row(5, user=1, kind="click"),
             _row(10, user=1, kind="purchase"), _row(20, user=1, kind="purchase"),
             _row(0, user=2, kind="view"), _row(5, user=2, kind="purchase"),
             _row(8, user=2, kind="click"), _row(15, user=2, kind="purchase")],
        ],
    )

    def q(stream):
        flagged = stream.select(
            "user", "ts",
            (F.col("kind") == "view").alias("is_view"),
            (F.col("kind") == "click").alias("is_click"),
            (F.col("kind") == "purchase").alias("is_purchase"),
        )
        return detect_sequence(
            flagged, "user", "ts", ["is_view", "is_click", "is_purchase"], 60,
            optional=[False, True, False],
        )

    base = int(T0.timestamp()) * 1_000_000
    got = sorted(
        set(
            (r.key, (r.start_us - base) // 1_000_000, (r.end_us - base) // 1_000_000)
            for r in run_stream(spark, src, q, "append").collect()
        )
    )
    assert got == [(1, 0, 10), (2, 0, 5), (2, 0, 15)]


def test_blacklist_filter_daily_reset_and_side_output(spark, tmp_path):
    """AdClickAnalysis.scala:85-123 semantics: first max_count clicks per
    (user, ad, day) pass on the main channel, the crossing click emits
    one warning, later clicks are suppressed (also across batches), and
    the count resets on the next event-time day."""
    from flink_tutorial_spark.streaming.stateful import blacklist_filter

    src = str(tmp_path / "src")
    d2 = 86_400
    write_batches(
        src,
        [
            [
                _row(10, user=1, value=5.0),
                _row(20, user=1, value=5.0),
                _row(30, user=1, value=5.0),  # crossing -> warning
                _row(40, user=1, value=5.0),  # suppressed
                _row(15, user=2, value=5.0),  # other user unaffected
            ],
            [
                _row(50, user=1, value=5.0),  # carried state -> suppressed
                _row(d2 + 10, user=1, value=5.0),  # new day -> reset
                _row(d2 + 20, user=1, value=5.0),
                _row(d2 + 30, user=1, value=5.0),  # crossing again
            ],
        ],
    )

    def q(stream):
        clicks = (
            stream.withColumn("ad", F.col("value").cast("long"))
            .withColumn("day", F.date_trunc("day", F.col("ts")))
            .withWatermark("ts", "0 seconds")
        )
        return blacklist_filter(clicks, "user", "ad", "ts", "day", 2, order_col="value")

    rows = run_stream(spark, src, q, "append").collect()
    base = int(T0.timestamp())
    got = sorted((r.channel, r.user_id, int(r.ts.timestamp()) - base) for r in rows)
    assert got == sorted(
        [
            ("main", 1, 10),
            ("main", 1, 20),
            ("warning", 1, 30),
            ("main", 2, 15),
            ("main", 1, d2 + 10),
            ("main", 1, d2 + 20),
            ("warning", 1, d2 + 30),
        ]
    )


def test_blacklist_filter_shared_bucket_isolates_users(spark, tmp_path):
    """Bucket keying: users 1, 65 and 129 land in one state bucket —
    per-user counters must still rank independently (within batch and
    carried across batches), byte-identical to per-user keying. Pins
    the vectorized 3-key cumcount + the shared-state carry merge."""
    from flink_tutorial_spark.streaming.buckets import N_BUCKETS
    from flink_tutorial_spark.streaming.stateful import blacklist_filter

    assert len({u % N_BUCKETS for u in (1, 65, 129)}) == 1
    src = str(tmp_path / "src")
    write_batches(
        src,
        [
            [
                _row(10, user=1, value=5.0),
                _row(11, user=65, value=5.0),
                _row(20, user=1, value=5.0),  # u1 crossing -> warning
                _row(21, user=65, value=5.0),  # u65 crossing -> warning
                _row(30, user=129, value=5.0),
            ],
            [
                _row(40, user=1, value=5.0),  # carried -> suppressed
                _row(41, user=129, value=5.0),  # u129 crossing via carry
            ],
        ],
    )

    def q(stream):
        clicks = (
            stream.withColumn("ad", F.col("value").cast("long"))
            .withColumn("day", F.date_trunc("day", F.col("ts")))
            .withWatermark("ts", "0 seconds")
        )
        return blacklist_filter(clicks, "user", "ad", "ts", "day", 1, order_col="value")

    rows = run_stream(spark, src, q, "append").collect()
    base = int(T0.timestamp())
    got = sorted((r.channel, r.user_id, int(r.ts.timestamp()) - base) for r in rows)
    assert got == sorted(
        [
            ("main", 1, 10),
            ("main", 65, 11),
            ("warning", 1, 20),
            ("warning", 65, 21),
            ("main", 129, 30),
            ("warning", 129, 41),
        ]
    )


def test_transition_pairs_cross_batch_state(spark, tmp_path):
    """The last-item state slot carries across micro-batches: a
    transition whose endpoints arrive in different batches still emits,
    self-loops drop, and counts converge to the batch lag() edges."""
    from flink_tutorial_spark.streaming.stateful import transition_pairs

    src = str(tmp_path / "src")
    # `value` carries the item id; user key rides `user`
    write_batches(
        src,
        [
            [_row(1, user=1, value=10), _row(2, user=1, value=20)],
            # batch boundary: user 1's 20 -> 30 spans batches
            [_row(3, user=1, value=30), _row(4, user=2, value=7)],
            # self-loop for user 2 (7 -> 7) must NOT emit; then 7 -> 8
            [_row(5, user=2, value=7), _row(6, user=2, value=8)],
        ],
    )
    got = run_stream(
        spark,
        src,
        lambda s: transition_pairs(
            s.selectExpr(
                "user", "ts", "CAST(value AS LONG) AS item",
                "CAST(0 AS LONG) AS event_id",
            ),
            "user",
            ["ts", "event_id"],
            "item",
        ),
        "append",
    ).collect()
    pairs = sorted((r.src, r.dst) for r in got)
    assert pairs == [(7, 8), (10, 20), (20, 30)]


def test_rolling_zscore_ring_cross_batch(spark, tmp_path):
    """The ring buffer carries across micro-batches, scores only after
    min_n baseline buckets, caps at `window`, and flags a planted
    spike; rounding matches SQL half-away semantics."""
    from flink_tutorial_spark.streaming.stateful import rolling_zscore

    src = str(tmp_path / "src")
    # value carries the fixed-point bucket metric (scale=1000 default)
    write_batches(
        src,
        [
            [_row(3600 * 1, "a", value=10000), _row(3600 * 2, "a", value=20000)],
            [_row(3600 * 3, "a", value=10000), _row(3600 * 4, "a", value=20000)],
            [_row(3600 * 5, "a", value=100000)],
        ],
    )
    got = run_stream(
        spark,
        src,
        lambda s: rolling_zscore(
            s.selectExpr("key", "ts", "CAST(value AS LONG) AS v"),
            "key",
            "ts",
            "v",
            window=4,
            min_n=2,
        ),
        "append",
    ).collect()
    rows = sorted(got, key=lambda r: r.bucket)
    # buckets 3,4,5 score (n>=2); bucket 5's baseline spans both batches
    assert [r.n_window for r in rows] == [2, 3, 4]
    spike = rows[-1]
    assert spike.value == 100.0 and spike.roll_mean == 15.0
    assert spike.roll_std == 5.0 and spike.z == 17.0
    assert spike.is_anomaly
    assert not rows[0].is_anomaly and not rows[1].is_anomaly


def test_scd2_closed_intervals_cross_batch(spark, tmp_path):
    """Open intervals carry across batches and close when the change
    arrives in a later batch; repeats extend silently; the open tail
    never emits."""
    from flink_tutorial_spark.streaming.stateful import scd2_closed_intervals

    src = str(tmp_path / "src")
    write_batches(
        src,
        [
            [_row(10, user=1, value=5)],
            [_row(20, user=1, value=5)],  # repeat: extends, no emit
            [_row(30, user=1, value=7)],  # closes [10,30) v1, opens v2
            [_row(40, user=1, value=5)],  # closes [30,40) v2, opens v3
        ],
    )
    got = run_stream(
        spark,
        src,
        lambda s: scd2_closed_intervals(
            s.selectExpr(
                "user AS user_id", "ts", "CAST(value AS LONG) AS item",
                "CAST(0 AS LONG) AS event_id",
            ),
            "user_id",
            ["ts", "event_id"],
            "item",
        ),
        "append",
    ).collect()
    rows = sorted(got, key=lambda r: r.version)
    assert [(r.item_id, r.version) for r in rows] == [(5, 1), (7, 2)]
    assert rows[0].effective_to == rows[1].effective_from
    # v3 (item 5, open) must NOT be emitted
    assert all(r.version <= 2 for r in rows)


def test_gap_fill_stream_cross_batch_gap(spark, tmp_path):
    """A gap spanning a batch boundary fills with the pre-gap average
    the moment the closing bucket arrives; the newest bucket emits no
    trailing gaps."""
    from flink_tutorial_spark.streaming.stateful import gap_fill_stream

    src = str(tmp_path / "src")
    # rows carry (n, v_fp) via (user, value): n=user, v_fp=value
    write_batches(
        src,
        [
            [_row(3600 * 0, "a", user=2, value=4_000_000)],  # avg 2.0
            # hours 1-2 missing; next closed bucket arrives in batch 2
            [_row(3600 * 3, "a", user=1, value=7_000_000)],  # avg 7.0
        ],
    )
    got = run_stream(
        spark,
        src,
        lambda s: gap_fill_stream(
            s.selectExpr(
                "key AS event_type", "ts AS h",
                "CAST(user AS LONG) AS n", "CAST(value AS LONG) AS v_fp",
            ),
            "event_type",
            "h",
        ),
        "append",
    ).collect()
    rows = sorted(got, key=lambda r: r.bucket)
    assert [(r.bucket.hour, r.filled, r.n_events, r.avg_value) for r in rows] == [
        (0, False, 2, 2.0),
        (1, True, 0, 2.0),
        (2, True, 0, 2.0),
        (3, False, 1, 7.0),
    ]


def test_clamped_ledger_cross_batch_and_segments(spark, tmp_path):
    """(S, M) state carries across batches (a clamp engaging on a
    boundary-spanning drawdown still floors at 0) and multiple users in
    ONE bucket keep independent balances (the segmented running-min
    band trick must not bleed across users)."""
    from flink_tutorial_spark.streaming.stateful import clamped_ledger

    src = str(tmp_path / "src")
    # users 0 and 64 land in the SAME bucket (64 % 64 == 0)
    write_batches(
        src,
        [
            [_row(1, user=0, value=500), _row(1, user=64, value=300)],
            # user 0: -800 would go negative -> clamps to 0;
            # user 64 must NOT be affected by user 0's drawdown
            [_row(2, user=0, value=-800), _row(2, user=64, value=-100)],
            [_row(3, user=0, value=400), _row(3, user=64, value=-50)],
        ],
    )
    got = run_stream(
        spark,
        src,
        lambda s: clamped_ledger(
            s.selectExpr(
                "user AS user_id", "ts",
                "CAST(value AS LONG) AS delta_c",
                "CAST(0 AS LONG) AS event_id",
            ),
            "user_id",
            ["ts", "event_id"],
            "delta_c",
        ),
        "append",
    ).collect()
    by = {(r.user_id, r.ts.second): r.balance for r in got}
    assert by[(0, 1)] == 5.0 and by[(0, 2)] == 0.0 and by[(0, 3)] == 4.0
    assert by[(64, 1)] == 3.0 and by[(64, 2)] == 2.0 and by[(64, 3)] == 1.5


def test_stateful_chunk_split_large_group(spark, tmp_path):
    """A group larger than arrow.maxRecordsPerBatch arrives as SEVERAL
    pandas chunks whose relative order is storage order, not time order:
    the op must concat and sort the whole micro-batch group before the
    carry logic (per-chunk sorting corrupts transitions). Planted: one
    bucket, 120 rows written in REVERSE time order, chunk size 10."""
    from flink_tutorial_spark.streaming.stateful import transition_pairs

    src = str(tmp_path / "src")
    # user 1, items 0..119 at seconds 0..119, file rows REVERSED so the
    # first arrow chunk holds the LATEST rows
    rows = [_row(sec, user=1, value=float(sec)) for sec in range(119, -1, -1)]
    write_batches(src, [rows])
    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "10")
    try:
        got = run_stream(
            spark,
            src,
            lambda s: transition_pairs(
                s.selectExpr(
                    "user", "ts", "CAST(value AS LONG) AS item",
                    "CAST(0 AS LONG) AS event_id",
                ),
                "user",
                ["ts", "event_id"],
                "item",
            ),
            "append",
        ).collect()
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)
    pairs = sorted((r.src, r.dst) for r in got)
    assert pairs == [(i, i + 1) for i in range(119)]


def test_transition_pairs_null_breaks_chain(spark, tmp_path):
    """NULL items follow the oracle's lag() three-valued semantics: no
    edge into or out of a null, and the null poisons the next real
    transition too (prev IS NULL)."""
    from flink_tutorial_spark.streaming.stateful import transition_pairs

    src = str(tmp_path / "src")
    write_batches(
        src,
        [
            # A -> B emits; B -> NULL and NULL -> C must not; C -> D emits
            [_row(1, user=1, value=10), _row(2, user=1, value=20)],
            [_row(3, user=1, value=None), _row(4, user=1, value=30)],
            [_row(5, user=1, value=40)],
        ],
    )
    got = run_stream(
        spark,
        src,
        lambda s: transition_pairs(
            s.selectExpr(
                "user", "ts", "CAST(value AS LONG) AS item",
                "CAST(0 AS LONG) AS event_id",
            ),
            "user",
            ["ts", "event_id"],
            "item",
        ),
        "append",
    ).collect()
    pairs = sorted((r.src, r.dst) for r in got)
    assert pairs == [(10, 20), (30, 40)]


def test_scd2_null_lag_semantics(spark, tmp_path):
    """NULL rows mirror the SQL oracle exactly: a null never closes the
    open interval itself, but the row AFTER it is always a change row
    (prev IS NULL) — even a same-item repeat re-opens; a null preceded
    by a null opens a NULL-item interval."""
    from flink_tutorial_spark.streaming.stateful import scd2_closed_intervals

    src = str(tmp_path / "src")
    write_batches(
        src,
        [
            # user 1: A@10, NULL@20, A@30, B@40
            #   -> A[10,30) v1 (null extends, then same-item change),
            #      A[30,40) v2, B open v3
            [_row(10, user=1, value=5), _row(20, user=1, value=None)],
            [_row(30, user=1, value=5), _row(40, user=1, value=7)],
            # user 2: A@10, NULL@20, NULL@30, B@40
            #   -> A[10,30) v1, NULL[30,40) v2, B open v3
            [_row(10, user=2, value=5), _row(20, user=2, value=None)],
            [_row(30, user=2, value=None), _row(40, user=2, value=7)],
        ],
    )
    got = run_stream(
        spark,
        src,
        lambda s: scd2_closed_intervals(
            s.selectExpr(
                "user AS user_id", "ts", "CAST(value AS LONG) AS item",
                "CAST(0 AS LONG) AS event_id",
            ),
            "user_id",
            ["ts", "event_id"],
            "item",
        ),
        "append",
    ).collect()
    u1 = sorted([r for r in got if r.user_id == 1], key=lambda r: r.version)
    assert [(r.item_id, r.version, r.effective_from.second, r.effective_to.second)
            for r in u1] == [(5, 1, 10, 30), (5, 2, 30, 40)]
    u2 = sorted([r for r in got if r.user_id == 2], key=lambda r: r.version)
    assert [(r.item_id, r.version, r.effective_from.second, r.effective_to.second)
            for r in u2] == [(5, 1, 10, 30), (None, 2, 30, 40)]


def test_clamped_ledger_null_delta(spark, tmp_path):
    """NULL deltas mirror SQL sum()/min() OVER: the row still emits
    (delta NULL, balance = running balance so far), the running sums
    skip it, and balances are NULL until the first non-null delta."""
    import math

    from flink_tutorial_spark.streaming.stateful import clamped_ledger

    src = str(tmp_path / "src")
    write_batches(
        src,
        [
            # deltas: NULL, +500, NULL, -1000, +300 (cents)
            [_row(1, user=1, value=None), _row(2, user=1, value=500)],
            [_row(3, user=1, value=None), _row(4, user=1, value=-1000)],
            [_row(5, user=1, value=300)],
        ],
    )
    got = run_stream(
        spark,
        src,
        lambda s: clamped_ledger(
            s.selectExpr(
                "user AS user_id", "ts",
                "CAST(value AS LONG) AS delta_c",
                "CAST(0 AS LONG) AS event_id",
            ),
            "user_id",
            ["ts", "event_id"],
            "delta_c",
        ),
        "append",
    ).collect()
    rows = sorted(got, key=lambda r: r.ts)
    def nan2none(x):
        return None if x is None or (isinstance(x, float) and math.isnan(x)) else x
    assert [(nan2none(r.delta), nan2none(r.balance)) for r in rows] == [
        (None, None),   # leading null: run undefined
        (5.0, 5.0),
        (None, 5.0),    # null row emits, balance carries
        (-10.0, 0.0),   # clamp engages
        (3.0, 3.0),
    ]


def _write_one_batch(tmpdir, rows, idx):
    os.makedirs(tmpdir, exist_ok=True)
    pdf = pd.DataFrame(rows, columns=["ts", "key", "user", "kind", "value"])
    path = os.path.join(tmpdir, f"b{idx:03d}.parquet")
    pq.write_table(
        pa.Table.from_pandas(pdf, schema=_ARROW_SCHEMA, preserve_index=False),
        path,
    )
    # deterministic micro-batch order (see write_batches)
    os.utime(path, (1_600_000_000 + idx, 1_600_000_000 + idx))


def _run_ckpt(spark, src, build, out_dir, ckpt):
    """Run a checkpointed file-sink query to completion (availableNow)
    — starting it again later on the same checkpointLocation is the
    crash-recovery path: state reloads from the state store."""
    stream = (
        spark.readStream.format("parquet")
        .schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .load(src)
    )
    q = (
        build(stream)
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def _restart_equals_single(spark, tmp_path, batch1, batch2, build, sort_key):
    """Drive build() over batch1, STOP, add batch2, RESTART on the same
    checkpoint; assert the restarted two-run output row-equals a fresh
    single run over both batches (i.e. the carried state round-tripped
    through the state store bit-exactly)."""
    src_a, src_b = str(tmp_path / "src_a"), str(tmp_path / "src_b")
    _write_one_batch(src_a, batch1, 0)
    out_a, ck_a = str(tmp_path / "out_a"), str(tmp_path / "ck_a")
    _run_ckpt(spark, src_a, build, out_a, ck_a)  # run 1: batch 1 only
    _write_one_batch(src_a, batch2, 1)
    _run_ckpt(spark, src_a, build, out_a, ck_a)  # run 2: restart, batch 2
    # reference: one uninterrupted run over both batches
    _write_one_batch(src_b, batch1, 0)
    _write_one_batch(src_b, batch2, 1)
    out_b, ck_b = str(tmp_path / "out_b"), str(tmp_path / "ck_b")
    _run_ckpt(spark, src_b, build, out_b, ck_b)
    got = sorted(map(tuple, spark.read.parquet(out_a).collect()), key=sort_key)
    want = sorted(map(tuple, spark.read.parquet(out_b).collect()), key=sort_key)
    assert got == want and len(want) > 0
    return want


def test_crash_recovery_transitions_state(spark, tmp_path):
    """transition_pairs' parallel-array bucket state (users, last_items)
    survives a query restart from its checkpoint: a transition whose
    endpoints straddle the stop/restart boundary still emits exactly
    once, including the null-poisoned chain."""
    from flink_tutorial_spark.streaming.stateful import transition_pairs

    build = lambda s: transition_pairs(
        s.selectExpr(
            "user", "ts", "CAST(value AS LONG) AS item",
            "CAST(0 AS LONG) AS event_id",
        ),
        "user",
        ["ts", "event_id"],
        "item",
    )
    want = _restart_equals_single(
        spark,
        tmp_path,
        [_row(1, user=1, value=10), _row(2, user=1, value=20),
         _row(3, user=2, value=7), _row(4, user=3, value=1),
         _row(5, user=3, value=None)],
        [_row(6, user=1, value=30), _row(7, user=2, value=8),
         _row(8, user=3, value=2)],
        build,
        sort_key=lambda t: t,
    )
    # cross-restart carries: 20->30, 7->8; user 3's null in batch 1
    # poisons 1->2 after the restart (lasts carried as sentinel)
    assert want == [(7, 8), (10, 20), (20, 30)]


def test_crash_recovery_scd2_state(spark, tmp_path):
    """scd2's 5-array bucket state (open interval + version + last-ROW
    item) survives restart: an interval closed after the restart keeps
    its pre-restart start and version, and a trailing null from before
    the stop still forces the post-restart change row."""
    from flink_tutorial_spark.streaming.stateful import scd2_closed_intervals

    build = lambda s: scd2_closed_intervals(
        s.selectExpr(
            "user AS user_id", "ts", "CAST(value AS LONG) AS item",
            "CAST(0 AS LONG) AS event_id",
        ),
        "user_id",
        ["ts", "event_id"],
        "item",
    )
    want = _restart_equals_single(
        spark,
        tmp_path,
        # u1 opens A@10 then sees a null@15 (lasts = NULL across restart)
        # u2 opens A@10 and extends with a repeat
        [_row(10, user=1, value=5), _row(15, user=1, value=None),
         _row(10, user=2, value=9), _row(12, user=2, value=9)],
        # u1: same-item A@20 is a CHANGE row (prev IS NULL) -> closes
        # A[10,20) v1; then B@30 closes A[20,30) v2
        # u2: B@20 closes A[10,20) v1
        [_row(20, user=1, value=5), _row(30, user=1, value=7),
         _row(20, user=2, value=8)],
        build,
        sort_key=lambda t: (t[0], t[4]),
    )
    by_user = {}
    for u, item, f, to, v in want:
        by_user.setdefault(u, []).append((item, f.second, to.second, v))
    assert by_user[1] == [(5, 10, 20, 1), (5, 20, 30, 2)]
    assert by_user[2] == [(9, 10, 20, 1)]


def test_crash_recovery_ledger_state(spark, tmp_path):
    """clamped_ledger's (S, M, seen) bucket state survives restart: a
    drawdown clamp engaging across the stop/restart boundary floors at
    the pre-restart minimum, and a user whose pre-restart rows were all
    NULL stays balance-NULL until their first real delta."""
    import math

    from flink_tutorial_spark.streaming.stateful import clamped_ledger

    build = lambda s: clamped_ledger(
        s.selectExpr(
            "user AS user_id", "ts",
            "CAST(value AS LONG) AS delta_c",
            "CAST(0 AS LONG) AS event_id",
        ),
        "user_id",
        ["ts", "event_id"],
        "delta_c",
    )
    want = _restart_equals_single(
        spark,
        tmp_path,
        [_row(1, user=1, value=500), _row(2, user=1, value=-800),
         _row(1, user=2, value=None)],
        [_row(3, user=1, value=400), _row(4, user=2, value=100)],
        build,
        sort_key=lambda t: (t[0], t[1]),
    )
    def nn(x):
        return None if x is None or (isinstance(x, float) and math.isnan(x)) else x
    bal = {(u, ts.second): nn(b) for u, ts, e, d, b in want}
    assert bal[(1, 1)] == 5.0 and bal[(1, 2)] == 0.0 and bal[(1, 3)] == 4.0
    assert bal[(2, 1)] is None and bal[(2, 4)] == 1.0


@pytest.mark.parametrize(
    "users",
    [(1, 2, 3, 4, 5, 6), (1, 65, 129, 2, 66, 130)],
    ids=["one_user_per_bucket", "shared_buckets"],
)
def test_null_semantics_randomized_vs_sql_oracle(spark, tmp_path, users):
    """Randomized dirty-data check: transitions / SCD2 / ledger over a
    seeded random event stream with ~25% null items/deltas, split into
    3 micro-batches, must equal the exact SQL three-valued-logic
    oracles computed by DuckDB over the same rows. The shared_buckets
    draw puts three users in each of two state buckets, so the carry
    codec must keep their entries apart."""
    import random

    import duckdb

    rng = random.Random(7)
    rows = []
    for i in range(240):
        user = users[rng.randint(1, 6) - 1]
        item = rng.choice([None, 1, 2, 3])
        rows.append((T0 + pd.Timedelta(seconds=i), f"u{user}", user,
                     "x", float(item) if item is not None else None))
    batches = [rows[0:80], rows[80:160], rows[160:240]]
    src = str(tmp_path / "src")
    write_batches(src, batches)

    con = duckdb.connect()
    pdf_all = pd.DataFrame(
        rows, columns=["ts", "key", "user", "kind", "value"]
    )
    con.register("ev", pdf_all)

    from flink_tutorial_spark.streaming.stateful import (
        clamped_ledger,
        scd2_closed_intervals,
        transition_pairs,
    )

    sel = (
        "user", "ts", "CAST(value AS LONG) AS item",
        "CAST(0 AS LONG) AS event_id",
    )

    # --- transitions ---------------------------------------------------
    got = sorted(
        (r.src, r.dst)
        for r in run_stream(
            spark, src,
            lambda s: transition_pairs(
                s.selectExpr(*sel), "user", ["ts", "event_id"], "item"
            ),
            "append",
        ).collect()
    )
    want = sorted(
        (int(a), int(b))
        for a, b in con.execute("""
            WITH seq AS (
              SELECT CAST(value AS INT) AS item,
                     lag(CAST(value AS INT)) OVER
                       (PARTITION BY user ORDER BY ts) AS prev
              FROM ev)
            SELECT prev, item FROM seq
            WHERE prev IS NOT NULL AND prev <> item
        """).fetchall()
    )
    assert got == want

    # --- SCD2 ----------------------------------------------------------
    got = sorted(
        (
            (r.user_id, r.item_id, r.effective_from, r.effective_to, r.version)
            for r in run_stream(
                spark, src,
                lambda s: scd2_closed_intervals(
                    s.selectExpr(*[c.replace("user", "user AS user_id", 1)
                                   if c == "user" else c for c in sel]),
                    "user_id", ["ts", "event_id"], "item",
                ),
                "append",
            ).collect()
        ),
        key=lambda t: (t[0], t[4]),
    )
    want = sorted(
        (
            (int(u), None if i is None else int(i), f, t, int(v))
            for u, i, f, t, v in con.execute("""
            WITH o AS (
              SELECT user, CAST(value AS INT) AS item, ts,
                     lag(CAST(value AS INT)) OVER
                       (PARTITION BY user ORDER BY ts) AS prev
              FROM ev),
            ch AS (
              SELECT user, item, ts FROM o
              WHERE prev IS NULL OR prev <> item),
            iv AS (
              SELECT user, item, ts AS f,
                     lead(ts) OVER (PARTITION BY user ORDER BY ts) AS t,
                     row_number() OVER (PARTITION BY user ORDER BY ts) AS v
              FROM ch)
            SELECT user, item, f, t, v FROM iv WHERE t IS NOT NULL
        """).fetchall()
        ),
        key=lambda t: (t[0], t[4]),
    )
    got_norm = [
        (u, i, f.to_pydatetime() if hasattr(f, "to_pydatetime") else f,
         t.to_pydatetime() if hasattr(t, "to_pydatetime") else t, v)
        for u, i, f, t, v in got
    ]
    assert got_norm == want

    # --- ledger (value doubles as the delta in cents) -------------------
    got = {
        (r.user_id, r.ts): (r.delta, r.balance)
        for r in run_stream(
            spark, src,
            lambda s: clamped_ledger(
                s.selectExpr(
                    "user AS user_id", "ts",
                    "CAST(value * 100 AS LONG) AS delta_c",
                    "CAST(0 AS LONG) AS event_id",
                ),
                "user_id", ["ts", "event_id"], "delta_c",
            ),
            "append",
        ).collect()
    }
    oracle = con.execute("""
        WITH led AS (
          SELECT user, ts, CAST(value * 100 AS BIGINT) AS d FROM ev),
        s AS (
          SELECT user, ts, d,
                 sum(d) OVER (PARTITION BY user ORDER BY ts
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
          FROM led),
        m AS (
          SELECT *, min(run) OVER (PARTITION BY user ORDER BY ts
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mn
          FROM s)
        SELECT user, ts, round(d / 100.0, 2),
               round((run - least(mn, 0)) / 100.0, 2)
        FROM m
    """).fetchall()
    import math

    def nn(x):
        return None if x is None or (isinstance(x, float) and math.isnan(x)) else x

    assert len(got) == len(oracle)
    for u, ts, d, b in oracle:
        gd, gb = got[(int(u), ts.to_pydatetime() if hasattr(ts, "to_pydatetime") else ts)]
        assert nn(gd) == (None if d is None else float(d)), (u, ts, d, gd)
        assert nn(gb) == (None if b is None else float(b)), (u, ts, b, gb)


def test_crash_recovery_chained_blacklist_topology(spark, tmp_path):
    """Crash-recovery for the CHAINED multi-stateful topology (VERDICT
    r9 #4), the reference's AdClickAnalysis shape as engine operators —
    applyInPandasWithState (blacklist counters) -> re-watermark ->
    tumbling window agg — stopped after batch 1 and restarted on the
    same checkpoint must equal an uninterrupted run for BOTH channels.
    The cross-restart crux: u1's (ad 10, day) count of 1 from batch 1
    must survive TWO state stores deep — the crossing click in batch 2
    emits a warning only if the fmgws counter state reloaded, and the
    hour-0 window emits merged counts only if the window-agg state
    reloaded."""
    from flink_tutorial_spark.streaming.stateful import blacklist_filter

    def clicks(s):
        return (
            s.selectExpr(
                "user AS user_id",
                "ts",
                "CAST(value AS LONG) AS item_id",
                "CAST(0 AS LONG) AS event_id",
            )
            .withColumn("day", F.date_trunc("day", F.col("ts")))
            .withWatermark("ts", "0 seconds")
        )

    def build_main(s):
        f = blacklist_filter(clicks(s), "user_id", "item_id", "ts", "day", 1)
        return (
            f.where(F.col("channel") == "main")
            .withWatermark("ts", "0 seconds")
            .groupBy(F.window("ts", "1 hour").alias("w"), "item_id")
            .agg(F.count("*").alias("cnt"))
            .select(F.col("w.end").alias("w_end"), "item_id", "cnt")
        )

    def build_warn(s):
        f = blacklist_filter(clicks(s), "user_id", "item_id", "ts", "day", 1)
        return f.where(F.col("channel") == "warning").select(
            "ts", "user_id", "item_id"
        )

    batch1 = [
        _row(100, user=1, value=10),
        _row(200, user=2, value=10),
        _row(300, user=1, value=20),
    ]
    batch2 = [
        _row(3700, user=1, value=10),  # crossing click: needs carried count
        _row(3800, user=2, value=20),
        _row(3900, user=1, value=10),  # suppressed
        _row(7300, user=3, value=30),  # pushes watermark past hour-1 window
    ]

    chk = "spark.sql.streaming.statefulOperator.checkCorrectness.enabled"
    prev = spark.conf.get(chk)
    spark.conf.set(chk, "false")
    try:
        main = _restart_equals_single(
            spark,
            tmp_path / "main",
            batch1,
            batch2,
            build_main,
            sort_key=lambda t: (t[0], t[1]),
        )
        # hour-0 window: ad10 x2 (u1+u2), ad20 x1; hour-1: ad20 x1
        # (u1's hour-1 ad10 clicks: one warning, one suppressed);
        # hour-2 window still open in both runs -> absent
        assert [(t[0].hour, t[1], t[2]) for t in main] == [
            (1, 10, 2),
            (1, 20, 1),
            (2, 20, 1),
        ]
    finally:
        spark.conf.set(chk, prev)

    warn = _restart_equals_single(
        spark,
        tmp_path / "warn",
        batch1,
        batch2,
        build_warn,
        sort_key=lambda t: (t[0], t[1]),
    )
    assert [(t[1], t[2], t[0].second) for t in warn] == [(1, 10, 40)]


def test_streaming_drift_psi_matches_batch(spark, sf_dir):
    """The live drift monitor must converge to exactly the batch
    report: the cell table is order-independent integer state, so the
    stream's complete-mode aggregation and the batch groupBy reach the
    same cells, and the shared join-free PSI report does the rest."""
    from flink_tutorial_spark import plans

    live = sorted(
        map(tuple, plans.REGISTRY["streaming_drift_psi"].fn(spark, sf_dir).collect())
    )
    batch = sorted(
        map(tuple, plans.REGISTRY["value_drift_psi"].fn(spark, sf_dir).collect())
    )
    assert live == batch and len(live) > 0


def test_streaming_ema_matches_batch(spark, sf_dir):
    """The carried-chunk fold must converge to the batch twin's
    unrolled sum for every key: chunk recursion chained through the
    carried ema == global unrolled recursion, to well inside the
    rounded 4 decimals."""
    from flink_tutorial_spark import plans

    live = sorted(
        map(tuple, plans.REGISTRY["streaming_ema"].fn(spark, sf_dir).collect())
    )
    batch = sorted(
        map(tuple, plans.REGISTRY["timeseries_ema"].fn(spark, sf_dir).collect())
    )
    assert len(live) == len(batch) > 0
    for (lt, ln, le), (bt, bn, be) in zip(live, batch):
        assert (lt, ln) == (bt, bn)
        assert abs(le - be) < 1e-3, (lt, le, be)


def test_crash_recovery_ema_state(spark, tmp_path):
    """ema_fold's (ema, n) float state survives a restart from its
    checkpoint: the post-restart chunk folds onto the carried value
    exactly as an uninterrupted run would. Dyadic inputs make every
    intermediate exactly representable, so equality is bitwise."""
    from flink_tutorial_spark.streaming.stateful import ema_fold

    build = lambda s: ema_fold(
        s.selectExpr(
            "key AS event_type", "ts", "CAST(user AS LONG) AS event_id",
            "value",
        ),
        "event_type",
        ["ts", "event_id"],
        "value",
    )
    want = _restart_equals_single(
        spark,
        tmp_path,
        [_row(1, key="a", value=10.0), _row(2, key="a", value=20.0),
         _row(3, key="b", value=8.0)],
        [_row(4, key="a", value=30.0), _row(5, key="b", value=4.0)],
        build,
        sort_key=lambda t: (t[0], t[1]),
    )
    # per-batch running summaries: a folds 10,20 -> 15 then 30 -> 22.5;
    # b folds 8 then 4 -> 6
    assert want == [("a", 2, 15.0), ("a", 3, 22.5),
                    ("b", 1, 8.0), ("b", 2, 6.0)]


def _run_ckpt_complete(spark, src, build, out_dir, ckpt):
    """Run a checkpointed COMPLETE-mode query to completion
    (availableNow), exporting each complete snapshot to parquet via
    foreachBatch overwrite — the production pattern for publishing a
    converged sketch/cell table. Restarting on the same
    checkpointLocation is the crash-recovery path: the streaming-
    aggregation state (HashAggregate -> StateStoreSave) reloads."""
    stream = (
        spark.readStream.format("parquet")
        .schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .load(src)
    )

    def export(df, _bid):
        df.write.mode("overwrite").parquet(out_dir)

    q = (
        build(stream)
        .writeStream.outputMode("complete")
        .foreachBatch(export)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def test_crash_recovery_complete_mode_sketch(spark, tmp_path):
    """Crash-recovery for the complete-mode live sketch family
    (VERDICT r10 #3): streaming_drift_psi's cells and
    streaming_running_sum's totals are COMPLETE-mode streaming
    aggregation — the shared state-store path is the
    streaming-aggregation state (HashAggregate -> StateStoreSave), not
    the applyInPandasWithState store the append-mode restart tests
    cover. One shape suffices: the CM-style (row_i, cell) counter
    grid. Stop after batch 1, restart on the same checkpoint with
    batch 2, and the final exported snapshot must be bit-equal to an
    uninterrupted run — batch 1's cell counts only appear in the
    restarted run's final snapshot if the aggregation state reloaded
    (batch 2 alone cannot reproduce them)."""
    from flink_tutorial_spark.operators.dedup import md5_long

    def build(s):
        ev = s.select(F.col("user").cast("int").alias("item"))
        rows_df = s.sparkSession.range(4).select(
            F.col("id").cast("int").alias("row_i")
        )
        cell = (
            md5_long(
                F.concat(
                    F.col("item").cast("string"),
                    F.lit(":cm:"),
                    F.col("row_i").cast("string"),
                )
            )
            % 16
        )
        return (
            ev.crossJoin(F.broadcast(rows_df))
            .groupBy("row_i", cell.alias("cell"))
            .agg(F.count("*").cast("long").alias("c"))
        )

    batch1 = [_row(1, user=1), _row(2, user=2), _row(3, user=3), _row(4, user=1)]
    batch2 = [_row(5, user=1), _row(6, user=4), _row(7, user=5)]

    src_a, src_b = str(tmp_path / "src_a"), str(tmp_path / "src_b")
    out_a, ck_a = str(tmp_path / "out_a"), str(tmp_path / "ck_a")
    _write_one_batch(src_a, batch1, 0)
    _run_ckpt_complete(spark, src_a, build, out_a, ck_a)
    # the interrupted run's first snapshot really only saw batch 1
    mid = {
        (r.row_i, r.cell): r.c for r in spark.read.parquet(out_a).collect()
    }
    assert sum(v for v in mid.values()) == 4 * len(batch1)
    _write_one_batch(src_a, batch2, 1)
    _run_ckpt_complete(spark, src_a, build, out_a, ck_a)  # restart

    _write_one_batch(src_b, batch1, 0)
    _write_one_batch(src_b, batch2, 1)
    out_b, ck_b = str(tmp_path / "out_b"), str(tmp_path / "ck_b")
    _run_ckpt_complete(spark, src_b, build, out_b, ck_b)

    got = sorted(map(tuple, spark.read.parquet(out_a).collect()))
    want = sorted(map(tuple, spark.read.parquet(out_b).collect()))
    assert got == want and len(want) > 0
    assert sum(t[2] for t in want) == 4 * (len(batch1) + len(batch2))


def _quantile_cells(s):
    """The live quantile stage over the test event schema."""
    from flink_tutorial_spark.plans.queries_streaming import quantile_day_cells

    return quantile_day_cells(s.withColumnRenamed("kind", "event_type"))


def _cells(spark, path):
    return sorted(
        (r.day, r.event_type, r.e, r.m, r.c)
        for r in spark.read.parquet(path).collect()
    )


def test_quantile_day_cells_state_is_bounded(spark, tmp_path):
    """The live quantile cells' window state must be bounded by CELLS,
    not events: six daily files of 2,000 events each, one file per
    micro-batch. A day's cells stay in state until the next day's batch
    moves the watermark past its end, so the stateStoreSave
    numRowsTotal of every batch is at most the cells of two consecutive
    days, far below the 12,000 events streamed."""
    import numpy as np

    from flink_tutorial_spark.plans.queries_patterns import qsketch_buckets

    rng = np.random.default_rng(7)
    n_days, per_day = 6, 2_000
    src = str(tmp_path / "src")
    for d in range(n_days):
        secs = np.sort(rng.integers(0, 86_400, per_day)) + d * 86_400
        values = np.round(10 ** rng.uniform(-2, 3, per_day), 2)
        kinds = rng.choice(["x", "y", "z"], per_day)
        _write_one_batch(
            src,
            [
                _row(int(t), kind=str(k), value=float(v))
                for t, k, v in zip(secs, kinds, values)
            ],
            d,
        )
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    q = _run_ckpt(spark, src, _quantile_cells, out, ck)
    state_rows = [
        so.numRowsTotal
        for p in q.recentProgress
        for so in p.stateOperators
        if so.operatorName == "stateStoreSave"
    ]
    assert len(state_rows) >= n_days, q.recentProgress

    batch = spark.read.schema(EVENT_SCHEMA).parquet(src)
    per_day_cells = [
        r["count"]
        for r in qsketch_buckets(
            batch.withColumn("day", F.date_trunc("day", "ts")), "day", "kind"
        )
        .groupBy("day")
        .count()
        .orderBy("day")
        .collect()
    ]
    assert len(per_day_cells) == n_days
    bound = max(a + b for a, b in zip(per_day_cells, per_day_cells[1:]))
    assert 0 < max(state_rows) <= bound, (state_rows, per_day_cells)
    # the bound distinguishes cells from events
    assert bound < n_days * per_day
    # and every day but the last (still open) emitted its cells
    assert len(_cells(spark, out)) == sum(per_day_cells[:-1])


def test_crash_recovery_quantile_day_cells(spark, tmp_path):
    """The live quantile cells' window state survives a restart. The
    cell merge is ADDITIVE, so any state loss or double count shows up
    as a wrong count, not just a wrong set: batch 1 counts two 1.0s and
    one 2.56 into day 0 and emits nothing (day open — asserted); after
    the restart, batch 2 adds a third 1.0 and a day-1 event closes day
    0, so the emitted counts (3 for the 1.0 cell, 1 for the 2.56 cell)
    are only right if the carried counts round-tripped exactly once.
    Output must row-equal an uninterrupted run."""
    # value=1.0 -> vc=100 -> e=6, m=18; value=2.56 -> vc=256 -> e=8, m=0
    batch1 = [
        _row(1, value=1.0),
        _row(2, value=1.0),
        _row(3, value=2.56),
    ]
    batch2 = [_row(6, value=1.0), _row(86500, value=1.0)]

    src_a = str(tmp_path / "src_a")
    out_a, ck_a = str(tmp_path / "out_a"), str(tmp_path / "ck_a")
    _write_one_batch(src_a, batch1, 0)
    _run_ckpt(spark, src_a, _quantile_cells, out_a, ck_a)
    assert (
        spark.read.parquet(out_a).count() == 0
    ), "day-0 cells emitted before the day closed"
    _write_one_batch(src_a, batch2, 1)
    _run_ckpt(spark, src_a, _quantile_cells, out_a, ck_a)  # restart

    src_b = str(tmp_path / "src_b")
    _write_one_batch(src_b, batch1, 0)
    _write_one_batch(src_b, batch2, 1)
    out_b, ck_b = str(tmp_path / "out_b"), str(tmp_path / "ck_b")
    _run_ckpt(spark, src_b, _quantile_cells, out_b, ck_b)

    got, want = _cells(spark, out_a), _cells(spark, out_b)
    assert got == want
    day0 = T0.to_pydatetime()
    assert got == [(day0, "x", 6, 18, 3), (day0, "x", 8, 0, 1)]


def _ms_row(ms, user, kind="x", value=1.0):
    """An event row at T0 + `ms` milliseconds."""
    return (T0 + pd.Timedelta(milliseconds=ms), "a", user, kind, value)


_DAY_MS = 86_400_000


def test_quantile_day_cells_emit_day_at_stalled_watermark(spark, tmp_path):
    """Day 0 must emit when the watermark stops exactly at its end:
    batch 0 ends day 0 at 23:59:59.999, batch 1 is one row at exactly
    00:00:00.000 of day 1, then no more data arrives. Batch 1 runs at
    watermark day_end - 1 ms (day 0 still open); the trailing no-data
    batch runs at watermark day_end, where `window.end <= watermark`
    closes day 0. Day 1 stays open."""
    # value=1.0 -> (e=6, m=18); value=2.56 -> (e=8, m=0)
    src = str(tmp_path / "src")
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    _write_one_batch(
        src,
        [
            _ms_row(1_000, 5),
            _ms_row(2_000, 9, value=2.56),
            _ms_row(_DAY_MS - 1, 3),
        ],
        0,
    )
    _write_one_batch(src, [_ms_row(_DAY_MS, 4)], 1)
    _run_ckpt(spark, src, _quantile_cells, out, ck)

    day0 = T0.to_pydatetime()
    assert _cells(spark, out) == [(day0, "x", 6, 18, 2), (day0, "x", 8, 0, 1)]


def test_match_or_timeout_fires_at_stalled_watermark(spark, tmp_path):
    """Entities 1 and 65 share a bucket. Entity 1's start has deadline
    T0 + 900 s; batch 0 also drives the watermark to exactly that
    deadline (entity 2, another bucket). Batch 1 invokes the bucket for
    entity 65 at watermark == deadline, so entity 1 stays pending
    (deadline < watermark is false) and the bucket timer is re-armed.
    Batch 1 moves the watermark by exactly 1 ms and no more data
    arrives: the timeout row must emit in the trailing no-data batch."""
    from flink_tutorial_spark.streaming.buckets import N_BUCKETS
    from flink_tutorial_spark.streaming.cep import match_or_timeout

    assert 1 % N_BUCKETS == 65 % N_BUCKETS != 2 % N_BUCKETS
    src = str(tmp_path / "src")
    deadline_ms = 900_000
    write_batches(
        src,
        [
            [_ms_row(0, 1, "create", 5.0), _ms_row(deadline_ms, 2, "other")],
            [_ms_row(deadline_ms + 1, 65, "other")],
        ],
    )

    def q(stream):
        wm = stream.withWatermark("ts", "0 seconds")
        return match_or_timeout(wm, "user", "ts", "kind", "create", "pay", 900)

    base_us = int(T0.timestamp()) * 1_000_000
    got = [
        (r.key, r.start_ts, r.end_ts, r.status, r.value)
        for r in run_stream(spark, src, q, "append").collect()
    ]
    assert got == [(1, base_us, base_us + deadline_ms * 1_000, "timeout", 5.0)]


def _string_key_plans():
    from flink_tutorial_spark.streaming.cep import (
        detect_consecutive,
        detect_sequence,
        match_or_timeout,
    )
    from flink_tutorial_spark.streaming.stateful import (
        blacklist_filter,
        clamped_ledger,
        scd2_closed_intervals,
        transition_pairs,
    )

    flag = F.col("value") > 0
    return {
        "blacklist_filter": lambda s: blacklist_filter(
            s, "key", "user", "ts", "day", 1
        ),
        "transition_pairs": lambda s: transition_pairs(s, "key", ["ts"], "user"),
        "scd2_closed_intervals": lambda s: scd2_closed_intervals(
            s, "key", ["ts"], "user"
        ),
        "clamped_ledger": lambda s: clamped_ledger(s, "key", ["ts", "user"], "user"),
        "detect_consecutive": lambda s: detect_consecutive(
            s.withColumn("flag", flag), "key", "ts", "flag", 2, 60
        ),
        "detect_sequence": lambda s: detect_sequence(
            s.withColumn("s0", flag).withColumn("s1", flag), "key", "ts", ["s0", "s1"], 60
        ),
        "match_or_timeout": lambda s: match_or_timeout(
            s, "key", "ts", "kind", "create", "pay", 60
        ),
    }


@pytest.mark.parametrize(
    "op",
    [
        "blacklist_filter",
        "transition_pairs",
        "scd2_closed_intervals",
        "clamped_ledger",
        "detect_consecutive",
        "detect_sequence",
        "match_or_timeout",
    ],
)
def test_bucketed_state_rejects_string_key_at_plan_build(spark, tmp_path, op):
    """A string entity key would bucket as NULL at run time; the
    operator must refuse it with a TypeError while the plan is built,
    before any query starts."""
    src = str(tmp_path / "src")
    write_batches(src, [[_row(0)]])
    stream = (
        spark.readStream.format("parquet")
        .schema(EVENT_SCHEMA)
        .load(src)
        .withColumn("day", F.date_trunc("day", "ts"))
        .withWatermark("ts", "0 seconds")
    )
    with pytest.raises(TypeError, match=rf"^{op}: key column 'key' has type string"):
        _string_key_plans()[op](stream)


def test_rocksdb_provider_stateful_equivalence(spark, tmp_path):
    # SURVEY §2.9 state backends: the RocksDB provider (the >heap
    # production backend, Flink's RocksDBStateBackend analog) must
    # produce the identical result as the default HDFS-backed provider
    # for the same stateful op — proven by running the count window
    # A/B under both providers
    from flink_tutorial_spark.streaming.stateful import count_window_sum

    src = str(tmp_path / "src")
    write_batches(
        src,
        [
            [_row(1, "a", value=1), _row(2, "a", value=2), _row(3, "b", value=10)],
            [_row(4, "a", value=3), _row(5, "b", value=20), _row(6, "b", value=30)],
            [_row(7, "a", value=4)],
        ],
    )

    def q(stream):
        return count_window_sum(stream, "key", "ts", "value", 3)

    results = {}
    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    try:
        for label, provider in [
            ("hdfs", None),
            (
                "rocksdb",
                "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
            ),
        ]:
            if provider is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, provider)
            results[label] = sorted(
                (r.key, r.window_seq, r.cnt, r.sum_value)
                for r in run_stream(spark, src, q, "append").collect()
            )
    finally:
        spark.conf.unset(key) if prev is None else spark.conf.set(key, prev)
    assert results["rocksdb"] == results["hdfs"]
    assert results["rocksdb"], "stateful op should emit complete windows"


def test_late_side_channel_reads_batch_once(spark, tmp_path):
    """VERDICT r14 #4: the splitter runs three actions over the raw
    micro-batch (late write, main write, max-ts agg) — it must persist
    the batch so the upstream computes ONCE per epoch, not 3x (at 100 TB
    an unpersisted foreachBatch over the raw stream re-reads the source
    per action). Pinned with an accumulator in a pass-through
    mapInPandas: cache hits skip the Python stage, so the count equals
    rows-computed, not rows-referenced."""
    from flink_tutorial_spark.sinks.foreach import LateSideChannel

    acc = spark.sparkContext.accumulator(0)

    def counting(batches):
        for pdf in batches:
            acc.add(len(pdf))
            yield pdf

    cols = ["ts", "key", "user", "kind", "value"]

    def mk(rows):
        return spark.createDataFrame(
            pd.DataFrame(rows, columns=cols), schema=EVENT_SCHEMA
        ).mapInPandas(counting, EVENT_SCHEMA)

    rows = [_row(0), _row(100), _row(50), _row(200)]
    batch = mk(rows)
    ch = LateSideChannel(spark, str(tmp_path / "out"), "ts", delay_seconds=10)
    ch(batch, 0)
    n0 = acc.value
    assert n0 == len(rows), f"epoch 0 computed rows {n0}x, expected 1x"
    # second epoch, watermark now set: late + main + agg all read cache
    batch2 = mk([_row(95), _row(10), _row(300)])
    ch(batch2, 1)
    assert acc.value - n0 == 3, (
        f"epoch 1 computed {acc.value - n0} rows for a 3-row batch — "
        "the batch is being re-executed per action"
    )
    mains = sorted((r.ts - T0).total_seconds() for r in ch.main().collect())
    lates = sorted((r.ts - T0).total_seconds() for r in ch.late().collect())
    # epoch-0 watermark = 200 - 10 = 190: 95 and 10 are both late
    assert mains == [0.0, 50.0, 100.0, 200.0, 300.0]
    assert lates == [10.0, 95.0]
