"""Synchronous streaming execution helpers: run a Structured Streaming
query over a bounded source to completion and hand back the result as a
normal DataFrame (the driver/oracle contract needs batch results).

`stream_table` mirrors session.load_table's nano-timestamp handling for
the readStream path.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession

from flink_tutorial_spark import plan_capture
from flink_tutorial_spark.session import normalize_event_time, parquet_schema


def stream_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """readStream over a testdata parquet table (file-arrival source)."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    # the file source wants a directory: watch sf_dir, filter to this table
    df = (
        spark.readStream.format("parquet")
        .schema(parquet_schema(spark, path))
        .option("pathGlobFilter", f"{name}.parquet")
        .load(sf_dir)
    )
    # NTZ -> TimestampType matters doubly here: Spark 4.1 refuses
    # withWatermark on TIMESTAMP_NTZ event-time columns
    return normalize_event_time(df, name)


def stream_shuffle_partitions() -> str:
    """The spark.sql.shuffle.partitions a stateful stream is started
    with: SPARK_GRAFT_STREAM_SHUFFLE, default 8 (see run_to_memory)."""
    return str(int(os.environ.get("SPARK_GRAFT_STREAM_SHUFFLE", "8")))


def run_to_memory(out: DataFrame, mode: str = "append") -> DataFrame:
    """Execute a streaming DataFrame to completion via a memory sink;
    returns the materialized result. processAllAvailable() drains every
    micro-batch including the trailing no-data batch that fires event-
    time timers after the final watermark update.

    Stateful streaming operators open one state store per shuffle
    partition per micro-batch, so the partition count should be sized
    to the STATE VOLUME in flight, not the batch-shuffle default (32
    stores on a bounded local stream measured ~40% pure overhead). The
    count is pinned into the query's checkpoint at start, so it is set
    for the duration of this query and restored after — a production
    deployment sizes it once per query via SPARK_GRAFT_STREAM_SHUFFLE
    (state stores scale out with executors; 100s at cluster scale).

    NOT thread-safe: the pin temporarily mutates the session-global
    spark.sql.shuffle.partitions, so a query started concurrently in the
    same session during that window inherits the pinned value. Fine for
    the single-threaded driver/test harness this serves; concurrent
    callers should use an isolated session (spark.newSession())."""
    return run_to_memory_many([(out, mode)])[0]


def run_to_memory_many(outs: list[tuple[DataFrame, str]]) -> list[DataFrame]:
    """Execute several INDEPENDENT streaming DataFrames concurrently to
    completion via memory sinks; returns their materialized results in
    order. Start all, then drain all: wall time is max(pipelines), not
    the sum — the local stand-in for the production one-pass
    foreachBatch fan-out (sinks/foreach.py), exactly the pattern
    streaming_adclick_blacklist inlines. Sequential run_to_memory
    calls on a bounded source pay each pipeline's full micro-batch
    fixed cost back-to-back; measured on the two-pipeline sketch
    twins at sf0.1: HLL 3.75 -> 2.84 s, KMV 3.69 -> 3.52 s (the
    pipelines share the box's cores and the per-batch commit path, so
    the overlap is far from 2x — the win is real but bounded by the
    slower pipeline's own micro-batch sequencing).

    Same state-partition pinning contract as run_to_memory; the pin
    spans all the starts (single-threaded caller), restored after."""
    spark = outs[0][0].sparkSession
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    names = [f"mem_{uuid.uuid4().hex[:12]}" for _ in outs]
    spark.conf.set("spark.sql.shuffle.partitions", stream_shuffle_partitions())
    started = []
    try:
        try:
            for (out, mode), name in zip(outs, names):
                started.append(
                    out.writeStream.outputMode(mode)
                    .format("memory")
                    .queryName(name)
                    .start()
                )
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
        for q in started:
            q.processAllAvailable()
            # executed micro-batch plan, pre-truncation (the memory
            # table the caller gets scans an in-memory sink — the real
            # plan lives here; see plan_capture)
            plan_capture.capture_stream(q, f"stream:{q.name}")
    finally:
        # a failed Nth start (or a drain error) must not leak the
        # already-running queries — and a stop() error on one query
        # must not skip stopping the rest or mask the original failure
        for q in started:
            try:
                q.stop()
            except Exception:
                pass
    return [spark.table(name) for name in names]


def fanout_sink_root(checkpoint: str) -> str:
    """The sink root PAIRED with a checkpoint location — a directory
    under the checkpoint dir itself, so checkpoint lineage and sink
    state share ONE lifetime by construction (VERDICT r14 #3): a fresh
    checkpoint necessarily starts with fresh, empty sink tables, which
    makes the epoch-ledger lineage guard
    (sinks/foreach.py EpochLedgerMergeAggSink._apply_buckets: "a new
    checkpoint restarts epoch ids at 0, so it must not write into a
    stale sink table") unconstructible in idiomatic use — and deleting
    a checkpoint to start over deletes its sinks with it. Spark's
    checkpoint machinery touches only its own subdirs
    (offsets/commits/state/sources/metadata), so a sibling ``sinks/``
    directory is inert to it. Pass names for per-sink tables:
    ``EpochLedgerMergeAggSink(spark, os.path.join(
    fanout_sink_root(ckpt), "hourly_counts"), ...)``."""
    root = os.path.join(checkpoint, "sinks")
    os.makedirs(root, exist_ok=True)
    return root


def run_fanout(
    out: DataFrame,
    sinks: list,
    checkpoint: str | None = None,
    available_now: bool = False,
) -> None:
    """Execute ONE streaming query whose foreachBatch fans every
    micro-batch to several sinks — the production one-pass fan-out
    run_to_memory_many stands in for locally (the reference's analog is
    the side-output fan-out, SideOutputDemo.java:22-50). Each `sink` is
    a foreachBatch callable `(batch_df, epoch_id) -> None`; the batch
    is persisted ONCE before the first sink and unpersisted after the
    last, so every sink reads the cached micro-batch instead of
    re-scanning the source. At 100 TB this is the difference between N
    source scans and one: the N-pipeline shape re-reads the topic per
    pipeline, this shape reads it once per batch (listener-verified in
    SCALING.md "one-pass fan-out").

    Sinks run sequentially on the driver inside the batch; a sink
    raising fails the query (at-least-once per sink: on recovery the
    whole epoch re-delivers to ALL sinks, so each sink must be
    replay-idempotent — keyed overwrite, idempotent sketch MERGE, or
    dedup-on-read). Sequential sinks trade a little local wall for the
    halved ingest (SCALING.md r13 addendum measures both); when sink
    compute itself is the bottleneck, submit each sink's job from the
    fan function on a separate scheduler pool over the persisted batch
    — the ingest stays 1x either way. Same state-partition pinning
    contract as run_to_memory."""
    spark = out.sparkSession
    prev = spark.conf.get("spark.sql.shuffle.partitions")

    def fan(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df.persist()
        try:
            for sink in sinks:
                sink(batch_df, epoch_id)
        finally:
            batch_df.unpersist()

    spark.conf.set("spark.sql.shuffle.partitions", stream_shuffle_partitions())
    try:
        w = out.writeStream.foreachBatch(fan)
        if checkpoint:
            # durable offsets: restarting on the same checkpoint resumes
            # after the last COMMITTED epoch (an uncommitted epoch
            # re-delivers to every sink — the replay the sinks must
            # tolerate); the bounded catalog queries run checkpoint-less
            # on a temp dir
            w = w.option("checkpointLocation", checkpoint)
        if available_now:
            w = w.trigger(availableNow=True)
        q = w.start()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    try:
        if available_now:
            q.awaitTermination()
        else:
            q.processAllAvailable()
        plan_capture.capture_stream(q, "stream:fanout")
    finally:
        q.stop()


def run_to_parquet(out: DataFrame, path: str) -> None:
    """Execute a streaming DataFrame to completion into a parquet
    directory (append mode) — the durable-handoff half of a two-job
    topology (bucket job -> files-as-topic -> consumer job). Same
    state-partition pinning contract and thread-safety caveat as
    run_to_memory; the pin stays for the WHOLE run because the file
    sink commits state per micro-batch."""
    spark = out.sparkSession
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", stream_shuffle_partitions())
    try:
        q = (
            out.writeStream.outputMode("append")
            .format("parquet")
            .option("path", path)
            .option("checkpointLocation", f"{path}_ckpt")
            .start()
        )
        try:
            q.processAllAvailable()
            plan_capture.capture_stream(q, "stream:parquet")
        finally:
            # mirror run_to_memory: a raise must not leak a live query
            # still writing to the handoff while the conf is restored
            q.stop()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
