"""Synchronous streaming execution helpers: run a Structured Streaming
query over a bounded source to completion and hand back the result as a
normal DataFrame (the driver/oracle contract needs batch results).

`stream_table` mirrors session.load_table's nano-timestamp handling for
the readStream path.
"""

from __future__ import annotations

import fnmatch
import glob
import os
import uuid
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import DataStreamWriter

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


#: Source bytes at or below which a bounded stream runs on ONE state
#: partition; above it, on STREAM_PARTITIONS (see stream_shuffle_partitions).
ONE_PARTITION_MAX_BYTES = 1 << 20

#: the state-partition count of a stream over large or unsized input
STREAM_PARTITIONS = 8

#: the checkpoint file manager run_stream pins for a stream's start
CHECKPOINT_FILE_MANAGER = "spark.sql.streaming.checkpointFileManagerClass"
FILE_SYSTEM_CHECKPOINT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)

#: file formats whose streaming source is a directory of files os.stat can size
_FILE_FORMATS = {"parquet", "csv", "json", "orc", "text"}


def _local_path(path: str) -> str | None:
    """`path` as a local filesystem path; None for a remote URI."""
    parsed = urlparse(path)
    if parsed.scheme == "file":
        return parsed.path
    return path if parsed.scheme == "" else None


def _listed_files(path: str, glob_filter: str | None) -> set[str] | None:
    """The files a file source reads under `path` (a file, a directory
    or a glob), as Spark's file index lists them: hidden `_`/`.` names
    skipped, `pathGlobFilter` matched against each file name. None when
    `path` is not local."""
    local = _local_path(path)
    if local is None:
        return None
    out = set()
    for root in glob.glob(local) or [local]:
        if os.path.isfile(root):
            out.add(os.path.realpath(root))
            continue
        for dirpath, dirs, files in os.walk(root):
            dirs[:] = [d for d in dirs if not d.startswith(("_", ".")) or "=" in d]
            out.update(
                os.path.realpath(os.path.join(dirpath, f))
                for f in files
                if not f.startswith(("_", "."))
            )
    if glob_filter:
        out = {f for f in out if fnmatch.fnmatch(os.path.basename(f), glob_filter)}
    return out


def _scala_iter(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


def _option(options, key: str) -> str | None:
    value = options.get(key)
    return value.get() if value.isDefined() else None


def source_bytes(df: DataFrame) -> int | None:
    """Total bytes of the distinct files behind `df`'s file-source
    leaves, read with os.stat from the analyzed logical plan (a
    DataFrame is analyzed when built, so no Spark job). A streaming file
    source is its `path` option plus its `pathGlobFilter`, so
    stream_table's sources count only their own table; a batch file
    relation (a stream-static join's static side) is its file index's
    listed files. A file read by several leaves (a self-join) counts
    once. None when any streaming leaf is not a local file source
    (rate, socket, Kafka, memory): its size is unknown."""
    files: set[str] = set()
    for leaf in _scala_iter(df._jdf.queryExecution().analyzed().collectLeaves()):
        kind = leaf.getClass().getSimpleName()
        if (
            kind == "StreamingRelation"
            and leaf.dataSource().className() in _FILE_FORMATS
        ):
            options = leaf.dataSource().options()
            listed = _listed_files(
                _option(options, "path"), _option(options, "pathGlobFilter")
            )
            if listed is None:
                return None
            files |= listed
        elif leaf.isStreaming():
            return None
        elif (
            kind == "LogicalRelation"
            and leaf.relation().getClass().getSimpleName() == "HadoopFsRelation"
        ):
            for uri in leaf.relation().location().inputFiles():
                local = _local_path(uri)
                if local is None:
                    return None
                files.add(os.path.realpath(local))
    return sum(os.stat(f).st_size for f in files)


def stream_shuffle_partitions(df: DataFrame) -> int:
    """The spark.sql.shuffle.partitions the stream over `df` starts
    with, and so the state stores each stateful operator opens and
    commits per micro-batch (see run_stream). A two-regime step on
    source_bytes(df), measured on local[4] (BASELINE.md, "state
    partitions sized from source bytes"). The figures below were taken
    while every checkpoint rename still forked a `readlink` process
    (each store commit paid its own), before run_stream pinned the
    FileSystem checkpoint manager; re-measured where stated.

    - 1 at or below ONE_PARTITION_MAX_BYTES (1 MiB). Each partition
      costs a store open + commit per batch and, under
      applyInPandasWithState, a Python task, whatever the key count. At
      sf0.01 (events 0.22 MB) 1 partition took perfbench `stream`
      query_p50_s to 0.64x of 8, state commit time 2.7 -> 0.13 s.
      Re-measured without the forks, 8 is still slower: query_p50_s
      0.94/1.05/0.92 s on 1 against 1.41/1.59/1.44 s on 8 (seeds
      21-23; BASELINE.md "PR 12").
    - STREAM_PARTITIONS (8) above it, and for unsized sources (rate,
      socket, Kafka, memory). At sf0.1 (events 2.0 MB) 1 partition
      took the 40 events streams' summed median to 0.84x of 8 (not
      re-measured; most of that gain was commit forks), but it
      serializes per-event Python state work onto one core: 11 of
      them ran slower than on 8 by more than their spread
      (cep_optional_step 1.32x, clamped_ledger 1.30x, times_range
      1.23x), so sf0.1 events stays on 8. At sf1 (events 15.8 MB)
      bucketed heavy state loses 1.5-1.8x on 1 partition (scd2,
      asof_attribution, interval_join).
    No count in between: the sf1 sweep read scd2 at 20.1 s on 4
    partitions against 5.3 s on 8 (BASELINE.md "Round-9 addendum").

    SPARK_GRAFT_STREAM_SHUFFLE, when set, overrides the rule (sweeps)."""
    override = os.environ.get("SPARK_GRAFT_STREAM_SHUFFLE")
    if override is not None:
        return int(override)
    size = source_bytes(df)
    if size is not None and size <= ONE_PARTITION_MAX_BYTES:
        return 1
    return STREAM_PARTITIONS


def run_stream(writer: DataStreamWriter, *, available_now: bool = False) -> None:
    """Run an unstarted stream writer over a bounded source to
    completion: pin the shuffle width and the checkpoint file manager,
    start, restore both, drain the query, capture its executed plan,
    stop. Every bounded stream in the engine runs through here.

    Pin policy: both confs are set for the start only; each prior value
    (or its absence) comes back once the start is done or has failed.
    spark.sql.shuffle.partitions is set to
    stream_shuffle_partitions(writer's DataFrame).
    Stateful operators open one state store per shuffle partition per
    micro-batch, so the count is sized per stream from its source bytes
    (1 up to 1 MiB, 8 above it or when unsized; the rule and its data
    are in stream_shuffle_partitions), not the batch default.
    SPARK_GRAFT_STREAM_SHUFFLE overrides it for sweeps.
    Probed on pyspark 4.1.2 with the conf pinned to 8 and restored to 4
    right after start():
    - the state-store count is fixed at start: the state operator
      reported numShufflePartitions=8. The checkpoint's offset log keeps
      it too, so a restarted checkpointed stream keeps its first count
      whatever its input has grown to (tests/test_stream_lifecycle.py);
    - a foreachBatch body's batch DataFrame lives in the stream's own
      session, cloned at start, so work planned on it keeps 8; but
      DataFrames the body builds from the caller's session (a sink
      reading its own tables) read that session's LIVE conf, 4. That
      share of sink work runs at the session default, with AQE
      coalescing on.
    NOT thread-safe: a query started concurrently in the same session
    inherits the pin; concurrent callers should use spark.newSession().

    spark.sql.streaming.checkpointFileManagerClass is set to Spark's
    FileSystemBasedCheckpointFileManager. Spark's default manager is
    FileContext-based: each atomic rename calls getFileLinkStatus on
    its source and destination, and without the native Hadoop library
    each of those forks a `readlink` process from the driver JVM. A
    micro-batch renames its offset-log, commit-log and source-log
    entries and one state-store delta file per partition per stateful
    operator, so the forks dominated state commit time. Measured on
    local[4] (BASELINE.md "PR 12"): one pass of perfbench `stream`'s
    four queries forked 224 `readlink` processes, now 0; at sf0.1
    asof_attribution's state_commit_s fell 7.6 -> 0.5 s. Why the swap
    is safe:
    - setting it at start is enough: the offset log, the commit log
      and the state-store providers build their manager from the
      stream's own session, cloned at start (a started query's
      offsetLog().fileManager() is the FileSystem one after the conf
      is restored; tests/test_stream_lifecycle.py);
    - the rename guarantee is the same on a local file system: the
      FileContext manager's local rename is an exists-check then
      rename(2), the FileSystem one an exists-check then
      File.renameTo;
    - nothing else changes: Spark's state-file checksums stay on, and
      on pyspark 4.1.2 both managers leave the same files in a
      checkpoint, Hadoop's `.crc` sidecars included. A checkpoint
      written under either manager resumes under the other
      (tests/test_fanout.py).

    Draining: an `available_now` writer carries Trigger.AvailableNow and
    is awaited to termination; otherwise processAllAvailable() drains
    every micro-batch, including the trailing no-data batch that fires
    event-time timers after the final watermark update. A failed start,
    drain or sink raises with the query stopped; a stop() error does
    not mask the original error."""
    spark = writer._spark  # the session the writer starts in
    pins = {
        "spark.sql.shuffle.partitions": str(stream_shuffle_partitions(writer._df)),
        CHECKPOINT_FILE_MANAGER: FILE_SYSTEM_CHECKPOINT_MANAGER,
    }
    prev = {key: spark.conf.get(key, None) for key in pins}
    for key, value in pins.items():
        spark.conf.set(key, value)
    try:
        q = writer.start()
    finally:
        for key, value in prev.items():
            if value is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, value)
    try:
        if available_now:
            q.awaitTermination()
        else:
            q.processAllAvailable()
        # executed micro-batch plan, pre-truncation (a memory table
        # scans an in-memory sink; the real plan lives here)
        plan_capture.capture_stream(q, f"stream:{q.name or q.id}")
    finally:
        try:
            q.stop()
        except Exception:
            pass


def run_to_memory(out: DataFrame, mode: str = "append") -> DataFrame:
    """Execute a streaming DataFrame to completion via a memory sink;
    returns the materialized result (run_stream owns the lifecycle)."""
    name = f"mem_{uuid.uuid4().hex[:12]}"
    run_stream(out.writeStream.outputMode(mode).format("memory").queryName(name))
    return out.sparkSession.table(name)


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
    micro-batch to several sinks — the production one-pass fan-out (the
    reference's analog is the side-output fan-out,
    SideOutputDemo.java:22-50). Each `sink` is
    a foreachBatch callable `(batch_df, epoch_id) -> None`; the batch
    is persisted ONCE before the first sink and unpersisted after the
    last, so every sink reads the cached micro-batch instead of
    re-scanning the source. At 100 TB this is the difference between N
    source scans and one: a pipeline per sink would re-read the topic
    per pipeline and pay the per-batch coordination cost per pipeline,
    this shape reads it once per batch (listener-verified in
    tests/test_fanout.py and SCALING.md "one-pass fan-out").

    Sinks run sequentially on the driver inside the batch; a sink
    raising fails the query (at-least-once per sink: on recovery the
    whole epoch re-delivers to ALL sinks, so each sink must be
    replay-idempotent — keyed overwrite, idempotent sketch MERGE, or
    dedup-on-read). Sequential sinks trade a little local wall for the
    halved ingest (SCALING.md r13 addendum measures both); when sink
    compute itself is the bottleneck, submit each sink's job from the
    fan function on a separate scheduler pool over the persisted batch
    — the ingest stays 1x either way."""

    def fan(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df.persist()
        try:
            for sink in sinks:
                sink(batch_df, epoch_id)
        finally:
            batch_df.unpersist()

    w = out.writeStream.foreachBatch(fan)
    if checkpoint:
        # durable offsets: restarting on the same checkpoint resumes
        # after the last COMMITTED epoch (an uncommitted epoch
        # re-delivers to every sink — the replay the sinks must
        # tolerate); the bounded catalog queries run checkpoint-less on
        # a temp dir
        w = w.option("checkpointLocation", checkpoint)
    if available_now:
        w = w.trigger(availableNow=True)
    run_stream(w, available_now=available_now)


def run_to_parquet(out: DataFrame, path: str) -> None:
    """Execute a streaming DataFrame to completion into a parquet
    directory (append mode) — the durable-handoff half of a two-job
    topology (bucket job -> files-as-topic -> consumer job)."""
    run_stream(
        out.writeStream.outputMode("append")
        .format("parquet")
        .option("path", path)
        .option("checkpointLocation", f"{path}_ckpt")
    )
