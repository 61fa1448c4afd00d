"""Queryable state (SURVEY.md §2.9) via Spark's state data source.

The reference exposes live keyed state for external point lookups
through a QueryableStateClient on port 9069
(QueryableStateDemo.java:27-67, QueryableStateClientDemo.java:19-38).
Spark's first-class equivalent (4.0+) is the `statestore` read format:
any streaming query's keyed state is a queryable DataFrame straight out
of its checkpoint — no extra serving process, and it composes with the
whole SQL surface instead of a get(key) API.

The memory-sink analog (streaming/run.run_to_memory) remains the
low-latency in-session variant; this module is the durable one that
works across processes — closer to the reference's out-of-process
client."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def state_snapshot(
    spark: SparkSession,
    checkpoint_dir: str,
    operator_id: int = 0,
    store_name: str | None = None,
    batch_id: int | None = None,
) -> DataFrame:
    """Read a streaming query's keyed state as (key, value) structs —
    the QueryableStateClient.getKvState analog. `batch_id` time-travels
    to an earlier checkpointed batch (no reference equivalent; free)."""
    reader = spark.read.format("statestore").option("operatorId", operator_id)
    if store_name is not None:
        reader = reader.option("storeName", store_name)
    if batch_id is not None:
        reader = reader.option("batchId", batch_id)
    return reader.load(checkpoint_dir)


def lookup(
    snapshot: DataFrame, key_col: str, key_value
) -> list:
    """Point lookup over a state snapshot — the getKvState(jobId, name,
    key, ...) call shape (QueryableStateClientDemo.java:19-38)."""
    return snapshot.where(snapshot["key"][key_col] == key_value).collect()
