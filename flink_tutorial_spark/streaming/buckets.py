"""Bucketed keyed state: the scaffolding shared by the bucket-keyed
applyInPandasWithState operators in stateful.py and cep.py.

Why buckets (the key-cardinality rule): applyInPandasWithState pays one
Python dispatch per group per micro-batch, so keying state by entity
makes the dispatch the cost. The ad-click blacklist measured it: keyed
by (user, ad, day) it made ~17k near-singleton dispatches (51 s at
sf0.1), keyed by user ~1.5k (~3 s per pipeline); the per-user SCD2
builder spent 15.1 s at sf1 mostly invoking Python 15k times per batch
(SCALING.md r8). Keying by a fixed hash bucket of the entity bounds the
dispatches at N_BUCKETS per batch and leaves the per-entity work to
vectorized kernels over one frame per bucket. The bucket is Flink's key
group (State Management in Apache Flink, VLDB 2017): a fixed hash range
of keys that owns one state partition.

This module owns the three decisions those operators share:

1. The bucket format: pmod(key, N_BUCKETS) as a long. The key must be a
   Spark integral column, checked when the plan is built (any other
   type would bucket as NULL at run time). Only the columns the kernel
   reads cross the Arrow boundary, because groupBy +
   applyInPandasWithState is opaque to column pruning.
2. The state codec: a bucket's state is entity-tagged parallel arrays.
   The first array holds each entry's entity id and the others its
   values, so one state row carries every entity of the bucket.
3. The state-write and timer policy (`save`).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import IntegralType, StructType

N_BUCKETS = 64


def _require_integral(df: DataFrame, op: str, col: str) -> None:
    dtype = df.schema[col].dataType
    if not isinstance(dtype, IntegralType):
        raise TypeError(
            f"{op}: key column {col!r} has type {dtype.simpleString()}, but "
            "bucketed state needs an integral key; cast it to a long or "
            "hash it with xxhash64 upstream"
        )


def by_bucket(
    df: DataFrame,
    op: str,
    key_col: str,
    cols: list,
    fn,
    output_schema: StructType,
    state_schema: StructType,
    timeout: str = GroupStateTimeout.NoTimeout,
) -> DataFrame:
    """Run `fn` once per bucket of `key_col` per micro-batch, over
    `key_col` plus `cols` (names or Columns: what the kernel reads)."""
    _require_integral(df, op, key_col)
    bucketed = df.select(key_col, *cols).withColumn(
        "_bucket", F.pmod(F.col(key_col).cast("long"), F.lit(N_BUCKETS))
    )
    return bucketed.groupBy("_bucket").applyInPandasWithState(
        fn, output_schema, state_schema, "append", timeout
    )


def load(state: GroupState, n: int) -> tuple:
    """The bucket's n state arrays as lists (empty before its first write)."""
    return tuple(state.get) if state.exists else tuple([] for _ in range(n))


def load_int64(state: GroupState, n: int) -> tuple:
    """`load` as int64 numpy arrays."""
    return tuple(np.asarray(a, dtype="int64") for a in load(state, n))


def first_rows(u: np.ndarray, tags: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """For a batch's entity ids `u` (sorted), the index of each entity's
    first row and the entity's row in the carried arrays whose entity
    tags are `tags` (-1 when it carries no state)."""
    first = np.flatnonzero(np.append(True, u[1:] != u[:-1]))
    pos = np.full(len(first), -1, dtype="int64")
    if len(tags):
        order = np.argsort(tags)
        i = np.minimum(np.searchsorted(tags, u[first], sorter=order), len(tags) - 1)
        hit = tags[order[i]] == u[first]
        pos[hit] = order[i[hit]]
    return first, pos


def take(col: np.ndarray, pos: np.ndarray, fill: int) -> np.ndarray:
    """col[pos] with `fill` where pos is -1 (no carried state)."""
    return np.append(col, fill)[pos]


def write_back(carried: tuple, rows: tuple) -> tuple:
    """State arrays after a batch: the carried entries of entities with no
    rows this batch, then each batch entity's last row. Both are
    parallel-array tuples with entity ids first; `rows` is sorted by
    entity."""
    u = rows[0]
    last = np.flatnonzero(np.append(u[1:] != u[:-1], True))
    keep = ~np.isin(carried[0], u[last])
    return tuple(np.concatenate([c[keep], r[last]]) for c, r in zip(carried, rows))


def unflatten(tags, *cols) -> dict:
    """Entity-tagged parallel arrays -> {entity: (list per column)}."""
    per: dict = {}
    for u, *vals in zip(tags, *cols):
        if u not in per:
            per[u] = tuple([] for _ in cols)
        for lst, v in zip(per[u], vals):
            lst.append(v)
    return per


def flatten(per: dict, n: int) -> tuple:
    """{entity: (n value lists)} -> (tags, col 1, ..., col n); an entity
    whose lists are empty takes no entries."""
    tags: list = []
    cols: tuple = tuple([] for _ in range(n))
    for u, vals in per.items():
        tags.extend([u] * len(vals[0]))
        for col, v in zip(cols, vals):
            col.extend(v)
    return (tags, *cols)


def save(state: GroupState, arrays: tuple, deadlines_ms=None) -> None:
    """Write the bucket's state arrays back: update them if any holds an
    entry, otherwise drop the state. With `deadlines_ms`, arm the bucket
    timer at max(min(deadlines_ms), watermark). Spark fires an
    event-time timer once `timeout < watermark` and PySpark rejects only
    a timeout below the watermark, so a deadline that equals a stalled
    watermark fires as soon as the watermark moves at all."""
    if any(len(a) for a in arrays):
        state.update(tuple(a.tolist() if hasattr(a, "tolist") else a for a in arrays))
        if deadlines_ms is not None:
            state.setTimeoutTimestamp(
                max(int(np.min(deadlines_ms)), state.getCurrentWatermarkMs())
            )
    elif state.exists:
        state.remove()
