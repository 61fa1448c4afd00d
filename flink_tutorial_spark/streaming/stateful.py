"""Stateful streaming operators — the applyInPandasWithState layer that
matches the reference's KeyedProcessFunction/state/timer surface
(SURVEY.md §2.9).

Semantic mapping (documented deltas):
- ValueState/ListState/MapState (KeyedStateDemo.java:59-88,
  ListStateDemo01.java:52-76, MapStateDemo.java:42-66) -> ONE state
  struct per key (model all Flink state slots as fields of one tuple;
  lists/maps become array fields).
- registerEventTimeTimer/onTimer (ProcessingTimeTimerDemo.java:45-55,
  LoginFail.scala:65-103) -> GroupStateTimeout.EventTimeTimeout plus a
  timeout timestamp (armed by buckets.save); the callback is the
  `state.hasTimedOut` branch of the same function.
- State TTL (KeyedStateTTLDemo.java:62-72) -> ProcessingTimeTimeout +
  state.remove() on timeout.
- Per-record emission (keyed.sum emits one row per input) -> one row
  per key per micro-batch (update mode); the converged result is equal.
- Flink's per-record triggers/early-fire -> update-mode emission per
  micro-batch (note/03.Window.md FIRE_AND_PURGE patterns).

Scale notes: state lives in the executor-side state store (RocksDB
provider in production), partitioned by the grouping key — the same
hash partitioning Flink uses for keyed state. Pandas batches arrive
per key-group via Arrow; functions below sort within the batch, never
across keys.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from flink_tutorial_spark.streaming import buckets


def keyed_process(
    df: DataFrame,
    key_cols: list[str],
    fn,
    output_schema: StructType,
    state_schema: StructType,
    output_mode: str = "append",
    timeout: str = GroupStateTimeout.NoTimeout,
) -> DataFrame:
    """KeyedProcessFunction analog: `fn(key, pdf_iter, state)` runs per
    key with a single state slot and optional timeout — the engine's
    generic hook for everything Flink expresses with Rich*/Keyed*
    process functions."""
    return df.groupBy(*key_cols).applyInPandasWithState(
        fn, output_schema, state_schema, output_mode, timeout
    )


def one_frame(pdfs: Iterator[pd.DataFrame]) -> pd.DataFrame | None:
    """Concatenate a group's Arrow chunk iterator into ONE frame.

    applyInPandasWithState guarantees GROUPING, not intra-group chunk
    order: a group larger than spark.sql.execution.arrow.maxRecordsPerBatch
    (default 10k rows) arrives as several chunks in storage order, so
    sorting each chunk independently would treat an earlier-time row in a
    later chunk as a fresh ordered run and corrupt any carry logic.
    Every stateful op below therefore collects the whole micro-batch
    group first and sorts ONCE. Memory is bounded by the op's keying
    contract (per-key / per-bucket batch volume, documented per op)."""
    chunks = [p for p in pdfs if len(p)]
    if not chunks:
        return None
    return chunks[0] if len(chunks) == 1 else pd.concat(chunks, ignore_index=True)


def ts_us(s: pd.Series) -> pd.Series:
    """Timestamp column -> int64 microseconds, resolution-independent.

    Arrow->pandas may hand back datetime64[us] (pandas 2 non-ns units)
    instead of datetime64[ns]; a bare .astype('int64') would then be
    1000x off. Normalizing to ns first makes the // 1_000 exact
    regardless of the environment's resolution."""
    return s.astype("datetime64[ns]").astype("int64") // 1_000


#: sentinel encoding SQL NULL for item/value columns inside int64 state
#: arrays ("no previous row" and "null item" share it deliberately:
#: lag() can't distinguish them either, which is exactly the three-
#: valued-logic contract the oracles state). Far outside any real id
#: space (items are application ids; testdata uses small naturals).
NULL_SENTINEL = -(1 << 62)


COUNT_WINDOW_OUT = StructType(
    [
        StructField("key", StringType()),
        StructField("window_seq", LongType()),
        StructField("cnt", LongType()),
        StructField("sum_value", DoubleType()),
    ]
)
_COUNT_WINDOW_STATE = StructType(
    [StructField("buf_cnt", LongType()), StructField("buf_sum", DoubleType()), StructField("emitted", LongType())]
)


def count_window_sum(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    n: int,
    sort_cols: list[str] | None = None,
    round_to: int | None = None,
) -> DataFrame:
    """Keyed tumbling COUNT window (fires every n rows per key) —
    countWindow(3), CountWindowDemo.java:32; golden trace
    CountWindowAllDemo.java:33-41. No Spark native equivalent
    (SURVEY §2.6): buffer counts per key in state, emit on every n-th.

    Vectorized: window boundaries fall out of a prefix sum over each
    Arrow batch — no per-row Python loop in the hot path. Rows process
    in `sort_cols` order (default (ts, value)) within each micro-batch;
    cross-batch order follows arrival (same caveat as Flink's network
    nondeterminism across exchanges)."""
    order = sort_cols or [ts_col, value_col]

    def fn(key, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        import numpy as np

        buf_cnt, buf_sum, emitted = state.get if state.exists else (0, 0.0, 0)
        out = []
        pdf = one_frame(pdfs)
        if pdf is not None:
            vals = pdf.sort_values(order, kind="stable")[value_col].to_numpy(
                dtype="float64"
            )
            cs = np.cumsum(vals)
            total = buf_cnt + len(vals)
            complete = total // n
            if complete:
                ends = (np.arange(1, complete + 1) * n) - buf_cnt - 1
                window_sums = cs[ends].copy()
                window_sums[1:] -= cs[ends[:-1]]
                window_sums[0] += buf_sum
                for i, ws in enumerate(window_sums):
                    s = float(ws) if round_to is None else round(float(ws), round_to)
                    out.append((key[0], emitted + i + 1, n, s))
                emitted += complete
                buf_sum = float(cs[-1] - cs[ends[-1]])
            else:
                buf_sum += float(cs[-1])
            buf_cnt = total % n
        state.update((buf_cnt, buf_sum, emitted))
        if out:
            yield pd.DataFrame(out, columns=[f.name for f in COUNT_WINDOW_OUT.fields])

    return keyed_process(
        df, [key_col], fn, COUNT_WINDOW_OUT, _COUNT_WINDOW_STATE, "append"
    )


SLIDING_COUNT_OUT = StructType(
    [
        StructField("key", StringType()),
        StructField("emit_seq", LongType()),
        StructField("cnt", LongType()),
        StructField("sum_value", DoubleType()),
    ]
)
_SLIDING_COUNT_STATE = StructType(
    [
        StructField("recent", ArrayType(DoubleType())),
        StructField("since_emit", LongType()),
        StructField("emitted", LongType()),
    ]
)


def sliding_count_window_sum(
    df: DataFrame, key_col: str, ts_col: str, value_col: str, size: int, slide: int
) -> DataFrame:
    """Sliding COUNT window — countWindowAll(4, 2): emit every `slide`
    elements, aggregating the last `size` elements; golden trace
    CountWindowAllDemo.java:33-41 (first fire may aggregate fewer than
    `size`). State holds the ring buffer of the last `size` values —
    the ListState the reference keeps, as an array field."""

    def fn(key, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        import numpy as np

        recent, since_emit, emitted = (
            state.get if state.exists else ([], 0, 0)
        )
        recent = list(recent)
        out = []
        pdf = one_frame(pdfs)
        if pdf is not None:
            vals = pdf.sort_values([ts_col, value_col], kind="stable")[value_col].to_numpy(
                dtype="float64"
            )
            # prefix the ring buffer, then every emit is one prefix-sum
            # subtraction: fire positions p satisfy (since_emit+p+1)%slide==0
            allv = np.concatenate([np.asarray(recent, dtype="float64"), vals])
            c = len(recent)
            cs = np.concatenate([[0.0], np.cumsum(allv)])
            first_fire = slide - since_emit - 1  # 0-based batch position
            fires = np.arange(first_fire, len(vals), slide)
            for p in fires:
                e = c + int(p)  # inclusive end index into allv
                cnt = min(size, e + 1)
                emitted += 1
                out.append((key[0], emitted, cnt, float(cs[e + 1] - cs[e + 1 - cnt])))
            since_emit = (since_emit + len(vals)) % slide
            recent = [float(v) for v in allv[-size:]]
        state.update((recent, since_emit, emitted))
        if out:
            yield pd.DataFrame(out, columns=[f.name for f in SLIDING_COUNT_OUT.fields])

    return keyed_process(
        df, [key_col], fn, SLIDING_COUNT_OUT, _SLIDING_COUNT_STATE, "append"
    )


RUNNING_TOTAL_OUT = StructType(
    [
        StructField("key", StringType()),
        StructField("window_start", LongType()),
        StructField("window_cnt", LongType()),
        StructField("running_total", LongType()),
    ]
)
_RUNNING_TOTAL_STATE = StructType([StructField("total", LongType())])


def windowed_count_with_running_total(
    df: DataFrame, key_col: str, ts_col: str, window_seconds: int
) -> DataFrame:
    """Two-stage window agg + cross-window running total —
    ProcessWindowFunctionDemo01/02.java:54-102 (window aggregate feeding
    a keyed ValueState that accumulates across windows).

    Implementation: assign the tumbling bucket inside the stateful op
    (epoch-aligned like F.window) and carry the per-key total in state.
    Requires the stream to be watermark-ordered per batch; windows are
    finalized in event-time order within each batch."""

    def fn(key, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        (total,) = state.get if state.exists else (0,)
        rows = []
        pdf = one_frame(pdfs)
        if pdf is not None:
            pdf = pdf.assign(
                _w=(ts_us(pdf[ts_col]) // 1_000_000 // window_seconds)
                * window_seconds
            )
            for w, grp in pdf.groupby("_w", sort=True):
                cnt = len(grp)
                total += cnt
                rows.append((key[0], int(w), cnt, total))
        state.update((total,))
        if rows:
            yield pd.DataFrame(rows, columns=[f.name for f in RUNNING_TOTAL_OUT.fields])

    return keyed_process(
        df, [key_col], fn, RUNNING_TOTAL_OUT, _RUNNING_TOTAL_STATE, "append"
    )


BLACKLIST_OUT = StructType(
    [
        StructField("user_id", LongType()),
        StructField("item_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("channel", StringType()),
    ]
)
_BLACKLIST_STATE = StructType(
    [
        StructField("users", ArrayType(LongType())),
        StructField("items", ArrayType(LongType())),
        StructField("days", ArrayType(LongType())),
        StructField("cnts", ArrayType(LongType())),
    ]
)


def blacklist_filter(
    df: DataFrame,
    user_col: str,
    ad_col: str,
    ts_col: str,
    day_col: str,
    max_count: int,
    order_col: str = "event_id",
) -> DataFrame:
    """Ad-click blacklist filter — AdClickAnalysis.scala:85-123
    (FliterBlackListUserResult): per (user, ad) the first `max_count`
    clicks of a day pass through on the MAIN channel; the click that
    crosses the threshold emits one WARNING row (the reference's
    OutputTag side output); everything after is suppressed. The
    reference clears state with a midnight processing-time timer; here
    the day is event-time and enters the COUNTING key (user, ad, day),
    so the daily reset is by construction — deterministic, and the
    idiomatic shape for event-time replay.

    Keyed by hash bucket of the user (buckets.py). One frame per bucket
    ranks clicks via groupby([user, ad, day]).cumcount(). State per
    bucket: four parallel arrays (users, items, days, counts) of the
    bucket's ACTIVE (user, ad, day) counters.

    GC moves from per-user timers to per-entry watermark pruning: a
    (user, ad, day) counter is dead once the watermark passes
    day + 2 days — with the stream's 0-second watermark delay no
    on-time row for that day can still arrive (any surviving row has
    ts >= watermark > day-end + 1 day), so pruning is output-identical
    and state stays ~2 days of active (user, ad) pairs at any scale,
    the same bound as before. A bucket idle past its newest active
    day + 2 days clears wholesale via EventTimeTimeout (every entry is
    provably stale by then, same argument).

    Deterministic given per-batch event-time ordering (single-batch on
    bounded runs; an unbounded deployment inherits arrival order
    across batches exactly like the reference's network-order
    sensitivity)."""
    import numpy as np

    DAY2_US = 2 * 86_400_000_000

    def fn(key, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            # timer was set at (newest active day + 2 days): every entry
            # in the bucket is at least a day past its late horizon
            state.remove()
            return
        pdf = one_frame(pdfs)
        if pdf is None:
            return
        users, items, days, cnts = buckets.load_int64(state, 4)
        carried = pd.DataFrame({"_us": users, "_it": items, "_dy": days, "_base": cnts})
        merged = pdf.sort_values([ts_col, order_col], kind="mergesort").assign(
            _us=pdf[user_col].astype("int64"),
            _it=pdf[ad_col].astype("int64"),
            _dy=ts_us(pdf[day_col]),
        )
        grp = merged.groupby(["_us", "_it", "_dy"], sort=False)
        if len(carried):  # splice counts carried across batches
            merged = merged.merge(carried, on=["_us", "_it", "_dy"], how="left")
            base = merged["_base"].fillna(0).to_numpy(dtype="int64")
        else:  # fast path: no prior state for this bucket
            base = 0
        rank = base + grp.cumcount().to_numpy() + 1
        main = merged.iloc[np.flatnonzero(rank <= max_count)]
        warn = merged.iloc[np.flatnonzero(rank == max_count + 1)]
        out = pd.DataFrame(
            {
                "user_id": np.concatenate(
                    [main["_us"].to_numpy(), warn["_us"].to_numpy()]
                ),
                "item_id": np.concatenate(
                    [main["_it"].to_numpy(), warn["_it"].to_numpy()]
                ),
                "ts": np.concatenate(
                    [main[ts_col].to_numpy(), warn[ts_col].to_numpy()]
                ),
                "channel": ["main"] * len(main) + ["warning"] * len(warn),
            }
        )
        if len(out):
            yield out
        totals = grp.size().reset_index(name="_n")
        if len(carried):
            totals = totals.merge(carried, on=["_us", "_it", "_dy"], how="outer")
            totals["_n"] = (
                totals["_n"].fillna(0) + totals["_base"].fillna(0)
            ).astype("int64")
        carried = totals[["_us", "_it", "_dy", "_n"]]
        # per-entry watermark GC (see docstring: output-identical)
        wm_us = state.getCurrentWatermarkMs() * 1_000
        if wm_us > 0:
            carried = carried[carried["_dy"] + DAY2_US > wm_us]
        # idle-bucket GC: fire one day after the bucket's newest active
        # day ends
        buckets.save(
            state,
            tuple(carried[c] for c in ("_us", "_it", "_dy", "_n")),
            (int(carried["_dy"].max()) + DAY2_US) // 1_000 if len(carried) else None,
        )

    return buckets.by_bucket(
        df,
        "blacklist_filter",
        user_col,
        [ad_col, ts_col, day_col, order_col],
        fn,
        BLACKLIST_OUT,
        _BLACKLIST_STATE,
        GroupStateTimeout.EventTimeTimeout,
    )


TRANSITION_OUT = StructType(
    [StructField("src", LongType()), StructField("dst", LongType())]
)
_TRANSITION_STATE = StructType(
    [
        StructField("users", ArrayType(LongType())),
        StructField("last_items", ArrayType(LongType())),
    ]
)


def transition_pairs(
    df: DataFrame,
    key_col: str,
    ts_cols: list[str],
    item_col: str,
) -> DataFrame:
    """Per-entity consecutive-item transition extraction: each entity's
    last item carries across micro-batches, so a transition spanning a
    batch boundary still emits (the streaming twin of
    operators/graph.py:transition_edges' lag window). Self-loops drop,
    matching the batch operator.

    Keyed by hash bucket of the entity (buckets.py), all per-entity
    logic vectorized (boundary masks + carry merge). State per bucket:
    two parallel arrays (users, last_items) of |users/bucket| longs.

    NULL items break the chain exactly like the batch twin's lag():
    no edge into or out of a null, and the null becomes the carried
    last-item so the next real item emits nothing either (SQL
    three-valued ``prev IS NOT NULL AND prev <> item``). Encoded as
    NULL_SENTINEL in the int64 state arrays."""

    def fn(key, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        import numpy as np

        pdf = one_frame(pdfs)
        if pdf is None:
            return
        su, sl = buckets.load_int64(state, 2)
        pdf = pdf.sort_values([key_col, *ts_cols], kind="mergesort")
        u = pdf[key_col].to_numpy(dtype="int64")
        it = pdf["_item_s"].to_numpy(dtype="int64")
        first, pos = buckets.first_rows(u, su)
        prev_it = np.empty(len(u), dtype="int64")
        prev_it[1:] = it[:-1]
        # first row per user: carried last item, or NULL_SENTINEL for
        # never-seen users ("no previous row" == "null previous item"
        # under the lag() contract)
        prev_it[first] = buckets.take(sl, pos, NULL_SENTINEL)
        emit = (prev_it != NULL_SENTINEL) & (it != NULL_SENTINEL) & (prev_it != it)
        if emit.any():
            yield pd.DataFrame({"src": prev_it[emit], "dst": it[emit]})
        buckets.save(state, buckets.write_back((su, sl), (u, it)))

    item = F.coalesce(F.col(item_col).cast("long"), F.lit(NULL_SENTINEL))
    return buckets.by_bucket(
        df,
        "transition_pairs",
        key_col,
        [*ts_cols, item.alias("_item_s")],
        fn,
        TRANSITION_OUT,
        _TRANSITION_STATE,
    )


ZSCORE_OUT = StructType(
    [
        StructField("key", StringType()),
        StructField("bucket", TimestampType()),
        StructField("n_window", LongType()),
        StructField("value", DoubleType()),
        StructField("roll_mean", DoubleType()),
        StructField("roll_std", DoubleType()),
        StructField("z", DoubleType()),
        StructField("is_anomaly", BooleanType()),
    ]
)
_ZSCORE_STATE = StructType([StructField("ring", ArrayType(LongType()))])


def _round_away(x: float, d: int) -> float:
    """SQL ROUND semantics (half away from zero) — python round() is
    half-even and would diverge from the Spark/DuckDB batch twin on
    exact .5 quantizations."""
    import math

    s = 10**d
    return math.copysign(math.floor(abs(x) * s + 0.5), x) / s


def rolling_zscore(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    val_col: str,
    window: int = 24,
    min_n: int = 12,
    z_cut: float = 3.0,
    scale: int = 1000,
) -> DataFrame:
    """Streaming rolling z-score scorer: per key, keep a ring buffer of
    the last ``window`` CLOSED bucket values (exact fixed-point longs)
    and score each arriving bucket against the mean/std of the buckets
    before it — the live stage-2 of the anomaly pipeline (batch twin:
    queries_timeseries.timeseries_anomaly).

    Numeric parity with the SQL twin is deliberate down to operation
    ORDER: the ring holds exact integers; mean/var convert the exact
    integer sums to double FIRST and then divide (matching the SQL
    ``1.0 * s / n`` tree — python's exact int/int true division rounds
    differently by up to 1 ulp), and rounding is half-away-from-zero
    like SQL ROUND, not python's half-even.

    State per key: <= ``window`` longs. Input buckets must arrive in
    event-time order per key (append-mode windowed aggs emit in
    watermark order; within a batch the fn sorts)."""

    def fn(key, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        import math

        ring = list(state.get[0]) if state.exists else []
        out = []
        pdf = one_frame(pdfs)
        if pdf is not None:
            pdf = pdf.sort_values(ts_col, kind="stable")
            for ts, v in zip(pdf[ts_col], pdf[val_col]):
                v = int(v)
                n = len(ring)
                if n >= min_n:
                    s = sum(ring)
                    s2 = sum(x * x for x in ring)
                    mean = float(s) / n
                    var = float(s2) / n - (float(s) / n) * (float(s) / n)
                    sd = math.sqrt(max(var, 0.0))
                    z = (v - mean) / sd if sd > 0 else 0.0
                    out.append(
                        (
                            key[0],
                            ts,
                            n,
                            _round_away(v / float(scale), 6),
                            _round_away(mean / scale, 6),
                            _round_away(sd / scale, 6),
                            _round_away(z, 4),
                            bool(sd > 0 and abs(v - mean) >= z_cut * sd),
                        )
                    )
                ring.append(v)
                if len(ring) > window:
                    ring = ring[-window:]
        state.update((ring,))
        if out:
            yield pd.DataFrame(out, columns=[f.name for f in ZSCORE_OUT.fields])

    return keyed_process(df, [key_col], fn, ZSCORE_OUT, _ZSCORE_STATE)


SCD2_OUT = StructType(
    [
        StructField("user_id", LongType()),
        StructField("item_id", LongType()),
        StructField("effective_from", TimestampType()),
        StructField("effective_to", TimestampType()),
        StructField("version", LongType()),
    ]
)
_SCD2_STATE = StructType(
    [
        StructField("users", ArrayType(LongType())),
        StructField("items", ArrayType(LongType())),
        StructField("from_us", ArrayType(LongType())),
        StructField("vers", ArrayType(LongType())),
        # last ROW's item (may be NULL_SENTINEL) — distinct from the open
        # interval's item: lag() compares against the previous row, so a
        # trailing null must make the next row a change row even when its
        # item matches the open interval
        StructField("lasts", ArrayType(LongType())),
    ]
)


def scd2_closed_intervals(
    df: DataFrame,
    key_col: str,
    ts_cols: list[str],
    item_col: str,
) -> DataFrame:
    """Live SCD Type-2 builder: per entity, hold the OPEN interval
    (current item, its start, a version counter) in state; when the
    item changes, emit the now-CLOSED interval [from, change_ts) with
    its version and open a new one. Consecutive repeats extend the open
    interval silently — the stream twin of
    queries_timeseries.scd2_item_intervals restricted to closed
    intervals (the open tail per entity lives only in state until its
    close arrives; a serving layer reads it from the state store /
    latest snapshot instead).

    Keyed by hash bucket of the entity (buckets.py), ALL per-user logic
    vectorized (boundary masks + carry merge + cumcount, zero per-row
    python). State per bucket: five parallel arrays (users, items,
    from_us, vers, lasts) of |users/bucket| longs.

    Input must arrive time-ordered per entity across batches (same
    contract as transition_pairs). NULL items follow the oracle's exact
    lag() three-valued semantics: a null row never closes the open
    interval itself (``prev <> item`` is unknown), but the row AFTER a
    null is always a change row (``prev IS NULL``) — so a null can both
    extend an interval across itself and force a same-item re-open, and
    a null preceded by a null opens a NULL-item interval. Encoded with
    NULL_SENTINEL; the last ROW's item is carried separately from the
    open interval's item."""

    def fn(key, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        import numpy as np

        pdf = one_frame(pdfs)
        if pdf is None:
            return
        su, si, sf_, sv, sla = buckets.load_int64(state, 5)
        pdf = pdf.sort_values([key_col, *ts_cols], kind="mergesort")
        u = pdf[key_col].to_numpy(dtype="int64")
        t = ts_us(pdf[ts_cols[0]]).to_numpy()
        it = pdf["_item_s"].to_numpy(dtype="int64")
        first, pos = buckets.first_rows(u, su)
        has_carry = pos >= 0
        prev_it = np.empty(len(u), dtype="int64")
        prev_it[1:] = it[:-1]
        # first row per user: previous ROW's item from state, or
        # NULL_SENTINEL for never-seen users (lag() returns NULL)
        prev_it[first] = buckets.take(sla, pos, NULL_SENTINEL)
        # oracle ch: prev IS NULL OR prev <> item (three-valued)
        change = (prev_it == NULL_SENTINEL) | (
            (it != NULL_SENTINEL) & (it != prev_it)
        )
        # start rows of this batch = change rows; prepend the carried
        # interval as a synthetic start for users that have one
        ch = np.flatnonzero(change)
        cu = u[first][has_carry]
        cpos = pos[has_carry]
        s_u = np.concatenate([cu, u[ch]])
        s_t = np.concatenate([sf_[cpos], t[ch]])
        s_i = np.concatenate([si[cpos], it[ch]])
        s_base = np.concatenate(
            [sv[cpos], np.ones(len(ch), dtype="int64")]
        )
        order0 = np.concatenate(
            [np.zeros(len(cu), dtype="int64"), np.ones(len(ch), dtype="int64")]
        )
        o = np.lexsort((order0, s_t, s_u))
        s_u, s_t, s_i, s_base = s_u[o], s_t[o], s_i[o], s_base[o]
        # m > 0 always: every user with rows has either a carried
        # synthetic start or a change first row (prev IS NULL)
        m = len(s_u)
        sfirst = np.empty(m, dtype=bool)
        sfirst[0] = True
        sfirst[1:] = s_u[1:] != s_u[:-1]
        gstart = np.flatnonzero(sfirst)
        cum = np.arange(m, dtype="int64") - np.repeat(gstart, np.diff(np.append(gstart, m)))
        base = np.repeat(s_base[gstart], np.diff(np.append(gstart, m)))
        version = base + cum
        # closed = every start whose successor is the same user
        closed = np.empty(m, dtype=bool)
        closed[:-1] = s_u[1:] == s_u[:-1]
        closed[-1] = False
        if closed.any():
            ci = np.flatnonzero(closed)
            iv = s_i[ci]
            yield pd.DataFrame(
                {
                    "user_id": s_u[ci],
                    "item_id": pd.Series(iv, dtype="Int64").mask(
                        pd.Series(iv == NULL_SENTINEL)
                    ),
                    "effective_from": pd.to_datetime(s_t[ci], unit="us"),
                    "effective_to": pd.to_datetime(s_t[ci + 1], unit="us"),
                    "version": version[ci],
                }
            )
        # new open interval per user = its LAST start; the carried
        # last-ROW item comes from the raw batch (it may be a null or a
        # repeat that is not a start row). Every batch user has a start
        # (synthetic or change), so both write-backs keep the same users
        # in the same order.
        _, sla = buckets.write_back((su, sla), (u, it))
        buckets.save(
            state,
            (*buckets.write_back((su, si, sf_, sv), (s_u, s_i, s_t, version)), sla),
        )

    item = F.coalesce(F.col(item_col).cast("long"), F.lit(NULL_SENTINEL))
    return buckets.by_bucket(
        df,
        "scd2_closed_intervals",
        key_col,
        [*ts_cols, item.alias("_item_s")],
        fn,
        SCD2_OUT,
        _SCD2_STATE,
    )


GAPFILL_OUT = StructType(
    [
        StructField("event_type", StringType()),
        StructField("bucket", TimestampType()),
        StructField("filled", BooleanType()),
        StructField("n_events", LongType()),
        StructField("avg_value", DoubleType()),
    ]
)
_GAPFILL_STATE = StructType(
    [
        StructField("last_h_us", LongType()),
        StructField("last_n", LongType()),
        StructField("last_v", LongType()),
    ]
)

_HOUR_US = 3_600_000_000


def gap_fill_stream(df: DataFrame, key_col: str, ts_col: str) -> DataFrame:
    """Streaming forward-fill gap filler (stage 2 of the live gap-fill
    topology): per key, remember the last CLOSED bucket; when the next
    closed bucket arrives, first emit one synthetic filled row per
    missing hour carrying the last bucket's average forward, then the
    real bucket. Dense output begins at each key's first closed bucket
    (a stream can't know about leading gaps) and pauses at its newest
    closed bucket until the next close arrives.

    Keyed DIRECTLY by the series key — the key-cardinality rule cuts
    the other way here: series keys (types, metrics) have natural batch
    volume, so per-key python dispatch amortizes over bucket-sized
    batches and bucketing would only complicate state. State per key:
    three longs. The per-row loop is over BUCKETS, not events."""

    def fn(key, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        last = state.get if state.exists else None
        if last is not None and last[0] is None:
            # state written by an all-empty invocation: nothing seen yet
            last = None

        def avg(n, v):
            return _round_away(float(v) / (n * 1000000.0), 6)

        out = []
        pdf = one_frame(pdfs)
        if pdf is not None:
            pdf = pdf.sort_values(ts_col, kind="stable")
            hs = ts_us(pdf[ts_col]).to_numpy()
            ns = pdf["n"].to_numpy(dtype="int64")
            vs = pdf["v_fp"].to_numpy(dtype="int64")
            for h, n, v in zip(hs, ns, vs):
                if last is not None:
                    lh, ln, lv = last
                    for g in range(lh + _HOUR_US, int(h), _HOUR_US):
                        out.append((key[0], g, True, 0, avg(ln, lv)))
                out.append((key[0], int(h), False, int(n), avg(n, v)))
                last = (int(h), int(n), int(v))
        state.update(tuple(last) if last else (None, None, None))
        if out:
            pdf = pd.DataFrame(
                out,
                columns=["event_type", "bucket_us", "filled", "n_events", "avg_value"],
            )
            yield pd.DataFrame(
                {
                    "event_type": pdf["event_type"],
                    "bucket": pd.to_datetime(pdf["bucket_us"], unit="us"),
                    "filled": pdf["filled"],
                    "n_events": pdf["n_events"],
                    "avg_value": pdf["avg_value"],
                }
            )

    return keyed_process(df, [key_col], fn, GAPFILL_OUT, _GAPFILL_STATE)


LEDGER_OUT = StructType(
    [
        StructField("user_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("event_id", LongType()),
        StructField("delta", DoubleType()),
        StructField("balance", DoubleType()),
    ]
)
_LEDGER_STATE = StructType(
    [
        StructField("users", ArrayType(LongType())),
        StructField("run_s", ArrayType(LongType())),
        StructField("run_min", ArrayType(LongType())),
        # 1 once the user has had any NON-NULL delta: SQL sum() OVER is
        # NULL until the first non-null operand, so balances before that
        # point must emit NULL, not 0
        StructField("seen", ArrayType(LongType())),
    ]
)


def clamped_ledger(
    df: DataFrame,
    key_col: str,
    ts_cols: list[str],
    delta_col: str,
) -> DataFrame:
    """Live floor-at-zero running balance: the drawdown identity
    x_i = S_i - least(min_{j<=i} S_j, 0) carries across micro-batches
    with TWO longs of state per entity (running prefix sum S and its
    running minimum M) — balance never needs the history, just the
    carried (S, M). The streaming twin of value_clamped_ledger.

    Keyed by hash bucket of the entity (buckets.py), with a vectorized
    per-entity segmented cumsum (prefix sums restart per entity via a
    repeat-subtract on segment starts; running mins via a
    segment-seeded groupby cummin). State per bucket: four parallel
    arrays (users, run_s, run_min, seen) of |users/bucket| longs."""

    def fn(key, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        import numpy as np

        pdf = one_frame(pdfs)
        if pdf is None:
            return
        su, ss, sm, sn = buckets.load_int64(state, 4)
        pdf = pdf.sort_values([key_col, *ts_cols], kind="mergesort")
        u = pdf[key_col].to_numpy(dtype="int64")
        nul = pdf["_dnull"].to_numpy(dtype=bool)
        d = pdf["_dfill"].to_numpy(dtype="int64")
        n = len(u)
        fi, pos = buckets.first_rows(u, su)
        seg = np.repeat(np.arange(len(fi)), np.diff(np.append(fi, n)))
        # carried (S, M, seen) per segment; new users start (0, 0, 0)
        carry_s, carry_m, carry_n = (buckets.take(c, pos, 0) for c in (ss, sm, sn))
        # segmented prefix sums: global cumsum minus the value just
        # before each segment start, plus the segment's carried S
        cs = np.cumsum(d)
        base = np.concatenate(([0], cs))[fi]
        S = cs - base[seg] + carry_s[seg]
        # segmented running min seeded by carried M: np.minimum
        # accumulate per segment via the "reset at starts" trick
        Mseed = np.minimum(carry_m, S[fi])
        work = S.copy()
        work[fi] = Mseed
        # segmented running min via pandas' C-level groupby cummin —
        # no value-band offsets, so neither |S| nor the number of
        # segments per batch has an overflow envelope (a band trick
        # here would cap segments at ~2^20 per bucket-batch and |S|
        # at the band width)
        M = (
            pd.Series(work).groupby(seg).cummin().to_numpy(dtype="int64")
        )
        bal = S - np.minimum(M, 0)
        # SQL null semantics: delta NULL on null rows; balance NULL
        # until the user's first non-null delta (sum OVER is NULL on
        # an all-null prefix). Running count of non-nulls per segment
        # (carried) decides definedness.
        nn = (~nul).astype("int64")
        cnn = np.cumsum(nn)
        base_nn = np.concatenate(([0], cnn))[fi]
        seen_cnt = cnn - base_nn[seg] + carry_n[seg]
        defined = seen_cnt > 0
        yield pd.DataFrame(
            {
                "user_id": u,
                "ts": pdf[ts_cols[0]].to_numpy(),
                "event_id": pdf[ts_cols[1]].to_numpy(dtype="int64"),
                "delta": np.where(nul, np.nan, np.round(d / 100.0, 2)),
                "balance": np.where(
                    defined, np.round(bal / 100.0, 2), np.nan
                ),
            }
        )
        # new state per entity = its last (S, M, seen)
        buckets.save(
            state,
            buckets.write_back(
                (su, ss, sm, sn), (u, S, M, defined.astype("int64"))
            ),
        )

    return buckets.by_bucket(
        df,
        "clamped_ledger",
        key_col,
        [
            *ts_cols,
            F.col(delta_col).isNull().alias("_dnull"),
            F.coalesce(F.col(delta_col), F.lit(0)).cast("long").alias("_dfill"),
        ],
        fn,
        LEDGER_OUT,
        _LEDGER_STATE,
    )


EMA_OUT = StructType(
    [
        StructField("event_type", StringType()),
        StructField("n", LongType()),
        StructField("ema", DoubleType()),
    ]
)

_EMA_STATE = StructType(
    [
        StructField("ema", DoubleType()),
        StructField("n", LongType()),
    ]
)


def ema_fold(
    df: DataFrame,
    key_col: str,
    ts_cols: list[str],
    value_col: str,
) -> DataFrame:
    """Live exponential moving average (alpha = 1/2) per key: the
    recursion ema_i = v_i/2 + ema_(i-1)/2 carries across micro-batches
    with a SINGLE (ema, n) pair of state per key — the streaming twin
    of timeseries_ema. Within each batch the chunk's recursion is
    unrolled and applied VECTORIZED via np.ldexp (exact power-of-two
    scaling, the same engine-exactness argument as the batch twin);
    chunk results chain through the carried ema exactly as the
    recursion would. Emits the running (key, n, ema) each batch — the
    converged answer is the max-n row per key.

    State is two scalars per key however long the stream runs — the
    same fixed-state class as the sketch cells, which is what makes
    EMA the classic streaming smoother."""

    def fn(key, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        import numpy as np

        ema, n = state.get if state.exists else (0.0, 0)
        pdf = one_frame(pdfs)
        if pdf is not None and len(pdf):
            pdf = pdf.sort_values(ts_cols, kind="mergesort")
            v = pdf[value_col].to_numpy(dtype="float64")
            m = len(v)
            if n == 0:
                # seed: ema_1 = v_1, then fold the remaining m-1 values
                head, rest = v[0], v[1:]
                mm = len(rest)
                # weights: rest_j gets 2^-(mm-j) for j = 1..mm (1-based)
                contrib = np.ldexp(rest, -(mm - np.arange(mm)))
                ema = float(np.ldexp(head, -mm) + contrib.sum())
            else:
                # E_m = 2^-m * E_0 + sum_j 2^-(m-j+1) * v_j
                contrib = np.ldexp(v, -(m - np.arange(m)))
                ema = float(np.ldexp(ema, -m) + contrib.sum())
            n += m
            yield pd.DataFrame(
                {"event_type": [key[0]], "n": [n], "ema": [ema]}
            )
        state.update((float(ema), int(n)))

    return keyed_process(df, [key_col], fn, EMA_OUT, _EMA_STATE)
