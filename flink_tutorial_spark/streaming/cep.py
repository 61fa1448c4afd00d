"""CEP-lite streaming operators (SURVEY.md §2.10): sequence detection
and match-or-timeout state machines over applyInPandasWithState.

These are the streaming twins of plans/queries_patterns.py; both derive
from the same reference programs and converge to the same results.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from flink_tutorial_spark.streaming import buckets
from flink_tutorial_spark.streaming.stateful import keyed_process, one_frame, ts_us

SEQ_OUT = StructType(
    [
        StructField("key", LongType()),
        StructField("first_ts", LongType()),
        StructField("last_ts", LongType()),
        StructField("n_matched", LongType()),
    ]
)
_SEQ_STATE = StructType(
    [
        StructField("users", ArrayType(LongType())),
        StructField("recent", ArrayType(LongType())),
    ]
)


def _bucket_segments(pdf: pd.DataFrame, key_col: str):
    """Yield (entity, row-position array) per entity of a bucket frame —
    the shared inner-dispatch loop of the bucket-keyed CEP ops. A
    stable argsort keeps each entity's rows in frame order, so kernels
    that sort by ts themselves see exactly the rows their per-key form
    received."""
    import numpy as np

    u_all = pdf[key_col].to_numpy(dtype="int64")
    order = np.argsort(u_all, kind="stable")
    u_sorted = u_all[order]
    bounds = np.flatnonzero(np.concatenate(([True], u_sorted[1:] != u_sorted[:-1])))
    for seg_i, lo in enumerate(bounds):
        hi = bounds[seg_i + 1] if seg_i + 1 < len(bounds) else len(order)
        yield int(u_sorted[lo]), order[lo:hi]


def _consecutive_advance_batch(
    key0, pdf, carry, n, hi, ts_col, flag_col, within_seconds
):
    """One micro-batch advance of the strict-contiguity streak machine —
    module-level (like _sequence_advance_batch) so the differential
    fuzz harness can drive it directly on pandas frames. Returns
    (rows, carry): rows are (key, first_us, last_us, n_matched);
    carry is the trailing <= hi-1 flagged timestamps of an unbroken
    run ending the batch."""
    import numpy as np

    out = []
    # an empty batch carries no evidence either way: preserve the
    # streak state (returning [] here would wrongly reset an unbroken
    # run when the helper is driven directly with a zero-row frame)
    if len(pdf) == 0:
        return out, carry
    pdf = pdf.sort_values(ts_col, kind="stable")
    # micros end-to-end: second-truncated bounds would disagree
    # with the relational oracle on sub-second margins
    ts = ts_us(pdf[ts_col]).to_numpy()
    flags = pdf[flag_col].to_numpy(dtype=bool)
    run_id = np.cumsum(~flags)
    flagged = np.flatnonzero(flags)
    if len(flagged) == 0:
        return out, []
    rids = run_id[flagged]
    splits = np.flatnonzero(np.diff(rids)) + 1
    runs = np.split(ts[flagged], splits)
    T = runs[-1]
    for gi, run_ts in enumerate(runs):
        carried = 0
        if gi == 0 and flags[0] and carry:
            carried = len(carry)
            run_ts = np.concatenate([np.asarray(carry, dtype="int64"), run_ts])
        for m in range(n, hi + 1):
            if len(run_ts) >= m:
                # skip windows ending inside the carry: those
                # match positions already emitted last batch
                j0 = max(0, carried - m + 1)
                last = run_ts[m - 1 + j0 :]
                first = run_ts[j0 : len(run_ts) - m + 1]
                ok = (last - first) <= within_seconds * 1_000_000
                out.extend(
                    (key0, int(fb), int(lb), m)
                    for fb, lb in zip(first[ok], last[ok])
                )
        if gi == len(runs) - 1:
            T = run_ts
    carry = [int(x) for x in T[-(hi - 1) :]] if (flags[-1] and hi > 1) else []
    return out, carry


def detect_consecutive(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    flag_col: str,
    n: int,
    within_seconds: int,
    n_max: int | None = None,
) -> DataFrame:
    """Strict-contiguity CEP: n consecutive flagged events within T —
    LoginFailWithCep.scala:38-67 (Pattern.begin.next....within) and the
    ListState+timer variant LoginFail.scala:57-103.

    Sliding-streak semantics (Flink NFA parity): within an unbroken run
    of flagged events, EVERY event whose (n-1)-back flagged predecessor
    is within the time bound completes a match — overlapping matches all
    emit, and a bound violation slides the streak start forward instead
    of resetting it (so flags at t=0,20,40,55 with within=40, n=3 emit
    (0,40) AND (20,55); a reset-at-current would lose the second). Any
    non-flagged event breaks the run (strict contiguity).

    `n_max` is Flink's times(n, n_max) range quantifier (non-greedy):
    every streak length m in [n, n_max] emits its own match rows with
    n_matched = m — the NFA's branch-per-count behavior.

    Output first_ts/last_ts are epoch MICROS. Vectorized: runs fall out
    of cumsum(~flag); match positions are one shifted subtraction per
    run per count — no per-row Python.

    Keyed by hash bucket of the entity (buckets.py); entity sequences
    advance through the SAME _consecutive_advance_batch kernel in an
    in-process loop. State per bucket: the trailing <= n_max-1 flagged
    run timestamps of every active entity, flattened as (users, recent)
    parallel arrays.

    Input must arrive time-ordered per key (watermarked upstream, same
    as Flink with out-of-orderness 0)."""
    hi = n_max if n_max is not None else n
    if hi < n:
        raise ValueError("n_max must be >= n")

    def fn(key, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        carry = buckets.unflatten(*buckets.load(state, 2))
        out: list = []
        pdf = one_frame(pdfs)
        if pdf is not None:
            for u, seg in _bucket_segments(pdf, key_col):
                rows, c = _consecutive_advance_batch(
                    u, pdf.iloc[seg], carry.get(u, ([],))[0], n, hi,
                    ts_col, flag_col, within_seconds,
                )
                out.extend(rows)
                carry[u] = (c,)
        buckets.save(state, buckets.flatten(carry, 1))
        if out:
            yield pd.DataFrame(out, columns=[f.name for f in SEQ_OUT.fields])

    return buckets.by_bucket(
        df, "detect_consecutive", key_col, [ts_col, flag_col], fn, SEQ_OUT, _SEQ_STATE
    )


SEQUENCE_OUT = StructType(
    [
        StructField("key", LongType()),
        StructField("start_us", LongType()),
        StructField("end_us", LongType()),
    ]
)
_SEQUENCE_STATE = StructType(
    [
        # in-flight branches, flattened with a per-branch entity tag
        StructField("users", ArrayType(LongType())),
        StructField("firsts", ArrayType(LongType())),
        StructField("progress", ArrayType(LongType())),
        StructField("lasts", ArrayType(LongType())),
        StructField("var_ids", ArrayType(LongType())),
        # veto timestamps are ragged independently of branches, so they
        # carry their own entity tag
        StructField("veto_users", ArrayType(LongType())),
        StructField("vetoes", ArrayType(LongType())),
    ]
)


def _sequence_advance_batch(
    key0,
    pdf: pd.DataFrame,
    st: tuple | None,
    chains: list[tuple],
    step_cols: list[str],
    ts_col: str,
    veto_col: str | None,
    within_us: int,
) -> tuple[list[tuple], tuple]:
    """One micro-batch of the vectorized NFA advance (detect_sequence's
    core; module-level so the micro-benchmark test can drive it on a
    raw pandas frame). Takes and returns the keyed state as plain-list
    parallel arrays (firsts, progress, lasts, vetoes, var_ids); returns
    the completed-match rows for this batch.

    Because each in-flight branch advances on the FIRST step-s event
    strictly after its last-advance time, the whole advance is a
    per-(chain, step) `searchsorted` of all branch last-times into that
    step's sorted event-time array — O(chains x steps) numpy calls per
    batch instead of O(events x in-flight) Python iterations."""
    import numpy as np

    if st is not None:
        firsts = np.asarray(list(st[0] or []), dtype=np.int64)
        progress = np.asarray(list(st[1] or []), dtype=np.int64)
        lasts = np.asarray(list(st[2] or []), dtype=np.int64)
        vetoes = np.asarray(list(st[3] or []), dtype=np.int64)
        var_ids = np.asarray(list(st[4] or []), dtype=np.int64)
    else:
        firsts = progress = lasts = var_ids = np.empty(0, dtype=np.int64)
        vetoes = np.empty(0, dtype=np.int64)
    out: list[tuple] = []
    if len(pdf):
        pdf = pdf.sort_values(ts_col, kind="stable")
        # micros end-to-end (sub-second margins must agree with the
        # relational oracle)
        tsu = ts_us(pdf[ts_col]).to_numpy()
        # per step column: sorted event times where the flag is set
        step_ts = [tsu[pdf[c].to_numpy(dtype=bool)] for c in step_cols]
        if veto_col:
            batch_veto = tsu[pdf[veto_col].to_numpy(dtype=bool)]
            # strict (start, end) bounds make tie order irrelevant, so
            # the whole batch's vetoes can be merged upfront
            vetoes = np.sort(np.concatenate([vetoes, batch_veto]))
        starts = step_ts[0]
        batch_last = int(tsu[-1])
        keep_f, keep_p, keep_l, keep_v = [], [], [], []
        for vi, chain in enumerate(chains):
            if len(chain) == 1:
                # degenerate chain (every non-anchor step skipped):
                # each anchor event IS a complete match
                out.extend((key0, int(t), int(t)) for t in starts)
                continue
            sel = var_ids == vi
            f = np.concatenate([firsts[sel], starts])
            p = np.concatenate([progress[sel], np.ones(len(starts), dtype=np.int64)])
            last = np.concatenate([lasts[sel], starts])
            alive = np.ones(len(f), dtype=bool)
            for s in range(1, len(chain)):
                act = np.flatnonzero(alive & (p == s))
                if act.size == 0:
                    continue
                arr = step_ts[chain[s]]
                if len(arr) == 0:
                    continue
                # first step-s event STRICTLY after the branch's
                # last-advance time (the oracle's c.ts > prev.ts)
                j = np.searchsorted(arr, last[act], side="right")
                found = j < len(arr)
                nt = arr[np.minimum(j, len(arr) - 1)]
                # candidate advance past the horizon = the NFA saw an
                # expiring event first -> branch dies unmatched
                expired = found & (nt - f[act] > within_us)
                adv = found & ~expired
                last[act[adv]] = nt[adv]
                p[act[adv]] = s + 1
                alive[act[expired]] = False
            done = alive & (p == len(chain))
            if done.any():
                df_, de_ = f[done], last[done]
                if vetoes.size:
                    # vetoed iff any veto falls STRICTLY inside
                    # (start, completion)
                    n_in = np.searchsorted(vetoes, de_, side="left") - np.searchsorted(
                        vetoes, df_, side="right"
                    )
                    ok = n_in <= 0
                else:
                    ok = np.ones(int(done.sum()), dtype=bool)
                out.extend((key0, int(a), int(b)) for a, b in zip(df_[ok], de_[ok]))
            # in-flight survivors: unfinished and still inside the
            # horizon at batch end (an in-batch event past the horizon
            # would have expired them event-at-a-time)
            kept = alive & (p < len(chain)) & (batch_last - f <= within_us)
            keep_f.append(f[kept])
            keep_p.append(p[kept])
            keep_l.append(last[kept])
            keep_v.append(np.full(int(kept.sum()), vi, dtype=np.int64))
        firsts = np.concatenate(keep_f) if keep_f else np.empty(0, dtype=np.int64)
        progress = np.concatenate(keep_p) if keep_p else np.empty(0, dtype=np.int64)
        lasts = np.concatenate(keep_l) if keep_l else np.empty(0, dtype=np.int64)
        var_ids = np.concatenate(keep_v) if keep_v else np.empty(0, dtype=np.int64)
        if vetoes.size:
            vetoes = vetoes[vetoes >= batch_last - within_us]
    new_st = (
        [int(x) for x in firsts],
        [int(x) for x in progress],
        [int(x) for x in lasts],
        [int(x) for x in vetoes],
        [int(x) for x in var_ids],
    )
    return out, new_st


def detect_sequence(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    step_cols: list[str],
    within_seconds: int,
    veto_col: str | None = None,
    optional: list[bool] | None = None,
) -> DataFrame:
    """Generalized CEP sequence detection, relaxed contiguity (Flink's
    `followedBy` chain, LoginFailWithCep.scala/OrderTimeoutWithCEP.scala
    family): each boolean step column must match in order — other events
    may intervene — with the whole match inside `within_seconds`.

    `veto_col` is the notFollowedBy analog (OrderTimeoutWithCEP pattern
    family): a veto event strictly between a sequence's start and its
    completion kills that sequence. The check runs lazily at completion
    time against the recorded veto timestamps, so results are
    deterministic under same-timestamp ties regardless of arrival order
    (a veto AT the completion timestamp does not kill — matching the
    relational NOT EXISTS with strict bounds). Scope note vs Flink: the
    veto applies over the WHOLE open span (start, completion), which
    equals Flink's per-gap notFollowedBy for 2-step patterns and is the
    conjunction of all gaps for longer ones.

    Match mode is per-start (every step-0 event opens its own in-flight
    sequence; overlapping matches all emit) — the mode with a clean
    relational equivalent, so the LIVE streaming operator is
    oracle-checkable. Strict contiguity lives in detect_consecutive.

    `optional` marks steps as Flink's .optional() quantifier: each
    optional step splits the NFA into take/skip branches. Branches are
    enumerated as concrete chains at sequence-open time (2^k in-flight
    per start for k optional steps, k is 1-2 in practice), each chain
    following the same first-occurrence rule — so the output is exactly
    the UNION of the per-chain relational oracles. Two branches
    completing on different events are two distinct Flink matches and
    both emit; callers wanting set-of-(start,end) semantics (the
    relational UNION) apply distinct() downstream. Step 0 cannot be
    optional (a match needs an anchor).

    Keyed by hash bucket of the entity (buckets.py). State per bucket:
    entity-tagged parallel arrays of in-flight (start_us, progress,
    last_us, chain id) plus, separately tagged, veto timestamps inside
    the `within` horizon.
    In-flight count is bounded by step-0 events inside the horizon —
    the watermark-expired ones drop on every batch.

    Vectorized NFA advance (no per-event Python loop): because each
    in-flight branch advances on the FIRST step-s event strictly after
    its last-advance time, the whole advance is a per-(chain, step)
    `searchsorted` of all branch last-times into that step's sorted
    event-time array — O(chains x steps) numpy calls per batch instead
    of O(events x in-flight) Python iterations. Expiry (first candidate
    advance falls outside the `within` horizon), completion, and the
    strict (start, end) veto interval check are all computed as array
    masks; results are byte-identical to the event-at-a-time NFA (the
    test suite pins this against a pure-Python reference)."""
    import itertools

    n_steps = len(step_cols)
    within_us = within_seconds * 1_000_000
    opts = optional or [False] * n_steps
    if len(opts) != n_steps or (opts and opts[0]):
        raise ValueError("optional must align with step_cols; step 0 is mandatory")
    opt_idx = [i for i, o in enumerate(opts) if o]
    # concrete chains: one per subset of skipped optional steps
    chains = [
        tuple(i for i in range(n_steps) if i not in set(skip))
        for r in range(len(opt_idx) + 1)
        for skip in itertools.combinations(opt_idx, r)
    ]

    def fn(key, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        arrays = buckets.load(state, 7)
        # per entity: (firsts, progress, lasts, var_ids) and (vetoes,)
        branches = buckets.unflatten(*arrays[:5])
        vetoes = buckets.unflatten(*arrays[5:])
        out: list = []
        pdf = one_frame(pdfs)
        if pdf is not None:
            for u, seg in _bucket_segments(pdf, key_col):
                firsts, prog, lasts, var_ids = branches.get(u, ([], [], [], []))
                rows, (firsts, prog, lasts, vts, var_ids) = _sequence_advance_batch(
                    u, pdf.iloc[seg],
                    (firsts, prog, lasts, vetoes.get(u, ([],))[0], var_ids),
                    chains, step_cols, ts_col, veto_col, within_us,
                )
                out.extend(rows)
                branches[u] = (firsts, prog, lasts, var_ids)
                vetoes[u] = (vts,)
        buckets.save(state, buckets.flatten(branches, 4) + buckets.flatten(vetoes, 1))
        if out:
            yield pd.DataFrame(out, columns=[f.name for f in SEQUENCE_OUT.fields])

    return buckets.by_bucket(
        df,
        "detect_sequence",
        key_col,
        [ts_col, *step_cols] + ([veto_col] if veto_col else []),
        fn,
        SEQUENCE_OUT,
        _SEQUENCE_STATE,
    )


GATE_OUT = StructType(
    [
        StructField("key", LongType()),
        StructField("ts", LongType()),
        StructField("value", DoubleType()),
    ]
)
_GATE_STATE = StructType([StructField("open_until", LongType())])


def timer_gated_forward(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    kind_col: str,
    control_kind: str,
    data_kind: str,
    open_seconds: int,
) -> DataFrame:
    """Control-stream gating — _05_CoProcessFunctionTimers.java:26-82:
    a control event opens a per-key forwarding gate for N seconds (the
    reference registers a processing-time timer to close it); data
    events pass only while the gate is open.

    connect(CoProcessFunction) becomes one keyed stateful op over the
    union of both streams; the close-timer is simply the gate deadline
    carried in state and compared in event time."""

    def fn(key, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        import numpy as np

        (open_until,) = state.get if state.exists else (0,)
        out = []
        pdf = one_frame(pdfs)
        if pdf is not None:
            pdf = pdf.sort_values(ts_col, kind="stable")
            ts = (ts_us(pdf[ts_col]) // 1_000_000).to_numpy()
            kinds = pdf[kind_col].to_numpy()
            # gate deadline in effect at each row = running max of every
            # prior control's (ts + open) and the carried-in deadline —
            # one maximum.accumulate replaces the per-row loop
            cand = np.where(kinds == control_kind, ts + open_seconds, np.int64(-(2**62)))
            eff = np.maximum(np.maximum.accumulate(cand), np.int64(open_until))
            passing = (kinds == data_kind) & (ts < eff)
            if passing.any():
                vals = pdf["value"].to_numpy(dtype="float64")[passing]
                out.extend(
                    (key[0], int(t), float(v)) for t, v in zip(ts[passing], vals)
                )
            open_until = int(eff[-1])
        state.update((open_until,))
        if out:
            yield pd.DataFrame(out, columns=[f.name for f in GATE_OUT.fields])

    return keyed_process(df, [key_col], fn, GATE_OUT, _GATE_STATE)


TIMEOUT_OUT = StructType(
    [
        StructField("key", LongType()),
        StructField("start_ts", LongType()),
        StructField("end_ts", LongType()),
        StructField("status", StringType()),
        StructField("value", DoubleType()),
    ]
)
_TIMEOUT_STATE = StructType(
    [
        StructField("users", ArrayType(LongType())),
        StructField("start_ts", ArrayType(LongType())),
        StructField("start_values", ArrayType(DoubleType())),
    ]
)


def _match_advance_batch(
    ts_arr,
    kind_arr,
    val_arr,
    start_kind: str,
    end_kind: str,
    within_us: int,
    start_ts: int,
    start_value: float,
):
    """One sorted batch of the match-or-timeout alternating machine,
    vectorized (extracted so tests can pin it against an event-at-a-time
    reference — see tests/test_cep_vectorized.py).

    Deterministic event-order semantics (r7, the closed-horizon
    contract that makes the converged output batching-independent and
    therefore exactly SQL-expressible): every start's fate is a pure
    function of the NEXT start-or-end event of the same key —
      * next is an end  within the horizon -> emit ("matched", next_ts)
      * next is a start within the horizon -> overwritten, no row
      * next is beyond the horizon          -> emit ("timeout", s+T)
        in-batch (the event proves the watermark will pass s+T; the
        timer would emit the identical row between batches, so firing
        early here makes the converged output order-independent)
      * no next event in the batch          -> carried as pending; the
        EventTimeTimeout timer decides between batches.
    Rows not of start/end kind are ignored. Timestamps are int64
    MICROSECONDS (full parquet precision — truncating to seconds made
    the horizon compare diverge from a relational oracle). Returns
    (rows, carried) with rows = [(s_us, e_us, status, value)] and
    carried = the (start_us, start_value) pending after the batch
    (0, 0.0 when none)."""
    import numpy as np

    sel = np.flatnonzero((kind_arr == start_kind) | (kind_arr == end_kind))
    if sel.size == 0:
        return [], (start_ts, start_value)
    t = ts_arr[sel]
    v = val_arr[sel]
    is_start = kind_arr[sel] == start_kind
    out = []
    # resolve the carried pending against the batch's first machine event
    if start_ts > 0:
        t0 = int(t[0])
        if t0 - start_ts > within_us:
            out.append((start_ts, start_ts + within_us, "timeout", start_value))
        elif not is_start[0]:
            out.append((start_ts, t0, "matched", start_value))
        # else: an in-horizon start overwrites the carried one, no row
    # every batch start except the last has its next event in-batch:
    # classify all of them in one shot
    idx = np.flatnonzero(is_start[:-1])
    if idx.size:
        s_t, s_v, n_t = t[idx], v[idx], t[idx + 1]
        in_h = n_t - s_t <= within_us
        matched = in_h & ~is_start[idx + 1]
        timed_out = ~in_h
        emit = matched | timed_out
        e_t = np.where(matched, n_t, s_t + within_us)
        status = np.where(matched, "matched", "timeout")
        out.extend(
            (int(a), int(b), str(st), float(val))
            for a, b, st, val, em in zip(s_t, e_t, status, s_v, emit)
            if em
        )
    # pending after the batch: only a trailing start can be undecided
    if is_start[-1]:
        return out, (int(t[-1]), float(v[-1]))
    return out, (0, 0.0)


def match_or_timeout(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    kind_col: str,
    start_kind: str,
    end_kind: str,
    within_seconds: int,
) -> DataFrame:
    """Match-or-timeout — OrderTimeoutWithCEP.scala:38-71 / OrderTimeout.
    scala:50-127: a start event must be followed by an end event within
    T, else emit a timeout row.

    An EventTimeTimeout timer IS Flink's registerEventTimeTimer: the
    timeout branch fires when the watermark passes start_ts + T,
    exactly like onTimer. Requires withWatermark on the input stream.

    Keyed by hash bucket of the entity (buckets.py). State per bucket:
    the pending (start_ts, value) per entity as (users, start_ts,
    start_values) parallel arrays; per-entity sequences run through
    the SAME _match_advance_batch kernel in an in-process loop. Timer
    parity with a per-entity timer, batch by batch: entities WITH data
    decide their pendings from events alone (a per-entity timer does
    not fire in a batch where its key has data); every other pending
    emits iff deadline_ms < watermark, the per-key fire rule evaluated
    in the micro-batch its own timer would fire in. The bucket timer
    sits at the MIN pending deadline, so a no-data batch invokes the
    bucket iff at least one per-entity timer would fire.

    Output timestamps are int64 MICROSECONDS. The converged output is
    deterministic (batching-independent) — see _match_advance_batch —
    so a bounded run admits an exact relational oracle: per start, the
    LEAD start-or-end event within the horizon decides matched vs
    overwritten; otherwise timeout, emitted iff (start+T) in ms floors
    strictly below the achieved watermark (Spark fires event-time
    timers on `timeoutTimestamp < watermark`, both ms-floored)."""
    within_us = within_seconds * 1_000_000

    def fn(key, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        pend = {u: (st, sv) for u, st, sv in zip(*buckets.load(state, 3))}
        out = []
        seen: set = set()
        pdf = None if state.hasTimedOut else one_frame(pdfs)
        if pdf is not None:
            # deterministic order: ts, then kind ascending (stable
            # mergesort) so equal-ts start/end pairs always process
            # end-first, mirroring the oracle's ORDER BY ts, kind;
            # _bucket_segments' stable grouping sort by entity keeps the
            # (ts, kind) order inside each entity's segment
            pdf = pdf.sort_values([ts_col, kind_col], kind="mergesort")
            ts_all = ts_us(pdf[ts_col]).to_numpy()
            kind_all = pdf[kind_col].to_numpy()
            val_all = pdf["value"].to_numpy(dtype="float64")
            for u, seg in _bucket_segments(pdf, key_col):
                seen.add(u)
                rows, (st, sv) = _match_advance_batch(
                    ts_all[seg], kind_all[seg], val_all[seg],
                    start_kind, end_kind, within_us, *pend.get(u, (0, 0.0)),
                )
                out.extend((u, a, b, s, v) for a, b, s, v in rows)
                if st > 0:
                    pend[u] = (st, sv)
                else:
                    pend.pop(u, None)
        # pendings of entities without data this batch fire on the
        # per-key timer rule: deadline_ms < watermark
        wm_ms = state.getCurrentWatermarkMs()
        for u, (st, sv) in list(pend.items()):
            if u not in seen and (st + within_us) // 1_000 < wm_ms:
                out.append((u, st, st + within_us, "timeout", sv))
                del pend[u]
        users = list(pend)
        starts = [pend[u][0] for u in users]
        buckets.save(
            state,
            (users, starts, [pend[u][1] for u in users]),
            [(st + within_us) // 1_000 for st in starts],
        )
        if out:
            yield pd.DataFrame(out, columns=[f.name for f in TIMEOUT_OUT.fields])

    return buckets.by_bucket(
        df,
        "match_or_timeout",
        key_col,
        [ts_col, kind_col, "value"],
        fn,
        TIMEOUT_OUT,
        _TIMEOUT_STATE,
        GroupStateTimeout.EventTimeTimeout,
    )
