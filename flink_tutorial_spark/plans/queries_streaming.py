"""Streaming queries surfaced in the driver catalog: each runs a REAL
Structured Streaming query (file source -> stateful ops -> memory sink)
to completion and returns the materialized result.

Oracles exist wherever the streaming semantics are deterministic:
- complete-mode agg over a bounded stream == the batch aggregate
- append-mode windows emit exactly the windows closed by the final
  watermark (watermark == max event ts with delay 0)
- the count window processes one file-batch sorted by (ts) per key
- timer-emitting operators (match_or_timeout, left-outer join,
  blacklist) follow the closed-horizon contract: decide only rows whose
  deadline/horizon falls under the achieved watermark; the oracle
  filters identically.

The only remaining rows-only entry here is streaming_proctime_window
(wall-clock bucketing is inherently nondeterministic vs any
data-derived oracle).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_tutorial_spark import plan_capture
from flink_tutorial_spark.plans.catalog import query
from flink_tutorial_spark.plans.parity import dec_sum
from flink_tutorial_spark.streaming.run import (
    run_stream,
    run_to_memory,
    run_to_parquet,
    stream_table,
)


@query(
    "streaming_running_sum",
    oracle="""
SELECT event_type,
       CAST(count(*) AS BIGINT) AS cnt,
       CAST(round(sum(CAST(value AS DECIMAL(18,6))), 4) AS DOUBLE) AS sum_value
FROM events
GROUP BY event_type
""",
    tags=("streaming",),
)
def streaming_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """keyed.sum as a LIVE streaming query (StreamWordCount.java:37) —
    complete-mode continuous aggregation; the converged table equals the
    batch aggregate (the reference's update-stream trace day10/_02)."""
    events = stream_table(spark, sf_dir, "events")
    agg = events.groupBy("event_type").agg(
        F.count("*").alias("cnt"), dec_sum("value").alias("sum_value")
    )
    return run_to_memory(agg, "complete")


@query(
    "streaming_tumbling_window",
    oracle="""
SELECT date_trunc('hour', ts) AS window_start,
       event_type,
       CAST(count(*) AS BIGINT) AS cnt
FROM events
GROUP BY 1, 2
HAVING date_trunc('hour', ts) + INTERVAL 1 HOUR <= (SELECT max(ts) FROM events)
""",
    tags=("streaming", "window"),
)
def streaming_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time tumbling window, LIVE streaming append mode with
    watermark (EvenTimeTumblingWindowDemo.java:43): exactly the windows
    whose end <= final watermark (= max ts, delay 0) are emitted — the
    oracle states that contract in SQL."""
    events = stream_table(spark, sf_dir, "events")
    agg = (
        events.withWatermark("ts", "0 seconds")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("cnt"))
        .select(F.col("w.start").alias("window_start"), "event_type", "cnt")
    )
    return run_to_memory(agg, "append")


@query(
    "streaming_count_window",
    oracle="""
WITH seq AS (
    SELECT event_type, value,
           row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id) AS rn
    FROM events
), grouped AS (
    SELECT event_type AS key,
           CAST((rn - 1) // 100 + 1 AS BIGINT) AS window_seq,
           CAST(count(*) AS BIGINT) AS cnt,
           round(sum(value), 4) AS sum_value
    FROM seq
    GROUP BY 1, 2
)
SELECT key, window_seq, cnt, sum_value FROM grouped WHERE cnt = 100
""",
    tags=("streaming", "count-window"),
)
def streaming_count_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed COUNT window (countWindow(n), CountWindowDemo.java:32) as a
    LIVE applyInPandasWithState query — no Spark-native equivalent
    (SURVEY §2.6). Bounded stream arrives as one batch sorted by
    (ts, event_id) per key, so emitted windows are deterministic: every
    complete group of 100 events per key. Delegates to the shared
    vectorized operator in streaming/stateful.py."""
    from flink_tutorial_spark.streaming.stateful import count_window_sum

    events = stream_table(spark, sf_dir, "events")
    counted = count_window_sum(
        events, "event_type", "ts", "value", 100,
        sort_cols=["ts", "event_id"], round_to=4,
    )
    return run_to_memory(counted, "append")


@query(
    "cep_sequence_detect",
    oracle="""
WITH s AS (
    SELECT user_id, ts AS s_ts FROM events WHERE event_type = 'signup'
), m1 AS (
    SELECT s.user_id, s.s_ts,
           (SELECT min(c.ts) FROM events c
            WHERE c.user_id = s.user_id AND c.event_type = 'click'
              AND c.ts > s.s_ts AND c.ts <= s.s_ts + INTERVAL 6 HOUR) AS c_ts
    FROM s
), m2 AS (
    SELECT m1.user_id, m1.s_ts,
           (SELECT min(p.ts) FROM events p
            WHERE p.user_id = m1.user_id AND p.event_type = 'purchase'
              AND p.ts > m1.c_ts AND p.ts <= m1.s_ts + INTERVAL 6 HOUR) AS p_ts
    FROM m1 WHERE m1.c_ts IS NOT NULL
)
SELECT user_id, s_ts AS start_ts, p_ts AS end_ts
FROM m2 WHERE p_ts IS NOT NULL
""",
    tags=("streaming", "cep"),
)
def cep_sequence_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generalized CEP as a LIVE streaming query: signup ~> click ~>
    purchase within 6 hours per user, relaxed contiguity, per-start
    matching (every signup opens its own sequence) — the declarative
    `detect_sequence` operator (streaming/cep.py) with an exact
    relational oracle (correlated min-chain)."""
    from flink_tutorial_spark.streaming.cep import detect_sequence

    events = stream_table(spark, sf_dir, "events")
    flagged = events.select(
        "user_id",
        "ts",
        (F.col("event_type") == "signup").alias("is_signup"),
        (F.col("event_type") == "click").alias("is_click"),
        (F.col("event_type") == "purchase").alias("is_purchase"),
    )
    out = detect_sequence(
        flagged, "user_id", "ts", ["is_signup", "is_click", "is_purchase"], 6 * 3600
    )
    got = run_to_memory(out, "append")
    return got.select(
        F.col("key").alias("user_id"),
        F.timestamp_micros(F.col("start_us")).alias("start_ts"),
        F.timestamp_micros(F.col("end_us")).alias("end_ts"),
    )


@query(
    "streaming_match_or_timeout",
    oracle="""
WITH ev AS (
    SELECT user_id, ts, event_type, value FROM events
    WHERE event_type IN ('signup', 'purchase')
), wm AS (
    SELECT max(ts) AS w FROM ev
), nx AS (
    SELECT user_id, ts, event_type, value,
           lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_type) AS n_ts,
           lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_type)
               AS n_kind
    FROM ev
)
SELECT user_id,
       ts AS start_ts,
       CASE WHEN n_ts IS NOT NULL AND n_ts <= ts + INTERVAL 15 MINUTE
            THEN n_ts ELSE ts + INTERVAL 15 MINUTE END AS end_ts,
       CASE WHEN n_ts IS NOT NULL AND n_ts <= ts + INTERVAL 15 MINUTE
            THEN 'matched' ELSE 'timeout' END AS status,
       value
FROM nx, wm
WHERE event_type = 'signup'
  AND (CASE
         WHEN n_ts IS NOT NULL AND n_ts <= ts + INTERVAL 15 MINUTE
           THEN n_kind = 'purchase'
         WHEN n_ts IS NOT NULL THEN TRUE
         ELSE (epoch_us(ts) + 900000000) // 1000 < epoch_us(w) // 1000
       END)
""",
    tags=("streaming", "cep"),
)
def streaming_match_or_timeout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order match-or-timeout as a LIVE event-time-timer query
    (OrderTimeout.scala:50-127 / OrderTimeoutWithCEP.scala:38-71):
    signup must be followed by a purchase within 15 minutes, else the
    EventTimeTimeout branch (== onTimer) emits a timeout row after the
    watermark passes start+15min.

    Exact oracle via the closed-horizon determinism contract (r7, the
    streaming_left_outer_join recipe): each signup's fate is a pure
    function of the user's NEXT signup-or-purchase event — a purchase
    within the horizon matches, a signup within it overwrites (no row),
    anything later proves the timeout. A start with no successor times
    out iff its deadline ms-floors strictly below the achieved
    watermark (Spark fires event-time timers on
    `timeoutTimestamp < watermark`, both in ms), which the oracle's
    epoch_us(..)//1000 compare mirrors exactly."""
    from flink_tutorial_spark.streaming.cep import match_or_timeout

    events = stream_table(spark, sf_dir, "events")
    relevant = events.where(F.col("event_type").isin("signup", "purchase"))
    wm = relevant.withWatermark("ts", "0 seconds")
    out = match_or_timeout(wm, "user_id", "ts", "event_type", "signup", "purchase", 900)
    got = run_to_memory(out, "append")
    return got.select(
        F.col("key").alias("user_id"),
        F.timestamp_micros(F.col("start_ts")).alias("start_ts"),
        F.timestamp_micros(F.col("end_ts")).alias("end_ts"),
        "status",
        "value",
    )


@query(
    "cep_sequence_veto",
    oracle="""
WITH s AS (
    SELECT user_id, ts AS s_ts FROM events WHERE event_type = 'signup'
), m AS (
    SELECT s.user_id, s.s_ts,
           (SELECT min(p.ts) FROM events p
            WHERE p.user_id = s.user_id AND p.event_type = 'purchase'
              AND p.ts > s.s_ts AND p.ts <= s.s_ts + INTERVAL 6 HOUR) AS p_ts
    FROM s
)
SELECT user_id, s_ts AS start_ts, p_ts AS end_ts
FROM m
WHERE p_ts IS NOT NULL
  AND NOT EXISTS (SELECT 1 FROM events e
                  WHERE e.user_id = m.user_id AND e.event_type = 'error'
                    AND e.ts > m.s_ts AND e.ts < m.p_ts)
""",
    tags=("streaming", "cep"),
)
def cep_sequence_veto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CEP notFollowedBy as a LIVE streaming query: signup ~> purchase
    within 6 hours with NO error event strictly between them
    (Pattern.begin.notFollowedBy.followedBy — the declarative-unification
    gap VERDICT r1 flagged). Relational oracle: first-purchase chain +
    NOT EXISTS veto with strict bounds."""
    from flink_tutorial_spark.streaming.cep import detect_sequence

    events = stream_table(spark, sf_dir, "events")
    flagged = events.select(
        "user_id",
        "ts",
        (F.col("event_type") == "signup").alias("is_signup"),
        (F.col("event_type") == "purchase").alias("is_purchase"),
        (F.col("event_type") == "error").alias("is_error"),
    )
    out = detect_sequence(
        flagged, "user_id", "ts", ["is_signup", "is_purchase"], 6 * 3600,
        veto_col="is_error",
    )
    got = run_to_memory(out, "append")
    return got.select(
        F.col("key").alias("user_id"),
        F.timestamp_micros(F.col("start_us")).alias("start_ts"),
        F.timestamp_micros(F.col("end_us")).alias("end_ts"),
    )


@query(
    "cep_chain3",
    oracle="""
WITH v AS (
    SELECT user_id, ts AS t0 FROM events WHERE event_type = 'view'
), c AS (
    SELECT v.user_id, v.t0,
           (SELECT min(c.ts) FROM events c
            WHERE c.user_id = v.user_id AND c.event_type = 'click'
              AND c.ts > v.t0 AND c.ts <= v.t0 + INTERVAL 24 HOUR) AS t1
    FROM v
), p AS (
    SELECT c.user_id, c.t0,
           (SELECT min(p.ts) FROM events p
            WHERE p.user_id = c.user_id AND p.event_type = 'purchase'
              AND p.ts > c.t1 AND p.ts <= c.t0 + INTERVAL 24 HOUR) AS t2
    FROM c WHERE c.t1 IS NOT NULL
)
SELECT user_id, t0 AS start_ts, t2 AS end_ts FROM p WHERE t2 IS NOT NULL
""",
    tags=("streaming", "cep"),
)
def cep_chain3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-step relaxed-contiguity CEP chain as a LIVE streaming query:
    view ~> click ~> purchase within 24 hours (Pattern.begin.followedBy.
    followedBy — the generalized detect_sequence at depth > 2). Oracle:
    nested first-occurrence chain with strict step ordering and the
    whole match inside the bound — exactly the operator's per-start
    advance rule (first matching event strictly later than the previous
    step, expiry at start + within)."""
    from flink_tutorial_spark.streaming.cep import detect_sequence

    events = stream_table(spark, sf_dir, "events")
    flagged = events.select(
        "user_id",
        "ts",
        (F.col("event_type") == "view").alias("is_view"),
        (F.col("event_type") == "click").alias("is_click"),
        (F.col("event_type") == "purchase").alias("is_purchase"),
    )
    out = detect_sequence(
        flagged, "user_id", "ts", ["is_view", "is_click", "is_purchase"], 24 * 3600
    )
    got = run_to_memory(out, "append")
    return got.select(
        F.col("key").alias("user_id"),
        F.timestamp_micros(F.col("start_us")).alias("start_ts"),
        F.timestamp_micros(F.col("end_us")).alias("end_ts"),
    )


@query(
    "streaming_times_range",
    oracle="""
WITH seq AS (
    SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
    FROM events
), fails AS (
    SELECT user_id, ts, rn FROM seq WHERE event_type = 'error'
), lagged AS (
    SELECT user_id, ts, rn,
           lag(rn, 1) OVER (PARTITION BY user_id ORDER BY rn) AS rn2,
           lag(ts, 1) OVER (PARTITION BY user_id ORDER BY rn) AS ts2,
           lag(rn, 2) OVER (PARTITION BY user_id ORDER BY rn) AS rn3,
           lag(ts, 2) OVER (PARTITION BY user_id ORDER BY rn) AS ts3
    FROM fails
)
SELECT user_id, ts2 AS first_ts, ts AS last_ts, CAST(2 AS BIGINT) AS n_matched
FROM lagged WHERE rn2 = rn - 1 AND ts - ts2 <= INTERVAL 2 HOUR
UNION ALL
SELECT user_id, ts3 AS first_ts, ts AS last_ts, CAST(3 AS BIGINT) AS n_matched
FROM lagged WHERE rn3 = rn - 2 AND ts - ts3 <= INTERVAL 2 HOUR
""",
    tags=("streaming", "cep"),
)
def streaming_times_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """times(2,3).consecutive() as a LIVE streaming query — Flink's
    range quantifier (non-greedy): every unbroken error streak of length
    2 AND of length 3 within 2 hours emits its own match, overlapping
    positions included. Oracle: one lag-window arm per count, UNION ALL
    (the arms are disjoint via n_matched)."""
    from flink_tutorial_spark.streaming.cep import detect_consecutive

    events = stream_table(spark, sf_dir, "events")
    flagged = events.select(
        "user_id", "ts", (F.col("event_type") == "error").alias("is_err")
    )
    out = detect_consecutive(
        flagged, "user_id", "ts", "is_err", n=2, within_seconds=7200, n_max=3
    )
    got = run_to_memory(out, "append")
    return got.select(
        F.col("key").alias("user_id"),
        F.timestamp_micros(F.col("first_ts")).alias("first_ts"),
        F.timestamp_micros(F.col("last_ts")).alias("last_ts"),
        "n_matched",
    )


@query(
    "streaming_times_greedy",
    oracle="""
WITH seq AS (
    SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
    FROM events
), fails AS (
    SELECT user_id, ts, rn FROM seq WHERE event_type = 'error'
), lagged AS (
    SELECT user_id, ts, rn,
           lag(rn, 1) OVER (PARTITION BY user_id ORDER BY rn) AS rn2,
           lag(ts, 1) OVER (PARTITION BY user_id ORDER BY rn) AS ts2,
           lag(rn, 2) OVER (PARTITION BY user_id ORDER BY rn) AS rn3,
           lag(ts, 2) OVER (PARTITION BY user_id ORDER BY rn) AS ts3
    FROM fails
), arms AS (
    SELECT user_id, ts2 AS first_ts, ts AS last_ts, CAST(2 AS BIGINT) AS n_matched
    FROM lagged WHERE rn2 = rn - 1 AND ts - ts2 <= INTERVAL 2 HOUR
    UNION ALL
    SELECT user_id, ts3 AS first_ts, ts AS last_ts, CAST(3 AS BIGINT) AS n_matched
    FROM lagged WHERE rn3 = rn - 2 AND ts - ts3 <= INTERVAL 2 HOUR
)
SELECT user_id, first_ts, last_ts, n_matched
FROM arms
QUALIFY row_number() OVER (PARTITION BY user_id, first_ts
                           ORDER BY n_matched DESC) = 1
""",
    tags=("streaming", "cep"),
)
def streaming_times_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """times(2,3).greedy() — for each match start, only the LONGEST
    streak emits (Flink's greedy quantifier consumes as many events as
    possible before completing). Mapping: the non-greedy range operator
    emits every count eagerly in append mode (a greedy match is not
    knowable until the streak ends), and greediness is the per-
    (key, first_ts) max-count filter over the converged result — the
    same reduction the oracle states with one QUALIFY."""
    from pyspark.sql import Window

    from flink_tutorial_spark.streaming.cep import detect_consecutive

    events = stream_table(spark, sf_dir, "events")
    flagged = events.select(
        "user_id", "ts", (F.col("event_type") == "error").alias("is_err")
    )
    out = detect_consecutive(
        flagged, "user_id", "ts", "is_err", n=2, within_seconds=7200, n_max=3
    )
    got = run_to_memory(out, "append")
    w = Window.partitionBy("key", "first_ts").orderBy(F.desc("n_matched"))
    return (
        got.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") == 1)
        .select(
            F.col("key").alias("user_id"),
            F.timestamp_micros(F.col("first_ts")).alias("first_ts"),
            F.timestamp_micros(F.col("last_ts")).alias("last_ts"),
            "n_matched",
        )
    )


@query(
    "cep_optional_step",
    oracle="""
WITH v AS (
    SELECT user_id, ts AS t0 FROM events WHERE event_type = 'view'
), take1 AS (
    SELECT v.user_id, v.t0,
           (SELECT min(c.ts) FROM events c
            WHERE c.user_id = v.user_id AND c.event_type = 'click'
              AND c.ts > v.t0 AND c.ts <= v.t0 + INTERVAL 12 HOUR) AS t1
    FROM v
), take2 AS (
    SELECT user_id, t0,
           (SELECT min(p.ts) FROM events p
            WHERE p.user_id = take1.user_id AND p.event_type = 'purchase'
              AND p.ts > take1.t1 AND p.ts <= take1.t0 + INTERVAL 12 HOUR) AS t2
    FROM take1 WHERE t1 IS NOT NULL
), skp AS (
    SELECT v.user_id, v.t0,
           (SELECT min(p.ts) FROM events p
            WHERE p.user_id = v.user_id AND p.event_type = 'purchase'
              AND p.ts > v.t0 AND p.ts <= v.t0 + INTERVAL 12 HOUR) AS t2
    FROM v
)
SELECT user_id, t0 AS start_ts, t2 AS end_ts FROM take2 WHERE t2 IS NOT NULL
UNION
SELECT user_id, t0 AS start_ts, t2 AS end_ts FROM skp WHERE t2 IS NOT NULL
""",
    tags=("streaming", "cep"),
)
def cep_optional_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flink .optional() as a LIVE streaming query: view ~> click
    (optional) ~> purchase within 12 hours — the NFA's take/skip
    branches enumerated as concrete chains inside detect_sequence.
    Oracle: UNION (distinct) of the 3-step and 2-step first-occurrence
    chains; the Spark side applies distinct() because two branches
    converging on the same purchase are two Flink matches but one
    relational row."""
    from flink_tutorial_spark.streaming.cep import detect_sequence

    events = stream_table(spark, sf_dir, "events")
    flagged = events.select(
        "user_id",
        "ts",
        (F.col("event_type") == "view").alias("is_view"),
        (F.col("event_type") == "click").alias("is_click"),
        (F.col("event_type") == "purchase").alias("is_purchase"),
    )
    out = detect_sequence(
        flagged, "user_id", "ts", ["is_view", "is_click", "is_purchase"],
        12 * 3600, optional=[False, True, False],
    )
    got = run_to_memory(out, "append")
    return got.select(
        F.col("key").alias("user_id"),
        F.timestamp_micros(F.col("start_us")).alias("start_ts"),
        F.timestamp_micros(F.col("end_us")).alias("end_ts"),
    ).distinct()


def _ts_midpoint(spark: SparkSession, sf_dir: str, events: DataFrame):
    """Midpoint of events.ts for the on-time/late split — from the
    parquet footer min/max stats (driver-side metadata read, no Spark
    job; the exact split point is arbitrary, any mid value yields the
    same converged result). Falls back to a Spark agg when stats are
    absent."""
    import datetime
    import os

    try:
        import pyarrow.parquet as pq

        md = pq.ParquetFile(os.path.join(sf_dir, "events.parquet")).metadata
        idx = next(
            i for i in range(md.num_columns)
            if md.row_group(0).column(i).path_in_schema == "ts"
        )
        lo = min(md.row_group(g).column(idx).statistics.min for g in range(md.num_row_groups))
        hi = max(md.row_group(g).column(idx).statistics.max for g in range(md.num_row_groups))
        if isinstance(lo, datetime.datetime):  # nanos surface as datetimes
            return lo + (hi - lo) / 2
        # raw int64 nanos -> micros -> naive datetime (matches load_table)
        mid_us = (lo // 1000) + ((hi // 1000) - (lo // 1000)) // 2
        return datetime.datetime.fromtimestamp(
            mid_us / 1_000_000, datetime.timezone.utc
        ).replace(tzinfo=None)  # naive UTC == session tz (session.py:65)
    except Exception:
        lo, hi = events.agg(F.min("ts"), F.max("ts")).first()
        return lo + (hi - lo) / 2


@query(
    "streaming_late_topn",
    oracle="""
WITH counts AS (
    SELECT date_trunc('hour', ts) AS window_start,
           event_type AS item_key,
           CAST(count(*) AS BIGINT) AS cnt
    FROM events
    GROUP BY 1, 2
), ranked AS (
    SELECT window_start, item_key, cnt,
           row_number() OVER (
               PARTITION BY window_start ORDER BY cnt DESC, item_key ASC
           ) AS rank
    FROM counts
)
SELECT window_start, CAST(rank AS INT) AS rank, item_key, cnt
FROM ranked WHERE rank <= 3
""",
    tags=("streaming", "lateness", "topn"),
)
def streaming_late_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-updating Top-N (NetworkFlow.scala:49-148) as a LIVE two-epoch
    streaming query: the newer half of `events` arrives first, then the
    older half arrives LATE (behind the epoch-1 watermark) — the update-
    mode window count re-fires every revised window inside the
    allowedLateness horizon and LateTopNSink re-ranks exactly the
    windows each epoch touched. The converged ranking equals the batch
    Top-3 per hourly window (deterministic: the horizon covers the whole
    stream, so revisions change WHEN rows count, never WHETHER)."""
    import glob as _glob
    import os

    from flink_tutorial_spark.operators.dedup import scratch_dir
    from flink_tutorial_spark.session import load_table
    from flink_tutorial_spark.streaming.lateness import (
        LateTopNSink,
        late_window_counts,
    )

    events = load_table(spark, sf_dir, "events").select("ts", "event_type")
    cutoff = _ts_midpoint(spark, sf_dir, events)

    root = scratch_dir()
    src = os.path.join(root, "src")
    os.makedirs(src, exist_ok=True)
    # two single-file batches, written in arrival order (file source
    # triggers by mtime): epoch 0 = newer half, epoch 1 = older half
    # (all of it late vs the epoch-0 watermark). One partitioned job
    # writes both: repartition on the epoch flag -> one file per epoch.
    stage = os.path.join(root, "_staged")
    (
        events.withColumn("_late", (F.col("ts") < F.lit(cutoff)).cast("int"))
        .repartition(2, "_late")
        .write.mode("overwrite")
        .partitionBy("_late")
        .parquet(stage)
    )
    for i, flag in enumerate((0, 1)):  # arrival order: on-time, then late
        part = _glob.glob(os.path.join(stage, f"_late={flag}", "part-*.parquet"))[0]
        os.replace(part, os.path.join(src, f"b{i:03d}.parquet"))

    stream = (
        spark.readStream.format("parquet")
        .schema(events.schema)
        .option("maxFilesPerTrigger", "1")
        .load(src)
    )
    agg = late_window_counts(stream, "event_type", "ts", "1 hour", "400 days")
    sink = LateTopNSink(spark, os.path.join(root, "topn"), n=3, n_buckets=4)

    def fb(batch_df: DataFrame, epoch_id: int) -> None:
        sink(
            batch_df.select(
                "window_start", F.col("event_type").alias("item_key"), "cnt"
            ),
            epoch_id,
        )

    run_stream(agg.writeStream.outputMode("update").foreachBatch(fb))
    return sink.read().select(
        "window_start", F.col("rank").cast("int").alias("rank"), "item_key", "cnt"
    )


@query(
    "streaming_login_streak3",
    oracle="""
WITH seq AS (
    SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
    FROM events
), fails AS (
    SELECT user_id, ts, rn,
           lag(rn, 2) OVER (PARTITION BY user_id ORDER BY rn) AS rn3,
           lag(ts, 2) OVER (PARTITION BY user_id ORDER BY rn) AS ts3
    FROM seq WHERE event_type = 'error'
)
SELECT user_id, ts3 AS first_ts, ts AS last_ts, CAST(3 AS BIGINT) AS n_matched
FROM fails
WHERE rn3 = rn - 2 AND ts - ts3 <= INTERVAL 2 HOUR
""",
    tags=("streaming", "cep"),
)
def streaming_login_streak3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """times(3).consecutive() as a LIVE streaming query: three errors in
    an unbroken run (any other event breaks it) within 2 hours, sliding-
    streak overlap semantics — the streaming twin of the batch
    login_fail_streak3 oracle, now hard-checked by the driver at n=3
    (the exact gap r1 ADVICE flagged as untested beyond n=2)."""
    from flink_tutorial_spark.streaming.cep import detect_consecutive

    events = stream_table(spark, sf_dir, "events")
    flagged = events.select(
        "user_id", "ts", (F.col("event_type") == "error").alias("is_err")
    )
    out = detect_consecutive(flagged, "user_id", "ts", "is_err", n=3, within_seconds=7200)
    got = run_to_memory(out, "append")
    return got.select(
        F.col("key").alias("user_id"),
        F.timestamp_micros(F.col("first_ts")).alias("first_ts"),
        F.timestamp_micros(F.col("last_ts")).alias("last_ts"),
        "n_matched",
    )


@query(
    "streaming_dedup",
    oracle="""
SELECT event_id, user_id, event_type FROM events
""",
    tags=("streaming", "dedup"),
)
def streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exactly-once deduplication (the Flink dedup pattern /
    at-least-once ingestion repair): the source unioned with itself —
    every event arrives twice — deduped in-stream on event_id with
    keyed state, emitting each key's first arrival only. The converged
    output is exactly the distinct event set, stated relationally by
    the oracle (event_id is unique in the source, so dedup of the
    doubled stream reproduces the table)."""
    events = stream_table(spark, sf_dir, "events")
    doubled = events.select("event_id", "user_id", "event_type").unionByName(
        events.select("event_id", "user_id", "event_type")
    )
    out = doubled.dropDuplicates(["event_id"])
    return run_to_memory(out, "append")


@query(
    "streaming_dedup_within_watermark",
    oracle="""
SELECT event_id, user_id, event_type FROM events
""",
    tags=("streaming", "dedup", "watermark"),
)
def streaming_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """State-BOUNDED streaming dedup (dropDuplicatesWithinWatermark —
    the variant you actually run on an unbounded stream): plain
    dropDuplicates keeps every key seen forever, so its state grows
    with total input; within-watermark dedup keeps a key only until
    the watermark passes its event time + delay, bounding state by the
    duplicate-arrival horizon (here 10 minutes) regardless of stream
    length — the production contract for at-least-once ingestion
    repair at 100x volumes.

    Exactness on the bounded run: the doubled stream delivers each
    duplicate at the SAME event time as its original, always inside
    any horizon, so first arrivals emit and every duplicate drops —
    the converged output is exactly the distinct event set."""
    events = stream_table(spark, sf_dir, "events")
    doubled = events.select("event_id", "user_id", "event_type", "ts").unionByName(
        events.select("event_id", "user_id", "event_type", "ts")
    )
    out = (
        doubled.withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    return run_to_memory(out, "append").select("event_id", "user_id", "event_type")


@query(
    "streaming_interval_join",
    oracle="""
SELECT s.event_id AS signup_id, p.event_id AS purchase_id,
       s.user_id, p.value AS purchase_value
FROM (SELECT * FROM events WHERE event_type = 'signup') s
JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
  ON s.user_id = p.user_id
 AND p.ts >= s.ts - INTERVAL 5 MINUTE
 AND p.ts <= s.ts + INTERVAL 10 MINUTE
""",
    tags=("streaming", "join"),
)
def streaming_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STREAM interval join, LIVE (IntervalJoinDemo.java:58-68 as
    the reference runs it — two unbounded keyed streams, state bounded
    by watermark + interval width): the same equi-key + time-range plan
    as the batch `interval_join`, executed by the streaming join
    operator with per-side watermarks. On a bounded stream every
    in-interval pair emits by the trailing batch, so the converged
    result equals the batch oracle row-for-row."""
    events = stream_table(spark, sf_dir, "events")
    s = (
        events.where(F.col("event_type") == "signup")
        .select(
            F.col("event_id").alias("signup_id"),
            F.col("user_id").alias("s_user"),
            F.col("ts").alias("s_ts"),
        )
        .withWatermark("s_ts", "1 hour")
    )
    p = (
        events.where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    j = s.join(
        p,
        (F.col("s_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("s_ts") - F.expr("INTERVAL 5 MINUTES"))
        & (F.col("p_ts") <= F.col("s_ts") + F.expr("INTERVAL 10 MINUTES")),
    )
    got = run_to_memory(j, "append")
    return got.select(
        "signup_id", "purchase_id", F.col("s_user").alias("user_id"), "purchase_value"
    )


@query(
    "streaming_left_outer_join",
    oracle="""
WITH s AS (SELECT * FROM events WHERE event_type = 'signup'),
     p AS (SELECT * FROM events WHERE event_type = 'purchase')
SELECT s.event_id AS signup_id, s.user_id, s.ts AS signup_ts,
       p.event_id AS purchase_id, p.value AS purchase_value
FROM s LEFT JOIN p
  ON s.user_id = p.user_id
 AND p.ts >= s.ts
 AND p.ts <= s.ts + INTERVAL 10 MINUTE
WHERE s.ts + INTERVAL 10 MINUTE <
      LEAST((SELECT max(ts) FROM s), (SELECT max(ts) FROM p))
""",
    tags=("streaming", "join", "outer"),
)
def streaming_left_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STREAM left-outer join, LIVE (TumblingWindowLeftJoinDemo.
    java:56-84 — the reference coGroups both window buffers and hand-
    emits (left, null) when the right buffer is empty): Spark's native
    left-outer stream-stream join does exactly that — an unmatched left
    row is held in state until the watermark passes its join horizon
    (s_ts + 10 min), then emitted null-padded in a later micro-batch
    (here the trailing no-data batch that follows the final watermark
    update).

    Determinism contract (same closed-window convention as
    streaming_session_window): each side's watermark node sits after
    its event_type filter, and the query watermark is their MIN, so
    only left rows whose horizon closed under that achieved watermark
    have their matched-vs-null status decided — the result and the
    oracle both filter to `s_ts + 10min < least(max signup ts, max
    purchase ts)`. On an unbounded stream the same plan runs with no
    filter; every left row's status resolves when the watermark passes
    it. State is bounded by the interval width per side."""
    events = stream_table(spark, sf_dir, "events")
    s = (
        events.where(F.col("event_type") == "signup")
        .select(
            F.col("event_id").alias("signup_id"),
            F.col("user_id").alias("s_user"),
            F.col("ts").alias("s_ts"),
        )
        .withWatermark("s_ts", "0 seconds")
    )
    p = (
        events.where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("p_ts", "0 seconds")
    )
    j = s.join(
        p,
        (F.col("s_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("s_ts"))
        & (F.col("p_ts") <= F.col("s_ts") + F.expr("INTERVAL 10 MINUTES")),
        "leftOuter",
    )
    got = run_to_memory(j, "append")
    # achieved watermark on the bounded run = min over both sides' max
    # event time (computed batch-side; the streaming result's status is
    # decided only inside this horizon)
    from flink_tutorial_spark.session import load_table

    ev = load_table(spark, sf_dir, "events")
    bound = (
        ev.groupBy()
        .agg(
            F.least(
                F.max(F.when(F.col("event_type") == "signup", F.col("ts"))),
                F.max(F.when(F.col("event_type") == "purchase", F.col("ts"))),
            ).alias("wm")
        )
        .first()["wm"]
    )
    return got.where(
        F.col("s_ts") + F.expr("INTERVAL 10 MINUTES") < F.lit(bound)
    ).select(
        "signup_id",
        F.col("s_user").alias("user_id"),
        F.col("s_ts").alias("signup_ts"),
        "purchase_id",
        "purchase_value",
    )


@query(
    "streaming_session_window",
    oracle="""
WITH seq AS (
    SELECT user_id, ts, value,
           CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                     > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS brk
    FROM events
), sess AS (
    SELECT user_id, ts, value,
           sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                          ROWS UNBOUNDED PRECEDING) AS sid
    FROM seq
), agg AS (
    SELECT user_id, sid,
           min(ts) AS session_start,
           max(ts) + INTERVAL 30 MINUTE AS session_end,
           CAST(count(*) AS BIGINT) AS cnt,
           CAST(round(sum(CAST(value AS DECIMAL(18,6))), 4) AS DOUBLE) AS sum_value
    FROM sess GROUP BY user_id, sid
)
SELECT user_id, session_start, session_end, cnt, sum_value
FROM agg
WHERE session_end <= (SELECT max(ts) FROM events)
""",
    tags=("streaming", "window", "session"),
)
def streaming_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time session window (gap 30 min), LIVE append mode
    (EventTimeSessionWindowDemo.java:48-57): merging session state per
    key, a session emits when the watermark passes its end (last event
    + gap). With watermark = final max ts, exactly the sessions whose
    end <= max ts close — each key's trailing session legitimately
    stays open, and the oracle states the same contract via
    gaps-and-islands sessionization + the end <= max(ts) filter."""
    events = stream_table(spark, sf_dir, "events")
    agg = (
        events.withWatermark("ts", "0 seconds")
        .groupBy(
            F.session_window("ts", "30 minutes").alias("w"), F.col("user_id")
        )
        .agg(F.count("*").alias("cnt"), dec_sum("value").alias("sum_value"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "cnt",
            "sum_value",
        )
    )
    return run_to_memory(agg, "append")


@query(
    "streaming_hot_items",
    oracle="""
WITH starts AS (
    SELECT unnest(generate_series(
        (SELECT date_trunc('hour', min(ts)) - INTERVAL 5 HOUR FROM events),
        (SELECT date_trunc('hour', max(ts)) FROM events),
        INTERVAL 1 HOUR)) AS window_start
), closed AS (
    -- the stream is filtered to views BEFORE the watermark, so the
    -- final watermark (and the closed-window set) follows max VIEW ts
    SELECT window_start FROM starts
    WHERE window_start + INTERVAL 6 HOUR
          <= (SELECT max(ts) FROM events WHERE event_type = 'view')
), counts AS (
    SELECT s.window_start,
           CAST(json_extract_string(e.props, '$.k') AS INT) AS item_id,
           count(*) AS cnt
    FROM events e
    JOIN closed s
      ON e.ts >= s.window_start AND e.ts < s.window_start + INTERVAL 6 HOUR
    WHERE e.event_type = 'view'
    GROUP BY 1, 2
), ranked AS (
    SELECT *,
           CAST(row_number() OVER (
               PARTITION BY window_start ORDER BY cnt DESC, item_id) AS INT) AS rank
    FROM counts
)
SELECT window_start, item_id, cnt, rank
FROM ranked WHERE rank <= 5
""",
    tags=("streaming", "window", "topn", "flagship"),
)
def streaming_hot_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship HotItems pipeline LIVE (HotItems.scala:47-136 as the
    reference actually runs it — an unbounded stream): sliding-window
    count in append mode (a window emits when the watermark passes its
    end — Flink's onTimer at windowEnd), then the Top-5 rank over each
    CLOSED window. The oracle is the batch flagship restricted to
    closed windows (end <= final watermark = max ts)."""
    from pyspark.sql import Window

    events = stream_table(spark, sf_dir, "events")
    views = (
        events.where(F.col("event_type") == "view")
        .withColumn("item_id", F.get_json_object("props", "$.k").cast("int"))
        .withWatermark("ts", "0 seconds")
    )
    agg = (
        views.groupBy(F.window("ts", "6 hours", "1 hour").alias("w"), "item_id")
        .agg(F.count("*").alias("cnt"))
        .select(F.col("w.start").alias("window_start"), "item_id", "cnt")
    )
    got = run_to_memory(agg, "append")
    w = Window.partitionBy("window_start").orderBy(F.desc("cnt"), F.asc("item_id"))
    return (
        got.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 5)
        .select("window_start", "item_id", "cnt", F.col("rank").cast("int").alias("rank"))
    )


#: streaming_adclick_onepass: first-click filter per (user, ad, day),
#: hourly per-ad counts over the closed horizon, one warning per crossing
_ADCLICK_ORACLE = """
WITH c AS (
    SELECT user_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS item_id,
           ts, event_id,
           row_number() OVER (
               PARTITION BY user_id,
                            CAST(json_extract_string(props, '$.k') AS BIGINT),
                            date_trunc('day', ts)
               ORDER BY ts, event_id) AS rk
    FROM events WHERE event_type = 'click'
), wm AS (
    -- the downstream window agg's watermark node sits on the MAIN
    -- channel (post-filter), so closed windows follow max main-row ts
    SELECT max(ts) AS w FROM c WHERE rk <= 1
), main AS (
    SELECT time_bucket(INTERVAL 1 HOUR, ts) + INTERVAL 1 HOUR AS wend,
           item_id, CAST(count(*) AS BIGINT) AS cnt
    FROM c WHERE rk <= 1
    GROUP BY 1, 2
)
SELECT 'main' AS channel, wend AS ts, item_id,
       CAST(NULL AS BIGINT) AS user_id, cnt
FROM main WHERE wend <= (SELECT w FROM wm)
UNION ALL
SELECT 'warning' AS channel, ts, item_id, user_id, CAST(NULL AS BIGINT) AS cnt
FROM c WHERE rk = 2
"""


@query(
    "streaming_adclick_onepass",
    oracle=_ADCLICK_ORACLE,
    tags=("streaming", "cep", "business", "side-output"),
)
def streaming_adclick_onepass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ad-click blacklist with its warning side-output as a ONE-PASS
    foreachBatch fan-out — the reference's side-output topology
    (SideOutputDemo.java:22-50, AdClickAnalysis.scala:39-123: ONE
    keyed filter, two output channels). A keyed stateful filter
    (streaming/stateful.blacklist_filter) passes each (user, ad, day)'s
    first MAX_CLICKS clicks, tags ONE warning on the crossing click and
    suppresses the rest; the daily reset is the day key dimension and
    EventTimeTimeout GCs the state. The filter runs ONCE per
    micro-batch; the persisted batch fans to two sinks:

    (a) main channel -> hourly per-ad counts, ADDITIVE, merged through
        EpochLedgerMergeAggSink (counts sum across epochs; the
        per-bucket epoch ledger makes replays exact), plus the
        main-channel event-time high watermark — the oracle's
        closed-window predicate verbatim (a window emits once max
        main-channel ts reaches its end);
    (b) warning channel -> parquet append, replay-deduped on read (one
        warning per (user, ad, day) crossing — naturally keyed).

    Hash-exactness against the oracle proves ledger-merged hourly cells
    == the closed-window counts, and the warning channel byte-identical.
    Scale shape: one scan, one stateful-filter pass, epoch cost ∝ dirty
    hour-buckets; state bounded as in blacklist_filter (~2 days of
    active (user, ad) pairs). The chained engine topology
    (applyInPandasWithState -> re-watermark -> windowed agg) is pinned
    by tests/test_streaming.py, not the catalog."""
    from flink_tutorial_spark.operators.dedup import scratch_dir
    from flink_tutorial_spark.sinks.foreach import (
        EpochLedgerMergeAggSink,
        EventTimeHighWatermark,
    )
    from flink_tutorial_spark.streaming.run import run_fanout
    from flink_tutorial_spark.streaming.stateful import blacklist_filter

    MAX_CLICKS = 1
    events = stream_table(spark, sf_dir, "events")
    clicks = (
        events.where(F.col("event_type") == "click")
        .withColumn("item_id", F.get_json_object("props", "$.k").cast("long"))
        .withColumn("day", F.date_trunc("day", F.col("ts")))
        .withWatermark("ts", "0 seconds")
    )
    both = blacklist_filter(clicks, "user_id", "item_id", "ts", "day", MAX_CLICKS)

    base = scratch_dir()
    warn_dir = os.path.join(base, "warn")
    cnt_sink = EpochLedgerMergeAggSink(
        spark,
        os.path.join(base, "cnt"),
        key_cols=["ts", "item_id"],
        agg_exprs=[F.sum("cnt").cast("long").alias("cnt")],
    )
    hwm = EventTimeHighWatermark(os.path.join(base, "hwm"))

    def main_sink(bdf: DataFrame, eid: int) -> None:
        m = bdf.where(F.col("channel") == "main")
        part = m.groupBy(
            (F.date_trunc("hour", "ts") + F.expr("INTERVAL 1 HOUR")).alias("ts"),
            "item_id",
        ).agg(F.count("*").cast("long").alias("cnt"))
        cnt_sink(part, eid)
        hwm.update(m, "ts")

    def warn_sink(bdf: DataFrame, eid: int) -> None:
        bdf.where(F.col("channel") == "warning").select(
            "ts", "item_id", "user_id"
        ).write.mode("append").parquet(warn_dir)

    run_fanout(both, [main_sink, warn_sink])

    # closed windows: wend <= max main-channel ts (inclusive, the
    # oracle's `wend <= (SELECT w FROM wm)`)
    hi = hwm.max_us if hwm.max_us is not None else -1
    main_rows = (
        cnt_sink.read()
        .where(F.unix_micros(F.col("ts")) <= F.lit(hi))
        .select(
            F.lit("main").alias("channel"),
            "ts",
            "item_id",
            F.lit(None).cast("long").alias("user_id"),
            "cnt",
        )
    )
    try:
        warn = spark.read.parquet(warn_dir).distinct()
    except Exception:  # no warnings at all -> empty channel
        return main_rows
    warn_rows = warn.select(
        F.lit("warning").alias("channel"),
        "ts",
        "item_id",
        "user_id",
        F.lit(None).cast("long").alias("cnt"),
    )
    return main_rows.unionByName(warn_rows)


@query(
    "streaming_proctime_window",
    oracle=None,
    tags=(
        "streaming",
        "window",
        "proctime",
        "rows_only:processing-time windows bucket by wall-clock arrival, "
        "inherently non-deterministic vs any data-derived oracle",
    ),
)
def streaming_proctime_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Processing-time tumbling window (ProcessingTimeWindowDemo family,
    SURVEY §2.6/§2.8 proc-time row): each event is stamped with its
    ARRIVAL time (current_timestamp at ingestion — Spark's processing
    time) and counted per key in 5-second proc-time buckets. Rows-only
    check by nature: proc-time results depend on wall-clock arrival, the
    same nondeterminism the reference's proc-time demos have. On this
    bounded run everything arrives within one micro-batch, so the
    invariant the driver can still rely on is count(*) preservation
    (sum of cnt == table rows) with a stable schema."""
    events = stream_table(spark, sf_dir, "events")
    stamped = events.withColumn("proc_ts", F.current_timestamp())
    agg = (
        stamped.groupBy(
            F.window("proc_ts", "5 seconds").alias("w"), F.col("event_type")
        )
        .agg(F.count("*").alias("cnt"))
        .select(F.col("w.start").alias("proc_window"), "event_type", "cnt")
    )
    return run_to_memory(agg, "complete")


@query(
    "streaming_quality_gate",
    oracle="""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]')) AS INT) AS bpe_tokens,
       (len(string_split(text, ' ')) >= 20
        AND len(list_distinct(string_split(text, ' ')))::DOUBLE
            / len(string_split(text, ' ')) >= 0.2) AS quality_keep,
       CASE WHEN len(list_filter(string_split(text, ' '),
                 w -> list_contains(['the','a','is','of','and'], w)))::DOUBLE
             / len(string_split(text, ' ')) >= 0.05
            THEN 'en' ELSE 'unknown' END AS lang_pred,
       (len(string_split(text, ' ')) >= 20
        AND len(list_distinct(string_split(text, ' ')))::DOUBLE
            / len(string_split(text, ' ')) >= 0.2
        AND len(list_filter(string_split(text, ' '),
                 w -> list_contains(['the','a','is','of','and'], w)))::DOUBLE
             / len(string_split(text, ' ')) >= 0.05) AS gate_keep
FROM documents
""",
    tags=("streaming", "datapipe", "text"),
)
def streaming_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LLM-pipeline quality gate running LIVE on a document stream:
    the SAME operators/text.py column expressions (token_stats ->
    quality_score -> lang_id) applied to a readStream source — the
    batch/stream unification Flink's Table API promises, held here by
    construction because the gate is stateless codegen projection. The
    converged append-mode output is bit-identical to the batch oracle;
    at production scale this is the shape of a streaming ingest filter
    (no state, no watermark, per-batch throughput = scan throughput)."""
    from flink_tutorial_spark.operators import text as T

    docs = stream_table(spark, sf_dir, "documents")
    scored = T.lang_id(T.quality_score(T.token_stats(docs)))
    out = scored.select(
        "doc_id",
        "bpe_tokens",
        "quality_keep",
        "lang_pred",
        (F.col("quality_keep") & (F.col("lang_pred") == "en")).alias("gate_keep"),
    )
    return run_to_memory(out, "append")


@query(
    "streaming_ingest_gate",
    oracle="""
WITH batch AS (
    SELECT doc_id, md5(text) AS fingerprint FROM documents WHERE doc_id % 10 = 9
), corpus AS (
    SELECT DISTINCT md5(text) AS fingerprint FROM documents WHERE doc_id % 10 <> 9
), batch_canon AS (
    SELECT fingerprint, min(doc_id) AS doc_id, CAST(count(*) AS BIGINT) AS n_in_batch
    FROM batch GROUP BY fingerprint
)
SELECT b.doc_id, b.fingerprint, b.n_in_batch
FROM batch_canon b LEFT JOIN corpus c USING (fingerprint)
WHERE c.fingerprint IS NULL
""",
    tags=("streaming", "datapipe", "ingest"),
)
def streaming_ingest_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The incremental-ingest admission gate LIVE — the streaming twin
    of datapipe_incremental_ingest, and the catalog's first
    STREAM-STATIC join: arriving documents stream in, anti-join against
    the static corpus fingerprint table map-side (the static side is
    read per micro-batch, never shuffled into state — Spark's
    stream-static joins are stateless by construction), then a
    complete-mode aggregation canonicalizes duplicate arrivals to their
    min-doc_id copy. Complete mode makes the converged snapshot
    deterministic (min/count are arrival-order-free), so the oracle is
    the batch query's, verbatim.

    At scale the static side is a bucketed/Delta corpus table and the
    complete-mode agg becomes update-mode + an idempotent keyed upsert
    sink (sinks/foreach.KeyedUpsertSink) — complete mode here keeps the
    bounded-run contract exact."""
    from flink_tutorial_spark.session import load_table

    incoming = stream_table(spark, sf_dir, "documents").where(
        F.col("doc_id") % 10 == 9
    )
    corpus = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 10 != 9)
        .select(F.md5("text").alias("fingerprint"))
        .distinct()
    )
    gated = incoming.select("doc_id", F.md5("text").alias("fingerprint")).join(
        corpus, "fingerprint", "left_anti"
    )
    admitted = gated.groupBy("fingerprint").agg(
        F.min("doc_id").alias("doc_id"),
        F.count("*").alias("n_in_batch"),
    )
    return run_to_memory(admitted, "complete").select(
        "doc_id", "fingerprint", "n_in_batch"
    )


@query(
    "streaming_full_outer_join",
    oracle="""
WITH s AS (SELECT * FROM events WHERE event_type = 'signup'),
     p AS (SELECT * FROM events WHERE event_type = 'purchase'),
     wm AS (SELECT least((SELECT max(ts) FROM s), (SELECT max(ts) FROM p)) AS w)
SELECT s.event_id AS signup_id, p.event_id AS purchase_id,
       coalesce(s.user_id, p.user_id) AS user_id,
       CASE WHEN s.event_id IS NULL THEN 'unmatched-purchase'
            WHEN p.event_id IS NULL THEN 'unmatched-signup'
            ELSE 'matched' END AS match_status
FROM s FULL JOIN p
  ON s.user_id = p.user_id
 AND p.ts >= s.ts AND p.ts <= s.ts + INTERVAL 15 MINUTE, wm
WHERE CASE
        WHEN s.event_id IS NULL THEN p.ts < wm.w
        ELSE s.ts + INTERVAL 15 MINUTE < wm.w
      END
""",
    tags=("streaming", "join", "outer"),
)
def streaming_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TxMatch LIVE — TxMatch.scala:41-113 as the reference runs it: two
    unbounded keyed streams CoProcessed with ValueState + timers,
    emitting matched pairs plus unmatched-signup / unmatched-purchase
    side outputs. Spark's native FULL OUTER stream-stream join IS that
    state machine: each side buffers under its watermark bound; a row
    whose match horizon closes without a partner emits null-padded —
    completing the live join family (inner r3, leftOuter r6, fullOuter
    r7).

    Determinism contract (closed horizon, both directions): a SIGNUP's
    fate closes when the watermark passes s_ts + 15min (its last
    possible partner); a PURCHASE's when the watermark passes p_ts (its
    partners satisfy s_ts <= p_ts). The oracle filters each CASE
    identically against the achieved watermark (min of the two sides'
    max event times, delay 0). Matched rows inside the horizon emit by
    the trailing batch; everything outside is undecided on a bounded
    run and excluded from both sides of the compare. State per side is
    bounded by the 15-min interval width."""
    events = stream_table(spark, sf_dir, "events")
    s = (
        events.where(F.col("event_type") == "signup")
        .select(
            F.col("event_id").alias("signup_id"),
            F.col("user_id").alias("s_user"),
            F.col("ts").alias("s_ts"),
        )
        .withWatermark("s_ts", "0 seconds")
    )
    p = (
        events.where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "0 seconds")
    )
    j = s.join(
        p,
        (F.col("s_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("s_ts"))
        & (F.col("p_ts") <= F.col("s_ts") + F.expr("INTERVAL 15 MINUTES")),
        "fullOuter",
    )
    got = run_to_memory(j, "append")
    from flink_tutorial_spark.session import load_table

    ev = load_table(spark, sf_dir, "events")
    bound = (
        ev.groupBy()
        .agg(
            F.least(
                F.max(F.when(F.col("event_type") == "signup", F.col("ts"))),
                F.max(F.when(F.col("event_type") == "purchase", F.col("ts"))),
            ).alias("wm")
        )
        .first()["wm"]
    )
    return got.where(
        F.when(F.col("signup_id").isNull(), F.col("p_ts") < F.lit(bound)).otherwise(
            F.col("s_ts") + F.expr("INTERVAL 15 MINUTES") < F.lit(bound)
        )
    ).select(
        "signup_id",
        "purchase_id",
        F.coalesce("s_user", "p_user").alias("user_id"),
        F.when(F.col("signup_id").isNull(), "unmatched-purchase")
        .when(F.col("purchase_id").isNull(), "unmatched-signup")
        .otherwise("matched")
        .alias("match_status"),
    )


@query(
    "streaming_session_dynamic_gap",
    oracle="""
WITH g AS (
    SELECT user_id, ts,
           CASE WHEN event_type = 'error' THEN 600 ELSE 1800 END AS gap_s
    FROM events
), flagged AS (
    SELECT user_id, ts, gap_s,
           CASE WHEN max(ts + gap_s * INTERVAL 1 SECOND) OVER (
                    PARTITION BY user_id ORDER BY ts
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
                  OR ts >= max(ts + gap_s * INTERVAL 1 SECOND) OVER (
                    PARTITION BY user_id ORDER BY ts
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                THEN 1 ELSE 0 END AS new_session
    FROM g
), sessioned AS (
    SELECT *, sum(new_session) OVER (
        PARTITION BY user_id ORDER BY ts
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
    FROM flagged
)
SELECT user_id,
       min(ts) AS session_start,
       max(ts + gap_s * INTERVAL 1 SECOND) AS session_end,
       CAST(count(*) AS BIGINT) AS cnt
FROM sessioned
GROUP BY user_id, session_id
HAVING max(ts + gap_s * INTERVAL 1 SECOND) <= (SELECT max(ts) FROM events)
""",
    tags=("streaming", "window", "session"),
)
def streaming_session_dynamic_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic-gap session windows LIVE — ProcessingTimeSessionWindow
    Demo.java:43 withDynamicGap(e -> ...) run as the reference means
    it, on an unbounded stream: each event proposes its own merge gap
    (10 min for errors, 30 min otherwise), Spark's native
    session_window(ts, gap_expr) merges overlapping [ts, ts+gap)
    spans in streaming state, and a session emits when the watermark
    passes its end (append mode). Same closed-window contract as
    streaming_session_window; the oracle is the batch interval-merge
    restricted to sessions whose end closed under the final
    watermark."""
    events = stream_table(spark, sf_dir, "events")
    gap = F.when(F.col("event_type") == "error", "10 minutes").otherwise(
        "30 minutes"
    )
    agg = (
        events.withWatermark("ts", "0 seconds")
        .groupBy(F.session_window("ts", gap).alias("w"), F.col("user_id"))
        .agg(F.count("*").alias("cnt"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "cnt",
        )
    )
    return run_to_memory(agg, "append")


@query(
    "streaming_channel_stats",
    oracle="""
WITH c AS (
    SELECT CAST(json_extract_string(props, '$.k') AS INT) % 5 AS channel,
           event_type AS behavior, ts
    FROM events
), starts AS (
    SELECT unnest(generate_series(
        (SELECT date_trunc('hour', min(ts)) - INTERVAL 1 HOUR FROM c),
        (SELECT date_trunc('hour', max(ts)) FROM c),
        INTERVAL 1 HOUR)) AS window_start
), closed AS (
    SELECT window_start FROM starts
    WHERE window_start + INTERVAL 2 HOUR <= (SELECT max(ts) FROM c)
)
SELECT s.window_start, c.channel, c.behavior,
       CAST(count(*) AS BIGINT) AS cnt
FROM c JOIN closed s
  ON c.ts >= s.window_start AND c.ts < s.window_start + INTERVAL 2 HOUR
GROUP BY 1, 2, 3
""",
    tags=("streaming", "window", "business"),
)
def streaming_channel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """App-market stats by (channel, behavior) LIVE — the reference's
    AppMarketByChannel composite (AppMarketByChannel.scala:36-93:
    sliding timeWindow counts keyed on channel+behavior) run as an
    unbounded stream: sliding 2h/1h event-time windows in append mode;
    a window emits when the watermark passes its end. Channel derives
    from the event's app id (props.k % 5), behavior is the event type —
    the same composite key the reference builds in its
    MarketUserBehavior bean. The oracle enumerates exactly the windows
    closed by the final watermark (end <= max ts).

    Scale shape: partial-aggregable keyed window count — state is one
    counter per (window, channel, behavior), eviction by watermark;
    the 8-partition stream-shuffle policy applies (BASELINE.md)."""
    events = stream_table(spark, sf_dir, "events")
    stream = events.select(
        (F.get_json_object("props", "$.k").cast("int") % 5).alias("channel"),
        F.col("event_type").alias("behavior"),
        "ts",
    ).withWatermark("ts", "0 seconds")
    agg = (
        stream.groupBy(
            F.window("ts", "2 hours", "1 hour").alias("w"), "channel", "behavior"
        )
        .agg(F.count("*").alias("cnt"))
        .select(
            F.col("w.start").alias("window_start"), "channel", "behavior", "cnt"
        )
    )
    return run_to_memory(agg, "append")


@query(
    "streaming_uv_daily",
    oracle="""
WITH days AS (
    SELECT unnest(generate_series(
        (SELECT date_trunc('day', min(ts)) FROM events),
        (SELECT date_trunc('day', max(ts)) FROM events),
        INTERVAL 1 DAY)) AS day_start
), closed AS (
    SELECT day_start FROM days
    WHERE day_start + INTERVAL 1 DAY <= (SELECT max(ts) FROM events)
)
SELECT c.day_start,
       CAST(count(DISTINCT e.user_id) AS BIGINT) AS uv,
       CAST(count(*) AS BIGINT) AS pv
FROM events e JOIN closed c
  ON e.ts >= c.day_start AND e.ts < c.day_start + INTERVAL 1 DAY
GROUP BY 1
""",
    tags=("streaming", "dedup", "agg", "business"),
)
def streaming_uv_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily unique visitors LIVE — the reference's UvCount composite
    (scala/.../demo/networkflow/UvCount.scala: keyed-by-day window +
    per-window distinct-user set state) as an unbounded stream.
    Streaming aggs can't take count(DISTINCT), so the plan is the
    canonical two-stage chain: exact per-(day, user) first-arrival agg,
    then the per-day count — BOTH as one continuous append-mode
    pipeline (the stateful dedup stage feeding a second stateful agg
    downstream), a chain shape no other live catalog query covers. PV
    rides the first stage as a sum. A day emits when the watermark
    passes its end; the oracle restricts to days closed under max ts.

    Scale shape: stage-1 state is one row per (day, user) inside the
    watermark horizon (the same bound Flink's HashSet-per-window pays);
    stage-2 state is one counter per day. Both keyed shuffles are
    partial-aggregable; eviction is by watermark on the window column."""
    events = stream_table(spark, sf_dir, "events")
    per_user = (
        events.withWatermark("ts", "0 seconds")
        .groupBy(F.window("ts", "1 day").alias("w"), "user_id")
        .agg(F.count("*").alias("n"))
    )
    daily = (
        per_user.groupBy("w")
        .agg(
            F.count("*").cast("long").alias("uv"),
            F.sum("n").cast("long").alias("pv"),
        )
        .select(F.col("w.start").alias("day_start"), "uv", "pv")
    )
    return run_to_memory(daily, "append")


@query(
    "streaming_uv_kmv",
    oracle="""
WITH v AS (SELECT * FROM events WHERE event_type = 'view'),
h AS (
    SELECT DISTINCT date_trunc('day', ts) AS day_start,
           CAST(concat('0x', substr(md5(concat(user_id, ':kmv')), 1, 15))
               AS BIGINT) AS hv
    FROM v
), r AS (
    SELECT day_start, hv,
           row_number() OVER (PARTITION BY day_start ORDER BY hv) AS rk,
           count(*) OVER (PARTITION BY day_start) AS n_exact
    FROM h
)
SELECT day_start,
       CAST(n_exact AS BIGINT) AS uv_exact,
       CAST(CASE WHEN n_exact < 64 THEN n_exact
            ELSE floor(63.0 * 1152921504606846976 / hv) END AS BIGINT)
           AS uv_kmv
FROM r
WHERE (rk = 64 OR (rk = n_exact AND n_exact < 64))
  AND day_start + INTERVAL 1 DAY <= (SELECT max(ts) FROM v)
""",
    tags=("streaming", "approx", "sketch", "dedup"),
)
def streaming_uv_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily UV via a sharded KMV sketch LIVE (VERDICT r7 #5) — the
    approximate sibling of streaming_uv_daily with an EXACT oracle: KMV
    over a deterministic md5 hash space is the sketch that CAN be
    oracle-checked live (unlike HLL, whose estimator is engine-private
    — the reference's UV-with-bloom, UniqueVisitorWithBloom.scala:
    50-120, is exactly this shape with a non-checkable bloom filter).

    The pipeline is a THREE-stage chained stateful streaming plan — the
    deepest chain in the catalog: (1) dedup groupBy(window, shard, hv),
    (2) per-(window, shard) k-minimum sketch (sorted k-slice of the
    shard's distinct hashes + exact shard count), (3) per-window
    merge-and-re-truncate of <= S*k rows plus the additive exact count.
    A day emits when the watermark passes its end; the oracle restricts
    to closed days.

    Scale shape: stage-1 state is one row per (day, shard, hash) inside
    the watermark horizon — the same bound streaming_uv_daily pays for
    (day, user); stage-2 state per (day, shard) is the shard's distinct
    hash list (production swaps the collect_list for a bounded k-min
    accumulator UDAF; the merge algebra and plan shape are identical);
    stage-3 touches <= S*k = 1024 longs per day. Sharding bounds the
    per-key sort and parallelizes the sketch build S-fold."""
    from flink_tutorial_spark.operators.dedup import md5_long

    K, S = 64, 16
    events = stream_table(spark, sf_dir, "events")
    hv = md5_long(F.concat(F.col("user_id").cast("string"), F.lit(":kmv")))
    stream = (
        events.where(F.col("event_type") == "view")
        .select("ts", hv.alias("hv"))
        .withColumn("shard", F.pmod("hv", F.lit(S)))
        .withWatermark("ts", "0 seconds")
    )
    dedup = stream.groupBy(
        F.window("ts", "1 day").alias("w"), "shard", "hv"
    ).agg(F.count("*").alias("n"))
    shard_sketch = dedup.groupBy("w", "shard").agg(
        F.slice(F.array_sort(F.collect_list("hv")), 1, K).alias("kmins"),
        F.count("*").alias("shard_n"),
    )
    merged = shard_sketch.groupBy("w").agg(
        F.array_sort(F.flatten(F.collect_list("kmins"))).alias("merged"),
        F.sum("shard_n").alias("n_exact"),
    )
    out = merged.select(
        F.col("w.start").alias("day_start"),
        F.col("n_exact").cast("long").alias("uv_exact"),
        F.when(F.col("n_exact") < K, F.col("n_exact"))
        .otherwise(
            F.floor(
                F.lit(float(K - 1)) * F.lit(float(1 << 60)) / F.element_at("merged", K)
            )
        )
        .cast("long")
        .alias("uv_kmv"),
    )
    return run_to_memory(out, "append")


@query(
    "streaming_asof_attribution",
    oracle="""
WITH v AS (SELECT event_id AS view_id, user_id, ts FROM events
           WHERE event_type = 'view'),
p AS (SELECT event_id AS purchase_id, user_id, ts FROM events
      WHERE event_type = 'purchase'),
j AS (
    SELECT p.purchase_id, p.user_id, p.ts AS purchase_ts,
           v.view_id, v.ts AS view_ts,
           row_number() OVER (PARTITION BY p.purchase_id
                              ORDER BY v.ts DESC, v.view_id DESC) AS rn
    FROM p JOIN v
      ON p.user_id = v.user_id
     AND v.ts <= p.ts AND v.ts >= p.ts - INTERVAL 1 DAY
)
SELECT purchase_id, user_id, purchase_ts, view_id, view_ts,
       CAST(date_diff('second', view_ts, purchase_ts) AS BIGINT) AS gap_sec
FROM j
WHERE rn = 1
  AND date_trunc('day', purchase_ts) + INTERVAL 1 DAY <=
      least((SELECT max(ts) FROM v), (SELECT max(ts) FROM p))
      - INTERVAL 1 DAY
""",
    tags=("streaming", "join", "asof"),
)
def streaming_asof_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution LIVE — the streaming twin of
    join_asof_attribution, and the shape Flink ships as the
    processing/event-time temporal join. Spark's streaming joins can't
    express "latest only", so the plan is the production workaround
    every attribution pipeline runs: a stream-stream range join
    (attribution horizon = 1 day — unbounded lookback can't stream; a
    real pipeline always has one) followed by a CHAINED stateful
    latest-pick aggregation (max over (view_ts, view_id) per purchase)
    keyed through the purchase-day window, emitting once the watermark
    closes the day. Ties at equal view_ts resolve to max view_id — the
    same rule the batch twin's deduped ASOF oracle applies.

    Scale shape: join state is watermark + horizon bounded per side
    (exactly the interval-join bound); the latest-pick agg holds ONE
    struct per in-flight purchase — no buffering of all candidate
    views past the join. Closed-horizon contract: the time-range join
    DELAYS the watermark it publishes downstream by the attribution
    horizon (a purchase-day window can only close once no more
    in-horizon views can arrive), so the oracle restricts to days with
    day_end <= least(max view ts, max purchase ts) - horizon — verified
    empirically (without the subtraction the last day over-emits in the
    oracle)."""
    events = stream_table(spark, sf_dir, "events")
    v = (
        events.where(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("v_ts"),
        )
        .withWatermark("v_ts", "0 seconds")
    )
    p = (
        events.where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "0 seconds")
    )
    j = v.join(
        p,
        (F.col("v_user") == F.col("p_user"))
        & (F.col("v_ts") <= F.col("p_ts"))
        & (F.col("v_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 DAY")),
    )
    # p_ts is functionally dependent on purchase_id but must NOT be a
    # grouping column: a second event-time-tagged column beside the
    # window breaks the downstream stateful operator ("more than one
    # event time column"). Aggregate it instead.
    best = (
        j.groupBy(
            F.window("p_ts", "1 day").alias("w"),
            "purchase_id",
            "p_user",
        )
        .agg(
            F.max("p_ts").alias("purchase_ts"),
            F.max(F.struct("v_ts", "view_id")).alias("best"),
        )
        .select(
            "purchase_id",
            F.col("p_user").alias("user_id"),
            "purchase_ts",
            F.col("best.view_id").alias("view_id"),
            F.col("best.v_ts").alias("view_ts"),
            (
                F.col("purchase_ts").cast("long")
                - F.col("best.v_ts").cast("long")
            )
            .cast("long")
            .alias("gap_sec"),
        )
    )
    return run_to_memory(best, "append")


@query(
    "streaming_session_funnel",
    oracle="""
WITH seq AS (
    SELECT user_id, event_type, ts, event_id,
           CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                     > INTERVAL 30 MINUTE OR
                lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                THEN 1 ELSE 0 END AS new_s
    FROM events
), sess AS (
    SELECT user_id, event_type, ts,
           sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS session_id
    FROM seq
), per AS (
    SELECT user_id,
           min(ts) AS session_start,
           max(ts) + INTERVAL 30 MINUTE AS session_end,
           CAST(count(*) AS BIGINT) AS n_events,
           min(CASE WHEN event_type = 'view' THEN ts END) AS v_ts,
           min(CASE WHEN event_type = 'click' THEN ts END) AS c_ts,
           min(CASE WHEN event_type = 'purchase' THEN ts END) AS p_ts
    FROM sess GROUP BY user_id, session_id
)
SELECT user_id, session_start, session_end, n_events,
       coalesce(c_ts > v_ts AND p_ts > c_ts, FALSE) AS converted
FROM per
WHERE session_end <= (SELECT max(ts) FROM events)
""",
    tags=("streaming", "window", "analytics"),
)
def streaming_session_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionized ordered funnel LIVE: Spark's native session_window
    (30-minute gap — the reference's EventTimeSessionWindows) with the
    funnel's conditional-min aggregates computed INSIDE the window agg,
    so each session emits its conversion verdict the moment the
    watermark closes it (append mode; a session is closed when
    last_event + gap <= watermark — the oracle's WHERE). The batch twin
    (session_funnel_conversion) proves the cumsum sessionization and
    Spark's session_window merge produce identical sessions.

    Scale shape: one keyed session-window agg; state per (user, open
    session) is three timestamps + a count, evicted at close. The
    8-partition stream-shuffle policy applies."""
    events = stream_table(spark, sf_dir, "events")
    stream = events.withWatermark("ts", "0 seconds")
    per = (
        stream.groupBy(
            F.session_window("ts", "30 minutes").alias("w"), "user_id"
        )
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("v_ts"),
            F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("c_ts"),
            F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("p_ts"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            F.coalesce(
                (F.col("c_ts") > F.col("v_ts")) & (F.col("p_ts") > F.col("c_ts")),
                F.lit(False),
            ).alias("converted"),
        )
    )
    return run_to_memory(per, "append")


@query(
    "streaming_transitions",
    oracle="""
WITH ev AS (
  SELECT user_id, CAST(json_extract_string(props, '$.k') AS INT) AS item,
         ts, event_id
  FROM events
), seq AS (
  SELECT user_id, item,
         lag(item) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM ev
)
SELECT CAST(prev AS BIGINT) AS src, CAST(item AS BIGINT) AS dst,
       CAST(count(*) AS BIGINT) AS cnt
FROM seq WHERE prev IS NOT NULL AND prev <> item
GROUP BY 1, 2
""",
    tags=("streaming", "graph"),
)
def streaming_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clickstream Markov edges LIVE — the streaming twin of
    graph_transitions: a keyed stateful stage carries each user's LAST
    item across micro-batches (one long of state per user — a
    transition spanning a batch boundary still counts), feeding a
    continuous groupBy(src, dst) count. The converged complete-mode
    table equals the batch edge list, stated relationally by the
    oracle. This is the live edge-builder for the graph family: a
    production deployment materializes these counts continuously and
    runs PageRank/triangles on the latest snapshot.

    Scale shape: stage-1 state is |users| longs; the pair stream then
    takes one partial-aggregable keyed shuffle bounded by |items|^2
    output keys. Chained stateful stage -> aggregation, the same chain
    contract streaming_uv_daily established."""
    from flink_tutorial_spark.streaming.stateful import transition_pairs

    events = stream_table(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        "event_id",
        F.get_json_object("props", "$.k").cast("long").alias("item"),
    )
    pairs = transition_pairs(events, "user_id", ["ts", "event_id"], "item")
    counts = pairs.groupBy("src", "dst").agg(F.count("*").cast("long").alias("cnt"))
    return run_to_memory(counts, "complete")


@query(
    "streaming_anomaly",
    oracle="""
WITH b AS (
  SELECT event_type, date_trunc('hour', ts) AS h,
         CAST(sum(CAST(round(value * 1000) AS BIGINT)) AS BIGINT) AS v
  FROM events GROUP BY 1, 2
), closed AS (
  SELECT * FROM b
  WHERE h + INTERVAL 1 HOUR <= (SELECT max(ts) FROM events)
), w AS (
  SELECT event_type, h, v,
         CAST(count(*) OVER roll AS BIGINT) AS n,
         CAST(sum(v) OVER roll AS BIGINT) AS s,
         CAST(sum(v * v) OVER roll AS HUGEINT) AS s2
  FROM closed
  WINDOW roll AS (PARTITION BY event_type ORDER BY h
                  ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
), z AS (
  SELECT event_type, h, n, v, s,
         sqrt(greatest(1.0 * s2 / n - (1.0 * s / n) * (1.0 * s / n), 0)) AS sd
  FROM w WHERE n >= 12
)
SELECT event_type AS key, h AS bucket, n AS n_window,
       round(v / 1000.0, 6) AS value,
       round(s / n / 1000.0, 6) AS roll_mean,
       round(sd / 1000.0, 6) AS roll_std,
       round(CASE WHEN sd > 0 THEN (v - 1.0 * s / n) / sd ELSE 0 END, 4) AS z,
       (sd > 0 AND abs(v - 1.0 * s / n) >= 3 * sd) AS is_anomaly
FROM z
""",
    tags=("streaming", "timeseries"),
)
def streaming_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly detection LIVE — the streaming twin of
    timeseries_anomaly as a TWO-JOB topology with a durable handoff
    (the Kafka-shaped production layout: bucket job -> topic -> scorer
    job, here parquet files standing in for the topic):

    Job 1: watermarked 1-hour window agg in APPEND mode — a bucket is
    written to the handoff directory only when the watermark closes it
    (the open tail bucket never leaks downstream, matching the
    oracle's closed-bucket restriction).

    Job 2: a keyed stateful scorer holding a <=24-long ring buffer of
    exact fixed-point bucket values per key; each arriving closed
    bucket is scored against the buckets before it with the SAME
    double-expression ORDER as the SQL twin (see
    stateful.rolling_zscore), so the live z-scores hash-match the
    batch oracle bit-for-bit.

    Scale shape: job-1 state is open windows within the watermark
    horizon; the handoff carries bucket-sized data; job-2 state is 24
    longs per key. Each job is independently restartable from its
    checkpoint — exactly why production pipelines split here."""
    import uuid as _uuid

    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    from flink_tutorial_spark.operators.dedup import scratch_dir
    from flink_tutorial_spark.streaming.stateful import rolling_zscore

    events = stream_table(spark, sf_dir, "events")
    buckets = (
        events.withWatermark("ts", "0 seconds")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.sum(F.round(F.col("value") * 1000, 0).cast("long")).alias("v"))
        .select("event_type", F.col("w.start").alias("h"), "v")
    )
    handoff = f"{scratch_dir()}/anomaly_handoff_{_uuid.uuid4().hex[:8]}"
    run_to_parquet(buckets, handoff)
    schema = StructType(
        [
            StructField("event_type", StringType()),
            StructField("h", TimestampType()),
            StructField("v", LongType()),
        ]
    )
    closed = spark.readStream.format("parquet").schema(schema).load(handoff)
    scored = rolling_zscore(closed, "event_type", "h", "v")
    return run_to_memory(scored, "append")


@query(
    "streaming_scd2",
    oracle="""
WITH ev AS (
  SELECT user_id, CAST(json_extract_string(props, '$.k') AS INT) AS item,
         ts, event_id
  FROM events
), o AS (
  SELECT user_id, item, ts, event_id,
         lag(item) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM ev
), ch AS (
  SELECT user_id, item, ts, event_id FROM o
  WHERE prev IS NULL OR prev <> item
), iv AS (
  SELECT user_id, CAST(item AS BIGINT) AS item_id,
         ts AS effective_from,
         lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
             AS effective_to,
         CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
              AS BIGINT) AS version
  FROM ch
)
SELECT user_id, item_id, effective_from, effective_to, version
FROM iv WHERE effective_to IS NOT NULL
""",
    tags=("streaming", "timeseries"),
)
def streaming_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 dimension history LIVE — the streaming twin of
    scd2_item_intervals: a keyed stateful op holds each user's OPEN
    interval (current item, start, version counter) and emits an
    interval the moment its close arrives (item change). The converged
    output is exactly the batch intervals restricted to CLOSED ones —
    the open tail per user exists only in state (a serving layer reads
    it from the state store / latest snapshot), which the oracle states
    by filtering effective_to IS NOT NULL.

    Scale shape: state per user is two longs + a counter; output is
    change-rate-bounded, not event-rate-bounded. The same one-shuffle
    keyed stateful stage as streaming_transitions."""
    from flink_tutorial_spark.streaming.stateful import scd2_closed_intervals

    events = stream_table(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        "event_id",
        F.get_json_object("props", "$.k").cast("long").alias("item"),
    )
    out = scd2_closed_intervals(events, "user_id", ["ts", "event_id"], "item")
    return run_to_memory(out, "append")


@query(
    "streaming_gap_fill",
    oracle="""
WITH b AS (
  SELECT event_type, date_trunc('hour', ts) AS h,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT) AS v_fp
  FROM events GROUP BY 1, 2
), closed AS (
  SELECT * FROM b
  WHERE h + INTERVAL 1 HOUR <= (SELECT max(ts) FROM events)
), span AS (
  SELECT event_type, min(h) AS h0, max(h) AS h1 FROM closed GROUP BY 1
), grid AS (
  SELECT s.event_type,
         unnest(generate_series(s.h0, s.h1, INTERVAL 1 HOUR)) AS h
  FROM span s
)
SELECT grid.event_type, grid.h AS bucket,
       b.h IS NULL AS filled,
       CAST(COALESCE(b.n, 0) AS BIGINT) AS n_events,
       round(f.v_fp / (f.n * 1000000.0), 6) AS avg_value
FROM grid
LEFT JOIN closed b ON b.event_type = grid.event_type AND b.h = grid.h
ASOF LEFT JOIN closed f ON f.event_type = grid.event_type AND f.h <= grid.h
""",
    tags=("streaming", "timeseries"),
)
def streaming_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse-to-dense forward fill LIVE — the gap-fill twin on the
    two-job topology streaming_anomaly established: job 1 writes
    watermark-closed hourly buckets to a durable handoff; job 2's keyed
    filler emits one synthetic row per missing hour (carrying the last
    bucket's average) the moment the closing bucket arrives. The
    converged output is the per-key dense grid between each key's first
    and last CLOSED bucket — the oracle states the same with a per-key
    span + ASOF fill over closed buckets only (a stream can't emit
    leading gaps it never saw, nor trailing gaps still open).

    Scale shape: handoff traffic and job-2 state (three longs/key) are
    bucket-sized; the fill loop runs over buckets, not events."""
    import uuid as _uuid

    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    from flink_tutorial_spark.operators.dedup import scratch_dir
    from flink_tutorial_spark.streaming.stateful import gap_fill_stream

    events = stream_table(spark, sf_dir, "events")
    buckets = (
        events.withWatermark("ts", "0 seconds")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(F.round(F.col("value") * 1000000, 0).cast("long")).alias("v_fp"),
        )
        .select("event_type", F.col("w.start").alias("h"), "n", "v_fp")
    )
    handoff = f"{scratch_dir()}/gapfill_handoff_{_uuid.uuid4().hex[:8]}"
    run_to_parquet(buckets, handoff)
    schema = StructType(
        [
            StructField("event_type", StringType()),
            StructField("h", TimestampType()),
            StructField("n", LongType()),
            StructField("v_fp", LongType()),
        ]
    )
    closed = spark.readStream.format("parquet").schema(schema).load(handoff)
    return run_to_memory(gap_fill_stream(closed, "event_type", "h"), "append")


@query(
    "streaming_clamped_ledger",
    oracle="""
WITH led AS (
  SELECT user_id, ts, event_id,
         CASE WHEN event_type IN ('view', 'click')
              THEN CAST(round(value * 100) AS BIGINT)
              ELSE -CAST(round(value * 100) AS BIGINT) END AS delta_c
  FROM events
), s AS (
  SELECT user_id, ts, event_id, delta_c,
         CAST(sum(delta_c) OVER (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS run
  FROM led
), m AS (
  SELECT *, CAST(min(run) OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS run_min
  FROM s
)
SELECT user_id, ts, event_id,
       round(delta_c / 100.0, 2) AS delta,
       round((run - least(run_min, 0)) / 100.0, 2) AS balance
FROM m
""",
    tags=("streaming", "business"),
)
def streaming_clamped_ledger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Floor-clamped running balance LIVE — the streaming twin of
    value_clamped_ledger: the drawdown identity needs only the carried
    (prefix sum, prefix min) pair per entity, so balances stream with
    TWO longs of state per user while the batch twin's two windows need
    the whole history in one sort. Bucketed keying + vectorized
    segmented cumsum/min per the measured key-cardinality rule. The
    converged per-event balances equal the batch oracle exactly."""
    from flink_tutorial_spark.streaming.stateful import clamped_ledger

    events = stream_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100, 0).cast("long")
    led = events.select(
        "user_id",
        "ts",
        "event_id",
        F.when(
            F.col("event_type").isin("view", "click"), cents
        ).otherwise(-cents).alias("delta_c"),
    )
    out = clamped_ledger(led, "user_id", ["ts", "event_id"], "delta_c")
    return run_to_memory(out, "append")


_CM_HASH_S = (
    "CAST(concat('0x', substr(md5(concat(CAST(item AS VARCHAR), ':cm:', "
    "{i})), 1, 15)) AS BIGINT) % 512"
)

#: streaming_freq_cm_onepass: 4x512 CM cells over the props item, each
#: item's min-cell estimate reported against its exact count
_CM_LIVE_ORACLE = f"""
WITH ev AS (
  SELECT CAST(json_extract_string(props, '$.k') AS INT) AS item FROM events
  WHERE json_extract_string(props, '$.k') IS NOT NULL
), exact AS (
  SELECT item, CAST(count(*) AS BIGINT) AS exact_cnt FROM ev GROUP BY item
), cells AS (
  SELECT r.i AS row_i, {_CM_HASH_S.format(i="r.i")} AS cell,
         CAST(count(*) AS BIGINT) AS c
  FROM ev, (SELECT unnest(range(4)) AS i) r
  GROUP BY 1, 2
), est AS (
  SELECT e.item, min(c.c) AS est_cnt
  FROM exact e
  JOIN cells c
    ON c.cell = ({_CM_HASH_S.format(i="c.row_i")})
  GROUP BY e.item
)
SELECT CAST(e.item AS BIGINT) AS item_id, x.exact_cnt,
       CAST(e.est_cnt AS BIGINT) AS est_cnt,
       CAST(e.est_cnt - x.exact_cnt AS BIGINT) AS overestimate
FROM est e JOIN exact x USING (item)
"""


def _cm_cell(item_col: F.Column, i_col: F.Column) -> F.Column:
    """CM cell index — one md5-derived hash per (item, row) pair, the
    Spark twin of the oracle's _CM_HASH_S rule, so the cells cannot
    drift between engine and oracle."""
    from flink_tutorial_spark.operators.dedup import md5_long

    return (
        md5_long(
            F.concat(item_col.cast("string"), F.lit(":cm:"), i_col.cast("string"))
        )
        % 512
    )


def _cm_report(exact: DataFrame, cells: DataFrame, rows_df: DataFrame) -> DataFrame:
    """est-vs-exact calibration report over converged CM cells."""
    est = (
        exact.crossJoin(F.broadcast(rows_df))
        .withColumn("cell", _cm_cell(F.col("item"), F.col("row_i")))
        .join(F.broadcast(cells), ["row_i", "cell"])
        .groupBy("item", "exact_cnt")
        .agg(F.min("c").cast("long").alias("est_cnt"))
    )
    return est.select(
        F.col("item").cast("long").alias("item_id"),
        "exact_cnt",
        "est_cnt",
        (F.col("est_cnt") - F.col("exact_cnt")).cast("long").alias("overestimate"),
    )


@query(
    "streaming_freq_cm_onepass",
    oracle=_CM_LIVE_ORACLE,
    tags=("streaming", "approx", "sketch", "measurement"),
)
def streaming_freq_cm_onepass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch via the ONE-PASS foreachBatch fan-out with
    ADDITIVE MERGE sinks — the capability the r13 fan-out drew the
    boundary of (VERDICT r13 next #2): CM cell counts are sums, so the
    idempotent MergeAggSink refuses them; EpochLedgerMergeAggSink makes
    the additive merge replay-safe with a per-bucket last-applied-epoch
    ledger (the version-dir-encoded epoch each bucket's atomic symlink
    swap records — skip any bucket whose ledger already covers a
    replayed epoch). Hash-exactness against the oracle proves the
    ledger-merged cells == the batch pass's cells.

    One streaming query, each micro-batch persisted once, two additive
    sinks fanned per batch (reference analog: the side-output fan-out,
    SideOutputDemo.java:22-50):
    (a) CM cells — map-side combine to <=2048 (row_i, cell) partial
        sums, then ledger-MERGE into the keyed cell table;
    (b) exact per-item counts — the calibration reference (dropped at
        100 TB), same ledger-MERGE machinery keyed by item.

    Scale shape: the cell table is FIXED at 2048 keys however large the
    stream gets, so a deployment keeps only it hot and reads exact
    counts from batch; epoch cost ∝ dirty buckets; the source is
    scanned once per batch (listener-pinned in tests/test_fanout.py);
    the ledger adds zero writes — it rides the existing bucket-swap
    atomicity."""
    from flink_tutorial_spark.operators.dedup import scratch_dir
    from flink_tutorial_spark.sinks.foreach import EpochLedgerMergeAggSink
    from flink_tutorial_spark.streaming.run import run_fanout

    events = stream_table(spark, sf_dir, "events")
    ev = events.select(
        F.get_json_object("props", "$.k").cast("int").alias("item")
    ).where(F.col("item").isNotNull())

    rows_df = spark.range(4).select(F.col("id").cast("int").alias("row_i"))
    base = scratch_dir()
    cells_sink = EpochLedgerMergeAggSink(
        spark,
        os.path.join(base, "cells"),
        key_cols=["row_i", "cell"],
        agg_exprs=[F.sum("c").cast("long").alias("c")],
    )
    exact_sink = EpochLedgerMergeAggSink(
        spark,
        os.path.join(base, "exact"),
        key_cols=["item"],
        agg_exprs=[F.sum("exact_cnt").cast("long").alias("exact_cnt")],
    )

    def cells_fold(bdf: DataFrame, eid: int) -> None:
        part = (
            bdf.crossJoin(F.broadcast(rows_df))
            .groupBy(
                "row_i", _cm_cell(F.col("item"), F.col("row_i")).alias("cell")
            )
            .agg(F.count("*").cast("long").alias("c"))
        )
        cells_sink(part, eid)

    def exact_fold(bdf: DataFrame, eid: int) -> None:
        exact_sink(
            bdf.groupBy("item").agg(F.count("*").cast("long").alias("exact_cnt")),
            eid,
        )

    run_fanout(ev, [cells_fold, exact_fold])
    cells = cells_sink.read().select("row_i", "cell", "c")
    exact = exact_sink.read().select("item", "exact_cnt")
    return _cm_report(exact, cells, rows_df)


from flink_tutorial_spark.plans.queries_patterns import (  # noqa: E402
    _QSKETCH_BUCKETS_SQL,
    _QSKETCH_EST_SQL,
    qsketch_buckets,
    qsketch_estimate,
)


@query(
    "streaming_quantile_onepass",
    # identical sketch rule as the batch value_quantile_sketch ->
    # identical oracle: ledger-merged cells must equal the batch cells
    oracle=(
        f"WITH {_QSKETCH_BUCKETS_SQL}, {_QSKETCH_EST_SQL} "
        "SELECT event_type, n, p50_est, p95_est, p99_est FROM est"
    ),
    tags=("streaming", "approx", "sketch"),
)
def streaming_quantile_onepass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile sketch cells through the ONE-PASS epoch-ledger MERGE
    sink — with streaming_freq_cm_onepass this completes the fan-out
    deployment shape across the WHOLE mergeable-sketch family (KMV and
    HLL merged idempotently in r13; CM and quantile cells are ADDITIVE
    integer counts, exactly what the per-bucket last-applied-epoch
    ledger exists for). Each micro-batch map-side combines to its
    partial (event_type, e, m) histogram cells via qsketch_buckets —
    the SAME bucketing rule as the batch family, so the cells cannot
    drift — and the ledger-MERGE sums them per key, replay-exact. The
    converged table feeds qsketch_estimate, stated by the batch
    value_quantile_sketch's oracle. Integer cell counts are
    order-independent, which is what makes the sketch streamable at
    all (t-digest/KLL compactions would be arrival-order-dependent).

    Scale shape: cell table fixed at <= types x ~512 keys forever;
    epoch cost ∝ dirty buckets; one source scan per batch (the fan-out
    contract); a replayed epoch is a per-bucket no-op via the ledger.
    This is the lakehouse row for continuous percentile serving: MERGE
    INTO cells USING batch ... UPDATE SET c = t.c + s.c, with the
    batch id ledger standing in for the engine's state-store WAL."""
    from flink_tutorial_spark.operators.dedup import scratch_dir
    from flink_tutorial_spark.sinks.foreach import EpochLedgerMergeAggSink
    from flink_tutorial_spark.streaming.run import run_fanout

    events = stream_table(spark, sf_dir, "events")
    sink = EpochLedgerMergeAggSink(
        spark,
        os.path.join(scratch_dir(), "qcells"),
        key_cols=["event_type", "e", "m"],
        agg_exprs=[F.sum("c").cast("long").alias("c")],
    )

    def fold(bdf: DataFrame, eid: int) -> None:
        sink(qsketch_buckets(bdf), eid)

    run_fanout(events, [fold])
    return qsketch_estimate(sink.read().select("event_type", "e", "m", "c"))


@query(
    "streaming_blocklist_filter",
    oracle="""
WITH dom AS (
  SELECT doc_id, source,
         CASE WHEN doc_id % 10 < 3 THEN 'hub.example.com'
              WHEN doc_id % 10 < 5 THEN 'mirror.example.net'
              ELSE 'site' || CAST(doc_id % 17 AS VARCHAR) || '.example.org'
         END AS domain
  FROM documents
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_kept
FROM dom
WHERE domain NOT IN ('mirror.example.net', 'spam.example.com')
GROUP BY source
""",
    tags=("streaming", "datapipe", "governance", "join", "anti"),
)
def streaming_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-blocklist filtering ON INGEST — urlgov_blocklist's live
    twin and the catalog's stream-STATIC anti-join shape (the others
    are stream-stream): documents arrive as a stream, the blocklist is
    a static broadcast table, and the left-anti join drops blocked
    domains before the per-source survival counts aggregate in
    complete mode. This is the C4/RefinedWeb ingest topology: the
    filter runs IN the ingest pipeline (no quarantine-then-batch-clean
    pass), and the blocklist refreshes per micro-batch exactly like
    the broadcast-dim enrichment pattern (stream-static joins re-plan
    the static side each batch).

    Scale shape: the blocklist (thousands of rows in production) ships
    broadcast — the document stream never shuffles for the join; state
    is only the per-source count cells."""
    from flink_tutorial_spark.plans.queries_datapipe import (
        _URLGOV_BLOCKLIST,
        _urlgov_docs,
    )

    docs = _urlgov_docs(stream_table(spark, sf_dir, "documents"))
    bl = spark.createDataFrame([(d,) for d in _URLGOV_BLOCKLIST], ["domain"])
    kept = (
        docs.join(F.broadcast(bl), "domain", "left_anti")
        .groupBy("source")
        .agg(F.count("*").cast("long").alias("n_kept"))
    )
    return run_to_memory(kept, "complete")


from flink_tutorial_spark.plans.queries_patterns import (  # noqa: E402
    _DRIFT_PSI_SQL,
    drift_binned,
    drift_cells,
    drift_psi_report,
)


@query(
    "streaming_drift_psi",
    # identical drift rule as the batch twin -> identical oracle
    oracle=_DRIFT_PSI_SQL,
    tags=("streaming", "quality", "monitoring"),
)
def streaming_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PSI drift monitoring LIVE — value_drift_psi's twin and the
    fourth member of the live mergeable-summary family (KMV distinct,
    CM frequency, quantile cells, now drift cells): a complete-mode
    aggregation maintains the (event_type, window, bin) histogram
    cells as events arrive — integer cell counts are exactly what
    streaming aggregation state holds natively, and the fixed binning
    makes cells from any shard or any micro-batch additive — then the
    converged cell table feeds the same batch-side smoothed-PSI report
    as the batch twin, stated by the identical oracle.

    Scale shape: state is FIXED at types x 2 windows x 10 bins however
    long the stream runs; the production deployment alerts off this
    table continuously instead of re-scanning either window's raw
    data. The grid fill, totals, and PSI sum all run over cells
    only."""
    events = stream_table(spark, sf_dir, "events")
    cells = run_to_memory(drift_cells(drift_binned(events)), "complete")
    return drift_psi_report(cells)


@query(
    "streaming_ema",
    # identical fold rule as the batch twin -> identical oracle
    oracle="""
WITH seq AS (
  SELECT event_type, value,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY ts, event_id) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM events
), w AS (
  SELECT event_type, n, value,
         CASE WHEN rn = 1 THEN n - 1 ELSE n - rn + 1 END AS k
  FROM seq
)
SELECT event_type, CAST(max(n) AS BIGINT) AS n,
       round(sum(CASE WHEN k <= 62
                      THEN value / CAST(CAST(1 AS BIGINT) << k AS DOUBLE)
                      ELSE 0.0 END), 4) AS ema
FROM w GROUP BY event_type
""",
    tags=("streaming", "timeseries", "state"),
)
def streaming_ema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponential moving average LIVE — timeseries_ema's stateful
    twin and the float-state member of the fold family (ledger carries
    integer (S, M); this carries a single (ema, n) pair per key): each
    micro-batch unrolls its chunk of the recursion with exact
    power-of-two scalings (np.ldexp) and chains through the carried
    ema, so the converged value equals the batch unrolled sum to well
    inside the rounded 4 decimals. Emits the running summary per
    batch; the converged answer is the max-n row per key.

    Scale shape: TWO scalars of state per key however long the stream
    runs — the fixed-state property that makes EMA the canonical
    streaming smoother; the batch twin needs the whole history in one
    window sort."""
    from flink_tutorial_spark.streaming.stateful import ema_fold

    events = stream_table(spark, sf_dir, "events")
    out = ema_fold(
        events.select("event_type", "ts", "event_id", "value"),
        "event_type",
        ["ts", "event_id"],
        "value",
    )
    runs = run_to_memory(out, "append")
    return runs.groupBy("event_type").agg(
        F.max("n").cast("long").alias("n"),
        F.round(F.max_by("ema", "n"), 4).alias("ema"),
    )


from flink_tutorial_spark.plans.queries_patterns import (  # noqa: E402
    _KMV_K,
    _KMV_SHARDS,
    _KMV_TRAILING_ORACLE,
    kmv_trailing_report,
)

#: closed-days restriction of the shared trailing-KMV oracle: a day's
#: cells (and pairs) emit when the watermark passes its end, so the
#: live report covers exactly the days whose end <= max view ts.
_KMV_TRAILING_LIVE_ORACLE = _KMV_TRAILING_ORACLE.replace(
    "WHERE r.rk = 64 OR (r.rk = r.n_exact AND r.n_exact < 64)",
    """WHERE (r.rk = 64 OR (r.rk = r.n_exact AND r.n_exact < 64))
  AND r.day + INTERVAL 1 DAY <=
      (SELECT max(ts) FROM events WHERE event_type = 'view')""",
)
assert _KMV_TRAILING_LIVE_ORACLE != _KMV_TRAILING_ORACLE


from flink_tutorial_spark.plans.catalog import REGISTRY as _REG  # noqa: E402

#: the batch HLL oracle restricted to CLOSED days — a day's register
#: vector emits when the watermark (max view ts, delay 0) passes its
#: end, so the live report covers exactly the days with
#: day + 1 day <= max ts.
_HLL_LIVE_ORACLE = _REG["uv_hll_registers"].oracle.replace(
    "FROM agg a JOIN exact e USING (day)",
    """FROM agg a JOIN exact e USING (day)
WHERE a.day + INTERVAL 1 DAY <=
      (SELECT max(ts) FROM events WHERE event_type = 'view')""",
)
assert _HLL_LIVE_ORACLE != _REG["uv_hll_registers"].oracle


@query(
    "streaming_uv_kmv_onepass",
    oracle=_KMV_TRAILING_LIVE_ORACLE,
    tags=("streaming", "approx", "sketch", "window"),
)
def streaming_uv_kmv_onepass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day UV from live daily KMV cells — the ONE-PASS
    foreachBatch fan-out deployment shape (VERDICT r12 #1) and the
    deployment shape of uv_stickiness's denominator. At 100 TB per-
    pipeline source rescans dominate, so the topology is ONE streaming
    query whose foreachBatch persists each micro-batch once and fans it
    to every sink — the reference's side-output fan-out
    (SideOutputDemo.java:22-50) on Spark's micro-batch geometry.

    Three sinks per batch, all replay-idempotent (the fan-out contract):
    (a) the KMV cell MERGE — batch rows combine per (day, shard) into
        <= 64-long k-min arrays (map-side collect_set, then
        distinct-union-truncate against the stored cell: associative,
        commutative, IDEMPOTENT — an epoch replay is a no-op), via
        MergeAggSink = the foreachBatch + MERGE INTO lakehouse shape.
        State is K longs per (day, shard) key however many distinct
        users a day has, held in a keyed table.
    (b) the exact distinct (day, hv) pairs — calibration reference only
        (dropped at 100 TB, where the cells ARE the product), parquet
        append deduped on read.
    (c) the event-time high watermark — max(ts), persisted per epoch;
        read-side it states which days are CLOSED (day + 1 day <= max
        ts, the oracle's restriction verbatim).

    The converged closed-day cells merge-truncate to 64 longs per day
    and feed the shared kmv_trailing_report, so any trailing window is
    stated from cells alone. Hash-exactness against the batch family's
    oracle restricted to closed days proves one-pass-merged cells ==
    batch cells; the single source scan per batch is listener-verified
    in tests/test_fanout.py and SCALING.md ("one-pass fan-out":
    sum(numInputRows) is 1x the source rows)."""
    act, cells = _kmv_onepass_tables(spark, sf_dir)
    return kmv_trailing_report(act, cells)


def _kmv_onepass_tables(spark: SparkSession, sf_dir: str):
    """(act, cells) via the one-pass foreachBatch fan-out — the shared
    front of streaming_uv_kmv_onepass and
    streaming_uv_kmv_retention_curve: one streaming query, three
    replay-idempotent sinks (KMV cell MERGE / calibration pairs /
    persisted high watermark), converged tables restricted to CLOSED
    days and shard cells merge-truncated per day. See
    streaming_uv_kmv_onepass for the full contract."""
    from flink_tutorial_spark.operators.dedup import scratch_dir, md5_long
    from flink_tutorial_spark.sinks.foreach import (
        EventTimeHighWatermark,
        MergeAggSink,
    )
    from flink_tutorial_spark.streaming.run import run_fanout

    K, S = _KMV_K, _KMV_SHARDS
    events = stream_table(spark, sf_dir, "events")
    hv = md5_long(F.concat(F.col("user_id").cast("string"), F.lit(":kmv")))
    stream = (
        events.where(F.col("event_type") == "view")
        .select("ts", hv.alias("hv"))
        .withColumn("shard", F.pmod("hv", F.lit(S)))
        .withColumn("day", F.date_trunc("day", "ts"))
    )
    base = scratch_dir()
    pairs_dir = os.path.join(base, "pairs")
    cells_sink = MergeAggSink(
        spark,
        os.path.join(base, "cells"),
        key_cols=["day", "shard"],
        agg_exprs=[
            F.slice(
                F.array_sort(F.array_distinct(F.flatten(F.collect_list("kmins")))),
                1,
                K,
            ).alias("kmins")
        ],
    )
    hwm = EventTimeHighWatermark(os.path.join(base, "hwm"))

    def fold_sink(bdf: DataFrame, eid: int) -> None:
        # map-side combine to one cell row per key BEFORE the MERGE:
        # collect_set dedups within the batch, slice caps at k
        part = bdf.groupBy("day", "shard").agg(
            F.slice(F.array_sort(F.collect_set("hv")), 1, K).alias("kmins")
        )
        cells_sink(part, eid)

    def pairs_sink(bdf: DataFrame, eid: int) -> None:
        # append-mode calibration pairs; cross-batch (and replay)
        # duplicates are removed by the read-side distinct
        bdf.select("day", "hv").dropDuplicates().write.mode("append").parquet(
            pairs_dir
        )

    run_fanout(
        stream, [fold_sink, pairs_sink, lambda bdf, eid: hwm.update(bdf)]
    )

    closed = hwm.closed_day("day")
    act = spark.read.parquet(pairs_dir).distinct().where(closed)
    # day-level merge-truncate on the converged closed cells
    # (<= S x K rows/day; shards partition the hash space)
    from pyspark.sql import Window

    wd = Window.partitionBy("day")
    cells = (
        cells_sink.read()
        .where(closed)
        .select("day", F.explode("kmins").alias("hv"))
        .withColumn("rk", F.row_number().over(wd.orderBy("hv")))
        .where(F.col("rk") <= K)
        .select("day", "hv")
    )
    return act, cells


from flink_tutorial_spark.plans.queries_patterns import (  # noqa: E402
    _KMV_RETENTION_CURVE_ORACLE,
    kmv_retention_curve_report,
)

#: closed-days restriction of the retention-curve oracle: a cohort row
#: (d, off) is reportable live once BOTH its days' cells have emitted —
#: d + off closed implies d closed, so restricting the horizon day in
#: the pair filter is the whole condition.
_KMV_CURVE_LIVE_ORACLE = _KMV_RETENTION_CURVE_ORACLE.replace(
    "WHERE b.day = a.day + o.off * INTERVAL 1 DAY)",
    """WHERE b.day = a.day + o.off * INTERVAL 1 DAY
                  AND b.day + INTERVAL 1 DAY <=
                      (SELECT max(ts) FROM events
                       WHERE event_type = 'view'))""",
)
assert _KMV_CURVE_LIVE_ORACLE != _KMV_RETENTION_CURVE_ORACLE


@query(
    "streaming_uv_kmv_retention_curve",
    oracle=_KMV_CURVE_LIVE_ORACLE,
    tags=("streaming", "approx", "sketch"),
)
def streaming_uv_kmv_retention_curve(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The retention cohort curve stated LIVE — VERDICT r12 #5, built
    only now that it has the production story ROADMAP's bar demanded:
    the one-pass fan-out (streaming_uv_kmv_onepass's MERGE sink)
    maintains the daily KMV cells as events arrive, and the cohort
    curve (offsets 1/3/7) is then ONE batch report over the converged
    cell table — kmv_retention_curve_report, the stage shared verbatim
    with the batch query, so the intersection algebra cannot drift.
    Oracle = the batch curve oracle restricted to pairs whose horizon
    day is CLOSED (d + off closed implies d closed); hash-exactness
    proves live-merged cells state the same curve as a batch pass over
    raw events.

    Scale shape: the streaming leg is the proven 1x-scan fan-out with
    fixed per-key state; the report touches <= |offsets| x 2 x 64 cell
    rows per day plus the broadcast pair table. The exact act branch
    (dau/ret_exact) is the calibration pipeline, dropped at 100 TB —
    after which NOTHING in the query scales with |users|."""
    act, cells = _kmv_onepass_tables(spark, sf_dir)
    return kmv_retention_curve_report(act, cells)


@query(
    "streaming_dedup_registry_onepass",
    oracle="""
WITH reg AS (
  SELECT md5(text) AS fingerprint, min(doc_id) AS keep_id
  FROM documents GROUP BY md5(text)
)
SELECT d.source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN d.doc_id = r.keep_id THEN 1 ELSE 0 END)
            AS BIGINT) AS n_kept,
       round(1.0 - sum(CASE WHEN d.doc_id = r.keep_id THEN 1 ELSE 0 END)
                   ::DOUBLE / count(*), 4) AS dup_rate
FROM documents d JOIN reg r ON md5(d.text) = r.fingerprint
GROUP BY d.source
""",
    tags=("streaming", "datapipe", "dedup"),
)
def streaming_dedup_registry_onepass(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """INCREMENTAL EXACT DEDUP on ingest — the one-pass fan-out
    generalized from sketches to the DOCUMENT pipeline (the topology a
    100 TB training-data ingest actually runs): documents stream in
    once; each micro-batch is fanned to
    (a) the fingerprint REGISTRY — a MergeAggSink keyed by md5(text)
        whose merge is min(doc_id): min is associative/commutative/
        IDEMPOTENT, so the registry is batching-independent and epoch
        replays are no-ops — the `MERGE INTO registry ... UPDATE SET
        keep_id = least(keep_id, s.doc_id)` every lakehouse dedup
        registry runs, maintained incrementally instead of by
        re-scanning the corpus per batch (dedup_exact's keep-min rule,
        operators/dedup.py:137, as LIVE state);
    (b) the per-doc metadata append (doc_id, source, fingerprint) —
        dedup-on-read by doc_id, so replays are harmless.
    The report joins converged metadata to the registry: per source,
    how many docs survive keep-min and the duplicate rate — the
    ingest-time governance row C4/RefinedWeb-style pipelines publish.
    Oracle = the same stats from a batch pass over raw documents;
    hash-exactness proves the incrementally-merged registry equals the
    batch groupBy at any batching.

    Scale shape: the registry holds one (fingerprint, keep_id) row per
    DISTINCT document — the same cardinality dedup_exact's shuffle
    output has, but built once and kept current; epoch cost is
    proportional to the batch's dirty buckets, never the corpus. The
    stream never rescans, never all-pairs."""
    from flink_tutorial_spark.operators.dedup import scratch_dir
    from flink_tutorial_spark.sinks.foreach import MergeAggSink
    from flink_tutorial_spark.streaming.run import run_fanout

    docs = stream_table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.md5("text").alias("fingerprint")
    )
    base = scratch_dir()
    meta_dir = os.path.join(base, "meta")
    registry = MergeAggSink(
        spark,
        os.path.join(base, "registry"),
        key_cols=["fingerprint"],
        agg_exprs=[F.min("keep_id").alias("keep_id")],
    )

    def registry_sink(bdf: DataFrame, eid: int) -> None:
        registry(bdf.select("fingerprint", F.col("doc_id").alias("keep_id")), eid)

    def meta_sink(bdf: DataFrame, eid: int) -> None:
        bdf.write.mode("append").parquet(meta_dir)

    run_fanout(docs, [registry_sink, meta_sink])

    # the sinks wrote docs' columns: no schema-inference job on the re-read
    meta = spark.read.schema(docs.schema).parquet(meta_dir).dropDuplicates(["doc_id"])
    kept = F.when(F.col("doc_id") == F.col("keep_id"), 1).otherwise(0)
    return (
        meta.join(registry.read().select("fingerprint", "keep_id"), "fingerprint")
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum(kept).cast("long").alias("n_kept"),
            F.round(
                F.lit(1.0) - F.sum(kept) / F.count("*"), 4
            ).alias("dup_rate"),
        )
    )


@query(
    "streaming_uv_hll_onepass",
    oracle=_HLL_LIVE_ORACLE,
    tags=("streaming", "approx", "sketch"),
)
def streaming_uv_hll_onepass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE HLL registers via the ONE-PASS foreachBatch fan-out — the
    deployment shape of the HLL family (batch uv_hll_registers'
    oracle restricted to CLOSED days) and the scalar-MERGE proof of the
    fan-out machinery (streaming_uv_kmv_onepass proves the array
    merge): one streaming query, each micro-batch persisted once and
    fanned to
    (a) the register MERGE — batch rows reduce to max(rank) per
        (day, shard, reg) map-side, then MERGE into the keyed cell
        table by max: the exact `WHEN MATCHED THEN UPDATE SET m =
        greatest(m, s.m)` a lakehouse deployment runs. max is
        associative/commutative/IDEMPOTENT, so the converged table is
        batching-independent and epoch replays are no-ops. Keeping
        shard in the key preserves the uv_hll_sharded decomposition —
        the read-side shard merge is the same element-wise max the
        batch family proves bit-exact.
    (b) exact distinct (day, hv) pairs — calibration only, dedup on
        read;
    (c) the persisted event-time high watermark, whose closed-day
        predicate (day + 1 day <= max ts) is the oracle's restriction
        verbatim.

    Sparse registers: the MERGE table holds only OBSERVED
    (day, shard, reg) cells — the read-side grid fill (_hll_report)
    supplies rank 0 for absent registers, so the report equals the
    batch family's dense-register one (hash-exactness proves it)."""
    from flink_tutorial_spark.operators.dedup import scratch_dir, md5_long
    from flink_tutorial_spark.plans.queries_patterns import (
        _hll_report,
        hll_rank,
        hll_reg,
        hll_shard,
    )
    from flink_tutorial_spark.sinks.foreach import (
        EventTimeHighWatermark,
        MergeAggSink,
    )
    from flink_tutorial_spark.streaming.run import run_fanout

    events = stream_table(spark, sf_dir, "events")
    hv = md5_long(F.concat(F.col("user_id").cast("string"), F.lit(":hll")))
    stream = (
        events.where(F.col("event_type") == "view")
        .select("ts", hv.alias("hv"))
        .withColumn("day", F.date_trunc("day", "ts"))
        .select(
            "ts",
            "day",
            "hv",
            hll_reg().alias("reg"),
            hll_rank().alias("rank"),
            hll_shard().alias("shard"),
        )
    )
    base = scratch_dir()
    pairs_dir = os.path.join(base, "pairs")
    reg_sink = MergeAggSink(
        spark,
        os.path.join(base, "regs"),
        key_cols=["day", "shard", "reg"],
        agg_exprs=[F.max("m_j").alias("m_j")],
        # co-locate a day's registers: the read-side shard merge and the
        # report group by day, and an epoch dirties ~every reg of the
        # open day anyway
        bucket_cols=["day"],
    )
    hwm = EventTimeHighWatermark(os.path.join(base, "hwm"))

    def reg_merge_sink(bdf: DataFrame, eid: int) -> None:
        part = bdf.groupBy("day", "shard", "reg").agg(
            F.max("rank").alias("m_j")
        )
        reg_sink(part, eid)

    def pairs_sink(bdf: DataFrame, eid: int) -> None:
        bdf.select("day", "hv").dropDuplicates().write.mode("append").parquet(
            pairs_dir
        )

    run_fanout(
        stream, [reg_merge_sink, pairs_sink, lambda bdf, eid: hwm.update(bdf)]
    )

    closed = hwm.closed_day("day")
    act = spark.read.parquet(pairs_dir).distinct().where(closed)
    cells = reg_sink.read().where(closed)
    # shard cells -> daily registers by max (the uv_hll_sharded merge)
    regs = cells.groupBy("day", "reg").agg(F.max("m_j").alias("m_j"))
    closed_days = cells.select("day").distinct()
    return _hll_report(spark, act, regs, days=closed_days)


#: closed-days restriction of the rolling-quantile oracle: a day's
#: cells emit when the watermark passes its end, so the live report
#: covers exactly the days with day + 1 day <= max ts (the report day
#: d only ever consumes cells of days <= d, all closed when d is).
_QUANTILE_ROLLING_LIVE_ORACLE = _REG["value_quantile_rolling"].oracle.replace(
    "days AS (SELECT DISTINCT day FROM ev",
    """days AS (SELECT DISTINCT day FROM ev
  WHERE day + INTERVAL 1 DAY <= (SELECT max(ts) FROM events)""",
)
assert _QUANTILE_ROLLING_LIVE_ORACLE != _REG["value_quantile_rolling"].oracle


def quantile_day_cells(events: DataFrame) -> DataFrame:
    """Live (day, event_type, e, m, c) quantile-sketch cells of closed
    days: the batch family's qsketch_buckets grouped by a 1-day
    event-time window, so the bucketing rule cannot drift from
    value_quantile_*. Run in append mode, Spark emits each day's cells
    once, when `window.end <= watermark`. With delay 0 the watermark is
    max(ts) floored to the ms, and a day end is a whole ms, so that is
    exactly the oracle's `day + 1 day <= max(ts)`. The window state is
    one row per open cell: at most ~512 per (day, event_type), however
    many events a day has."""
    from flink_tutorial_spark.plans.queries_patterns import qsketch_buckets

    windowed = events.withWatermark("ts", "0 seconds").withColumn(
        "w", F.window("ts", "1 day")
    )
    return qsketch_buckets(windowed, "w", "event_type").select(
        F.col("w.start").alias("day"), "event_type", "e", "m", "c"
    )


@query(
    "streaming_quantile_rolling",
    oracle=_QUANTILE_ROLLING_LIVE_ORACLE,
    tags=("streaming", "approx", "sketch", "window"),
)
def streaming_quantile_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day p50/p95/p99 from LIVE-maintained daily quantile
    cells. The live stage (quantile_day_cells) is Spark's append-mode
    window aggregate over qsketch_buckets: each (day, event_type) cell
    set, bounded by 32 * octaves (~512 cells) however many events a
    day has, emits once when the watermark passes the day end. Any
    trailing window is then a vector ADD over <= 7 x ~512 cells per
    group on the converged table: value_quantile_rolling's algebra fed
    by live cells instead of a batch pass, stated by its oracle
    restricted to closed days. No calibration pipeline is needed (the
    oracle is pure sketch), so this is a SINGLE-pipeline live query.

    localCheckpoint cuts the memory-sink lineage before the report
    branches the cell table (days + rolling merge — the r10 self-join
    lesson)."""
    from flink_tutorial_spark.plans.queries_patterns import qsketch_estimate

    events = stream_table(spark, sf_dir, "events")
    b0 = plan_capture.checkpoint(
        run_to_memory(quantile_day_cells(events), "append"), "ckpt:quantile_cells"
    )
    days = b0.select("day").distinct()  # closed days only (window emission)
    merged = (
        b0.withColumn("off", F.explode(F.sequence(F.lit(0), F.lit(6))))
        .withColumn(
            "day", F.col("day") + F.expr("make_interval(0, 0, 0, off, 0, 0, 0)")
        )
        .join(days.hint("broadcast"), "day")
        .groupBy("event_type", "day", "e", "m")
        .agg(F.sum("c").cast("long").alias("c"))
    )
    return qsketch_estimate(merged, "event_type", "day").select(
        "event_type", "day", "n", "p50_est", "p95_est", "p99_est"
    )


# The ingest-time ANN index answers the SAME question as the batch
# similarity_ann_lsh (same oracle — queries_datapipe registers first via
# plans/__init__): hash-exactness proves the incrementally-built index
# is the batch index.
from flink_tutorial_spark.plans.catalog import REGISTRY as _REGISTRY  # noqa: E402

_ANN_LSH_ORACLE = _REGISTRY["similarity_ann_lsh"].oracle


@query(
    "streaming_ann_ingest",
    oracle=_ANN_LSH_ORACLE,
    tags=("streaming", "datapipe", "similarity"),
)
def streaming_ann_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INGEST-TIME ANN INDEX (VERDICT r14 #2) — the similarity side of
    the one-pass ingest topology, completing what the dedup registry
    (streaming_dedup_registry_onepass) proved for fingerprints: vectors
    stream in ONCE, and each micro-batch MERGEs its rows into the
    persisted sign-LSH index — a KeyedUpsertSink keyed by vec_id whose
    stored row is (vec_id, bucket, embedding). The bucket is a pure
    per-row function of the vector (operators/similarity.lsh_index), so
    index maintenance is keyed overwrite: idempotent, replay-safe on
    epoch re-delivery, no new sink machinery (the contract VERDICT r14
    predicted). Value-derived bucketing carries one explicit contract
    (stable_value_buckets, enforced by the sink): a key's bucket never
    changes across insertions — re-embedded vectors must arrive as NEW
    ids (content-addressed) or trigger a rebuild, exactly the rule
    IVF/LSH stores impose on moved vectors. The table is hash-bucketed BY the LSH bucket, so a
    point probe reads only the table buckets its LSH values hash into
    (sink.read_buckets — the manual twin of partition pruning; this
    query's 20-vector probe spans most buckets, so it uses the full
    read) — "index the corpus as it lands", then answer ANN queries
    from the index without ever re-scanning the corpus.

    The returned answer is lsh_topk_from_index over the converged
    index: top-3 cosine neighbors for the 20 query vectors, candidates
    restricted to the query's bucket. Oracle = the EXACT batch
    similarity_ann_lsh SQL — hash-exactness proves the
    incrementally-built index answers identically to an index built by
    one batch pass (any batching: the sink converges per key).

    Scale shape (100 TB): ingest is the proven 1x-scan fan-out
    (tests/test_fanout.py pins one streaming query, sum(numInputRows)
    == corpus); epoch cost is proportional to the batch's dirty table
    buckets, never the index size; the read-side join is a
    co-partitioned equi-join on bucket with only the exploded query
    side broadcast. Reference analog: the reference keeps no ANN
    index; this extends its keyed-state-on-ingest pattern
    (day07 state demos) to the LLM-pipeline brief's similarity
    surface."""
    from flink_tutorial_spark.operators.dedup import scratch_dir
    from flink_tutorial_spark.operators.similarity import (
        lsh_index,
        lsh_topk_from_index,
    )
    from flink_tutorial_spark.sinks.foreach import KeyedUpsertSink
    from flink_tutorial_spark.streaming.run import run_fanout

    vecs = stream_table(spark, sf_dir, "embeddings")
    index = KeyedUpsertSink(
        spark,
        os.path.join(scratch_dir(), "lsh_index"),
        key_cols=["vec_id"],
        n_buckets=16,
        bucket_cols=["bucket"],  # co-locate same-LSH-bucket vectors
        # value-derived bucketing contract (enforced at construction):
        # a vec_id's bucket never changes across insertions — true here
        # (append-only corpus), and the production rule for re-embeds
        # is new ids or rebuild, same as any IVF/LSH store
        stable_value_buckets=True,
    )

    def index_sink(bdf: DataFrame, eid: int) -> None:
        index(lsh_index(bdf), eid)

    run_fanout(vecs, [index_sink])

    idx = index.read().select("vec_id", "bucket", "embedding")
    return lsh_topk_from_index(idx, idx.where(F.col("vec_id") < 20), k=3)


@query(
    "streaming_ann_ingest_append",
    oracle=_ANN_LSH_ORACLE,
    tags=("streaming", "datapipe", "similarity"),
)
def streaming_ann_ingest_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PURE-APPEND ANN INGEST (VERDICT r15 #2) — the O(batch)-per-epoch
    channel of the ingest-time LSH index, for append-only embedding
    corpora. Same topology as streaming_ann_ingest (vectors stream in
    ONCE; each micro-batch lands (vec_id, bucket, embedding) rows into
    the persisted index; the answer is lsh_topk_from_index over the
    converged index against the EXACT batch similarity_ann_lsh oracle)
    but the sink is the append + dedup-on-read channel the dedup
    registry's meta-sink proved (KeyedAppendSink): an epoch WRITES ONLY
    ITS OWN ROWS to a fresh atomic-published directory — no old-side
    read, no bucket rewrite — and the read side dedups by (vec_id,
    max-epoch). This is the deployment answer to the r15 profiler's
    honest limit of keyed overwrite: under uniformly-keyed append
    traffic every epoch of the overwrite channel read-merge-writes ALL
    dirty table buckets (6.3 s/epoch vs one-shot 2.3 s at 100k
    vectors), while this channel's epoch cost is the batch itself —
    corpus-size-independent. The rent moves to the read side (keyed
    window over the accumulated epochs), paid down by periodic
    compact() instead of on every epoch — INSERT INTO + dedup view +
    scheduled compaction, the standard lakehouse append-table shape.

    Replay safety: re-delivered epochs append byte-identical rows under
    the same epoch id; the max-epoch dedup collapses them (restart e2e
    in tests/test_fanout.py). Value-derived bucketing carries the same
    stable_value_buckets contract as the overwrite channel — the point
    is sharper here: the FULL read's dedup would tolerate a moved key,
    but the bucket-pruned point probe would not, so the opt-in asserts
    the same new-ids-or-rebuild rule for re-embeds.

    Scale shape (100 TB): 1x-scan fan-out ingest (listener-pinned);
    epoch cost O(batch); read-side join unchanged from the overwrite
    channel (bucket equi-join, exploded 20-vector query side
    broadcast). Reference analog: none (the reference keeps no ANN
    index); this is the brief's similarity surface on the reference's
    keyed-ingest pattern (day07 state demos)."""
    from flink_tutorial_spark.operators.dedup import scratch_dir
    from flink_tutorial_spark.operators.similarity import (
        lsh_index,
        lsh_topk_from_index,
    )
    from flink_tutorial_spark.sinks.foreach import KeyedAppendSink
    from flink_tutorial_spark.streaming.run import run_fanout

    vecs = stream_table(spark, sf_dir, "embeddings")
    index = KeyedAppendSink(
        spark,
        os.path.join(scratch_dir(), "lsh_index_append"),
        key_cols=["vec_id"],
        n_buckets=16,
        bucket_cols=["bucket"],
        stable_value_buckets=True,
    )

    def index_sink(bdf: DataFrame, eid: int) -> None:
        index(lsh_index(bdf), eid)

    run_fanout(vecs, [index_sink])

    idx = index.read().select("vec_id", "bucket", "embedding")
    return lsh_topk_from_index(idx, idx.where(F.col("vec_id") < 20), k=3)
