"""CEP-lite pattern detection + business composites (SURVEY.md §2.10),
batch analogs. Streaming twins (state machines over
applyInPandasWithState) live in flink_tutorial_spark/streaming/.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flink_tutorial_spark.plans.catalog import query
from flink_tutorial_spark.session import load_table


@query(
    "login_fail_detect",
    oracle="""
WITH seq AS (
    SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
    FROM events
), fails AS (
    SELECT user_id, ts, event_id, rn,
           lag(rn, 1)  OVER (PARTITION BY user_id ORDER BY rn) AS rn2,
           lag(ts, 1)  OVER (PARTITION BY user_id ORDER BY rn) AS ts2
    FROM seq WHERE event_type = 'error'
)
SELECT user_id, ts2 AS first_fail_ts, ts AS last_fail_ts
FROM fails
WHERE rn2 = rn - 1 AND ts - ts2 <= INTERVAL 30 MINUTE
""",
    tags=("cep",),
)
def login_fail_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CEP strict-contiguity: 2 consecutive failures within 30 minutes —
    LoginFailWithCep.scala:38-67 (Pattern.begin.next.next.within) and the
    hand-rolled ListState+timer variants (LoginFail.scala:57-103).

    Spark-first: global per-key sequence numbers (row_number) turn
    'strictly consecutive' into rn arithmetic; lag() gives the lookback.
    Two window passes over the same (user_id, rn) partitioning — Catalyst
    reuses one shuffle+sort for both."""
    events = load_table(spark, sf_dir, "events")
    seq = events.withColumn(
        "rn", F.row_number().over(Window.partitionBy("user_id").orderBy("ts", "event_id"))
    )
    w = Window.partitionBy("user_id").orderBy("rn")
    fails = (
        seq.where(F.col("event_type") == "error")
        .withColumn("rn2", F.lag("rn", 1).over(w))
        .withColumn("ts2", F.lag("ts", 1).over(w))
    )
    return fails.where(
        (F.col("rn2") == F.col("rn") - 1)
        # timestamp_ntz - timestamp_ntz => day-time interval (castable to no
        # numeric in Spark 4.1; compare against an interval literal instead)
        & (F.col("ts") - F.col("ts2") <= F.expr("INTERVAL 30 MINUTES"))
    ).select(
        "user_id",
        F.col("ts2").alias("first_fail_ts"),
        F.col("ts").alias("last_fail_ts"),
    )


@query(
    "order_timeout_detect",
    oracle="""
SELECT s.event_id AS signup_id,
       s.user_id,
       s.ts AS signup_ts,
       min(p.ts) AS pay_ts,
       CASE WHEN min(p.ts) IS NULL THEN 'timeout' ELSE 'matched' END AS status
FROM (SELECT * FROM events WHERE event_type = 'signup') s
LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
  ON s.user_id = p.user_id
 AND p.ts > s.ts AND p.ts <= s.ts + INTERVAL 15 MINUTE
GROUP BY s.event_id, s.user_id, s.ts
""",
    tags=("cep",),
)
def order_timeout_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Match-or-timeout — OrderTimeoutWithCEP.scala:38-71 (followedBy +
    within(15m), timeout side output) / OrderTimeout.scala:50-127.

    Spark-first: left join within the time bound + first-match agg; the
    CEP timeout branch is the NULL side. Streaming twin: state machine
    with EventTimeTimeout (streaming/cep.py)."""
    events = load_table(spark, sf_dir, "events")
    s = events.where(F.col("event_type") == "signup")
    p = events.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    j = s.join(
        p,
        (s.user_id == p.p_user)
        & (p.p_ts > s.ts)
        & (p.p_ts <= s.ts + F.expr("INTERVAL 15 MINUTES")),
        "left",
    )
    return (
        j.groupBy(F.col("event_id").alias("signup_id"), "user_id", F.col("ts").alias("signup_ts"))
        .agg(F.min("p_ts").alias("pay_ts"))
        .withColumn(
            "status", F.when(F.col("pay_ts").isNull(), "timeout").otherwise("matched")
        )
    )


@query(
    "ad_blacklist",
    oracle="""
SELECT user_id,
       CAST(json_extract_string(props, '$.k') AS INT) AS item_id,
       CAST(count(*) AS BIGINT) AS click_count
FROM events
WHERE event_type = 'click'
GROUP BY 1, 2
HAVING count(*) >= 2
""",
    tags=("cep", "business"),
)
def ad_blacklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ad-click blacklist — AdClickAnalysis.scala:39-123: per (user, ad)
    count crossing a threshold emits a warning and suppresses the user.
    Spark-first: groupBy + HAVING; the daily-reset timer is a date column
    in the key (omitted here — synthetic data spans one month)."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.where(F.col("event_type") == "click")
        .withColumn("item_id", F.get_json_object("props", "$.k").cast("int"))
        .groupBy("user_id", "item_id")
        .agg(F.count("*").alias("click_count"))
        .where(F.col("click_count") >= 2)
    )


@query(
    "pv_uv_daily",
    oracle="""
SELECT date_trunc('day', ts) AS day,
       CAST(count(*) AS BIGINT) AS pv,
       CAST(count(DISTINCT user_id) AS BIGINT) AS uv
FROM events
WHERE event_type = 'view'
GROUP BY 1
""",
    tags=("business", "agg"),
)
def pv_uv_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PV/UV — PageView.scala:48-59 (salted two-stage count; Spark's
    partial agg does the salting job) + UniqueVisitor.scala:43-48 (exact
    windowed distinct). countDistinct executes as a two-phase distributed
    expand+agg, replacing the reference's in-memory HashSet."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.where(F.col("event_type") == "view")
        .groupBy(F.window("ts", "1 day").start.alias("day"))
        .agg(F.count("*").alias("pv"), F.countDistinct("user_id").alias("uv"))
    )


@query(
    "uv_approx_distinct",
    oracle=None,
    tags=(
        "business",
        "approx",
        "rows_only:HLL approximate distinct — Spark-internal estimator, "
        "value intentionally inexact; exact twin pv_uv_daily is the "
        "bit-exact check, and the hand-rolled register-level sibling "
        "uv_hll_registers carries the oracle-checked HLL state (r11)",
    ),
)
def uv_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate UV — UniqueVisitorWithBloom.scala:50-120: the reference
    hand-rolls a 2^19-bit bloom filter in Redis to bound memory; the
    Spark-native replacement is HyperLogLog (approx_count_distinct, rsd
    1%). No oracle: Spark's internal HLL estimator is engine-private
    (the exact twin is pv_uv_daily). The ORACLE-CHECKED HLL lives in
    uv_hll_registers/uv_hll_sharded (r11): hand-rolled registers whose
    state is bit-exact cross-engine; this query stays as the
    Spark-internal cross-check sibling."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.where(F.col("event_type") == "view")
        .groupBy(F.window("ts", "1 day").start.alias("day"))
        .agg(F.approx_count_distinct("user_id", 0.01).alias("uv_approx"))
    )


@query(
    "value_histogram",
    oracle="""
SELECT event_type,
       CAST(count(*) FILTER (WHERE value < 40) AS BIGINT)  AS b0,
       CAST(count(*) FILTER (WHERE value >= 40  AND value < 80)  AS BIGINT) AS b1,
       CAST(count(*) FILTER (WHERE value >= 80  AND value < 120) AS BIGINT) AS b2,
       CAST(count(*) FILTER (WHERE value >= 120 AND value < 160) AS BIGINT) AS b3,
       CAST(count(*) FILTER (WHERE value >= 160) AS BIGINT) AS b4
FROM events
GROUP BY event_type
""",
    tags=("business", "histogram"),
)
def value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram-bucket vectors per key — the BMW vehicle-label demos
    (BMWMileAvgCount.scala:58-95 and 5 siblings emit per-(city,model)
    bucket-count vectors). Spark-first: conditional aggregation — one
    pass, one shuffle, no pivot needed for a fixed bucket list."""
    events = load_table(spark, sf_dir, "events")

    def bucket(lo, hi):
        cond = F.lit(True)
        if lo is not None:
            cond = cond & (F.col("value") >= lo)
        if hi is not None:
            cond = cond & (F.col("value") < hi)
        return F.count(F.when(cond, 1))

    return events.groupBy("event_type").agg(
        bucket(None, 40).alias("b0"),
        bucket(40, 80).alias("b1"),
        bucket(80, 120).alias("b2"),
        bucket(120, 160).alias("b3"),
        bucket(160, None).alias("b4"),
    )


@query(
    "market_channel_stats",
    oracle="""
SELECT source AS channel, lang,
       CAST(count(*) AS BIGINT) AS cnt,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents
GROUP BY source, lang
""",
    tags=("business",),
)
def market_channel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """App-market channel stats — AppMarketByChannel.scala:36-93: count by
    (channel, behavior) via a full-buffer ProcessWindowFunction; here the
    composite-key groupBy count over (source, lang)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy(F.col("source").alias("channel"), "lang").agg(
        F.count("*").alias("cnt"), F.sum("n_chars").alias("total_chars")
    )


@query(
    "user_event_list",
    oracle="""
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_events,
       string_agg(event_id, ',' ORDER BY ts, event_id) AS event_ids
FROM events
WHERE event_type = 'purchase'
GROUP BY user_id
""",
    tags=("state", "agg"),
)
def user_event_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ListState per-user event list — ListStateDemo01.java:52-76 (append
    each event to keyed list state). Batch analog: collect_list; made
    deterministic by sorting on (ts, event_id) and joining to a string
    (the exact update-mode convergence of the reference's state)."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("ts", "event_id"))),
                    lambda s: s["event_id"].cast("string"),
                ),
                ",",
            ).alias("event_ids"),
        )
    )


@query(
    "temp_rise_alert",
    oracle="""
WITH lagged AS (
    SELECT user_id, ts, value,
           lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_value
    FROM events WHERE event_type = 'error'
)
SELECT user_id, ts, prev_value, value
FROM lagged
WHERE prev_value IS NOT NULL AND value > prev_value
""",
    tags=("cep", "state"),
)
def temp_rise_alert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key delta detection (rising value) — _09_KeyedStateFunction.
    java:44-71 / _03_ProcessFunctionTimers.java:42-68: last-value keyed
    state compared against the current reading. Batch analog: lag()."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    lagged = (
        events.where(F.col("event_type") == "error")
        .withColumn("prev_value", F.lag("value").over(w))
    )
    return lagged.where(
        F.col("prev_value").isNotNull() & (F.col("value") > F.col("prev_value"))
    ).select("user_id", "ts", "prev_value", "value")


@query(
    "login_fail_streak3",
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
SELECT user_id, ts3 AS first_fail_ts, ts AS last_fail_ts
FROM fails
WHERE rn3 = rn - 2 AND ts - ts3 <= INTERVAL 2 HOUR
""",
    tags=("cep",),
)
def login_fail_streak3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CEP strict-contiguity at n=3 — the sliding-streak semantics the
    streaming twin (streaming/cep.py detect_consecutive) implements:
    every error whose 2-back error is strictly consecutive (rn
    arithmetic) and within the bound completes a match; overlapping
    matches all emit (Flink NFA parity for times(3).consecutive(),
    LoginFailWithCep.scala:38-67 — the r1 ADVICE gap where only n=2
    was oracle-exercised)."""
    events = load_table(spark, sf_dir, "events")
    seq = events.withColumn(
        "rn", F.row_number().over(Window.partitionBy("user_id").orderBy("ts", "event_id"))
    )
    w = Window.partitionBy("user_id").orderBy("rn")
    fails = (
        seq.where(F.col("event_type") == "error")
        .withColumn("rn3", F.lag("rn", 2).over(w))
        .withColumn("ts3", F.lag("ts", 2).over(w))
    )
    return fails.where(
        (F.col("rn3") == F.col("rn") - 2)
        & (F.col("ts") - F.col("ts3") <= F.expr("INTERVAL 2 HOURS"))
    ).select(
        "user_id",
        F.col("ts3").alias("first_fail_ts"),
        F.col("ts").alias("last_fail_ts"),
    )


#: Single-stage daily KMV sketch oracle — shared verbatim by
#: uv_kmv_distinct AND uv_kmv_sharded: the merge of per-shard k-min sets
#: is bit-equal to the single-stage sketch (the KMV merge algebra), so
#: one SQL text oracles both plans.
_KMV_DAY_ORACLE = """
WITH h AS (
    SELECT DISTINCT date_trunc('day', ts) AS day,
           CAST(concat('0x', substr(md5(concat(user_id, ':kmv')), 1, 15))
               AS BIGINT) AS hv
    FROM events WHERE event_type = 'view'
), r AS (
    SELECT day, hv,
           row_number() OVER (PARTITION BY day ORDER BY hv) AS rk,
           count(*) OVER (PARTITION BY day) AS n_exact
    FROM h
)
SELECT day,
       CAST(n_exact AS BIGINT) AS uv_exact,
       CAST(CASE WHEN n_exact < 64 THEN n_exact
            ELSE floor(63.0 * 1152921504606846976 / hv) END AS BIGINT)
           AS uv_kmv
FROM r WHERE rk = 64 OR (rk = n_exact AND n_exact < 64)
"""


@query(
    "uv_kmv_distinct",
    oracle=_KMV_DAY_ORACLE,
    tags=("business", "approx", "sketch"),
)
def uv_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate daily UV via a KMV (k-minimum-values, k=64) sketch —
    the DETERMINISTIC portable alternative to HLL: both engines compute
    the same 60-bit md5 hashes, the same k-th minimum is an exact
    integer, and the estimate (k-1) * 2^60 / kth_min is one correctly-
    rounded IEEE divide — so unlike uv_approx_distinct (HLL, rows-only
    by design) this sketch is bit-identical cross-engine and carries an
    exact oracle. Standard error ~1/sqrt(k-1) ~ 13%; days with fewer
    than k distinct users fall back to the exact count (the sketch is
    exact below k by construction).

    Scale shape: this catalog form shares the distinct-(day, hash)
    shuffle with the exact path (which is why uv_exact rides along for
    free as the error reference); the production win is KMV's merge
    algebra — per-partition/per-hour k-min sets union-merge into
    global/daily sketches (an Arrow UDAF holding k longs), which HLL
    shares but portable determinism is what HLL can't give."""
    from flink_tutorial_spark.operators.dedup import md5_long

    events = load_table(spark, sf_dir, "events")

    K = 64
    hv = md5_long(F.concat(F.col("user_id").cast("string"), F.lit(":kmv")))
    h = (
        events.where(F.col("event_type") == "view")
        .select(F.date_trunc("day", "ts").alias("day"), hv.alias("hv"))
        .distinct()
    )
    w = Window.partitionBy("day")
    r = h.select(
        "day",
        "hv",
        F.row_number().over(w.orderBy("hv")).alias("rk"),
        F.count("*").over(w).alias("n_exact"),
    )
    kth = (F.col("rk") == K) | ((F.col("rk") == F.col("n_exact")) & (F.col("n_exact") < K))
    return r.where(kth).select(
        "day",
        F.col("n_exact").cast("long").alias("uv_exact"),
        F.when(F.col("n_exact") < K, F.col("n_exact"))
        .otherwise(
            F.floor(F.lit(float(K - 1)) * F.lit(float(1 << 60)) / F.col("hv"))
        )
        .cast("long")
        .alias("uv_kmv"),
    )


@query(
    "uv_kmv_sharded",
    oracle=_KMV_DAY_ORACLE,
    tags=("business", "approx", "sketch"),
)
def uv_kmv_sharded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV mergeability, proven as a query (VERDICT r7 #4): compute the
    daily UV sketch TWO-STAGE — per-(day, shard) k-minimum lists first,
    then merge-and-re-truncate the <= S*k merged rows per day — and
    oracle it against the SINGLE-stage sketch SQL. Bit-equality holds
    because shards partition the hash space (shard = hv mod S), so (a)
    the global k smallest hashes are each within their own shard's k
    smallest (merge loses nothing), and (b) per-shard distinct counts
    are additive (uv_exact = sum of shard counts). This is the algebra
    the reference's UV-with-bloom composite
    (UniqueVisitorWithBloom.scala:50-120) exists to approximate —
    per-shard sketch state merged into a daily answer — but with a
    deterministic sketch an exact oracle CAN check.

    Scale shape: the win over the single-stage plan is the rank: there
    the whole day's distinct set sorts inside one day-partition; here
    stage 1 ranks within (day, shard) — S-fold smaller, S chosen to
    executor count — and stage 2 touches at most S*k = 1024 rows per
    day. Both stages are shuffle-bounded; nothing global."""
    from flink_tutorial_spark.operators.dedup import md5_long

    events = load_table(spark, sf_dir, "events")
    K, S = 64, 16
    hv = md5_long(F.concat(F.col("user_id").cast("string"), F.lit(":kmv")))
    h = (
        events.where(F.col("event_type") == "view")
        .select(F.date_trunc("day", "ts").alias("day"), hv.alias("hv"))
        .distinct()
        .withColumn("shard", F.pmod("hv", F.lit(S)))
    )
    w1 = Window.partitionBy("day", "shard")
    s1 = h.select(
        "day",
        "shard",
        "hv",
        F.row_number().over(w1.orderBy("hv")).alias("rk1"),
        F.count("*").over(w1).alias("shard_n"),
    )
    # Stage 1 outputs: the per-shard sketch (k smallest hashes) + the
    # per-shard exact distinct count riding the same window.
    sketch = s1.where(F.col("rk1") <= K)
    exact = (
        s1.where(F.col("rk1") == 1)
        .groupBy("day")
        .agg(F.sum("shard_n").alias("n_exact"))
    )
    # Stage 2: merge = union of shard sketches, re-rank, re-truncate.
    w2 = Window.partitionBy("day")
    merged = sketch.select(
        "day",
        "hv",
        F.row_number().over(w2.orderBy("hv")).alias("rk"),
        F.count("*").over(w2).alias("merged_n"),
    )
    kth = (F.col("rk") == K) | (
        (F.col("rk") == F.col("merged_n")) & (F.col("merged_n") < K)
    )
    return (
        merged.where(kth)
        .join(exact, "day")
        .select(
            "day",
            F.col("n_exact").cast("long").alias("uv_exact"),
            F.when(F.col("n_exact") < K, F.col("n_exact"))
            .otherwise(
                F.floor(F.lit(float(K - 1)) * F.lit(float(1 << 60)) / F.col("hv"))
            )
            .cast("long")
            .alias("uv_kmv"),
        )
    )


@query(
    "retention_cohorts",
    oracle="""
WITH act AS (
    SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events
), firsts AS (
    SELECT user_id, min(day) AS cohort_day FROM act GROUP BY user_id
), joined AS (
    SELECT f.cohort_day, date_diff('day', f.cohort_day, a.day) AS day_offset,
           a.user_id
    FROM act a JOIN firsts f USING (user_id)
), m AS (
    SELECT cohort_day, CAST(day_offset AS BIGINT) AS day_offset,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_active
    FROM joined GROUP BY 1, 2
)
SELECT cohort_day, day_offset, n_active,
       round(n_active::DOUBLE / first_value(n_active) OVER (
                 PARTITION BY cohort_day ORDER BY day_offset), 6)
           AS retention_pct
FROM m
""",
    tags=("business", "analytics"),
)
def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix — the product-analytics table every
    event pipeline serves: users cohorted by first-active day, then for
    each (cohort, day-offset) the count still active and the share of
    the cohort's day-0 size. The reference's market/channel demos stop
    at per-window counts; this is the cross-window composite users
    build on top of them.

    Scale shape: distinct (user, day) then a per-user min — both
    partial-aggregable on user_id and sharing the shuffle — a
    broadcast-eligible join of the firsts table back onto activity
    (|users| rows, small side by construction here; at 100 TB both
    sides key-shuffle on user_id, the same co-partition), and a final
    (cohort, offset)-bounded agg. The retention window runs over the
    matrix (days^2/2 rows), never events."""
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    act = events.select(
        "user_id", F.date_trunc("day", "ts").alias("day")
    ).distinct()
    firsts = act.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    m = (
        act.join(firsts, "user_id")
        .select(
            "cohort_day",
            F.datediff("day", "cohort_day").cast("long").alias("day_offset"),
            "user_id",
        )
        .groupBy("cohort_day", "day_offset")
        .agg(F.countDistinct("user_id").cast("long").alias("n_active"))
    )
    w = Window.partitionBy("cohort_day").orderBy("day_offset")
    return m.select(
        "cohort_day",
        "day_offset",
        "n_active",
        F.round(
            F.col("n_active") / F.first("n_active").over(w), 6
        ).alias("retention_pct"),
    )


@query(
    "session_funnel_conversion",
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
           sum(new_s) OVER (PARTITION BY user_id
                            ORDER BY ts, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
    FROM seq
), per AS (
    SELECT user_id, session_id,
           date_trunc('day', min(ts)) AS day,
           min(CASE WHEN event_type = 'view' THEN ts END) AS v_ts,
           min(CASE WHEN event_type = 'click' THEN ts END) AS c_ts,
           min(CASE WHEN event_type = 'purchase' THEN ts END) AS p_ts
    FROM sess GROUP BY 1, 2
)
SELECT day,
       CAST(count(*) AS BIGINT) AS n_sessions,
       CAST(count(v_ts) AS BIGINT) AS n_view,
       CAST(count(*) FILTER (WHERE c_ts > v_ts) AS BIGINT) AS n_view_click,
       CAST(count(*) FILTER (WHERE c_ts > v_ts AND p_ts > c_ts) AS BIGINT)
           AS n_converted
FROM per GROUP BY day
""",
    tags=("business", "analytics", "cep"),
)
def session_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionized funnel conversion — 30-minute-gap sessionization
    (the reference's session-window semantics, SessionWindow demos)
    feeding an ORDERED funnel (view -> click -> purchase within the
    session, each stage strictly after the previous): per session-start
    day, session counts at each funnel depth. The composite every
    product-analytics pipeline runs on top of session windows.

    Spark-first: the classic lag/gap -> cumsum session-id assignment
    (one window over (user, ts)), conditional min per (user, session),
    then a day-bounded agg. Both engines build identical session ids
    from the same (ts, event_id) ordering, so the oracle is exact.

    Scale shape: two windows share the user_id partition+sort; the
    session agg is partial-aggregable keyed (user, session); final agg
    is day-bounded. No joins at all."""
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.withColumn(
        "new_s",
        F.when(
            F.col("ts") - F.lag("ts").over(wo) > F.expr("INTERVAL 30 MINUTES"),
            1,
        )
        .when(F.lag("ts").over(wo).isNull(), 1)
        .otherwise(0),
    )
    sess = seq.withColumn(
        "session_id",
        F.sum("new_s").over(wo.rowsBetween(Window.unboundedPreceding, 0)),
    )
    per = sess.groupBy("user_id", "session_id").agg(
        F.date_trunc("day", F.min("ts")).alias("day"),
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("v_ts"),
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("c_ts"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("p_ts"),
    )
    return per.groupBy("day").agg(
        F.count("*").cast("long").alias("n_sessions"),
        F.count("v_ts").cast("long").alias("n_view"),
        F.count(F.when(F.col("c_ts") > F.col("v_ts"), 1))
        .cast("long")
        .alias("n_view_click"),
        F.count(
            F.when(
                (F.col("c_ts") > F.col("v_ts")) & (F.col("p_ts") > F.col("c_ts")),
                1,
            )
        )
        .cast("long")
        .alias("n_converted"),
    )


@query(
    "session_path_topk",
    oracle="""
WITH seq AS (
    SELECT user_id, event_type, ts, event_id,
           CASE WHEN ts - lag(ts) OVER w > INTERVAL 2 HOUR OR
                lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_s
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sess AS (
    SELECT user_id, event_type, ts, event_id,
           sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS session_id
    FROM seq
), paths AS (
    SELECT user_id, session_id,
           array_to_string(list(event_type ORDER BY ts, event_id)[1:8], '>')
               AS path,
           CAST(count(*) AS BIGINT) AS n_events
    FROM sess GROUP BY 1, 2
), top AS (
    SELECT path, CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(sum(n_events) AS BIGINT) AS n_events,
           row_number() OVER (ORDER BY count(*) DESC, path) AS rk
    FROM paths GROUP BY path
)
SELECT CAST(rk AS BIGINT) AS rank, path, n_sessions, n_events
FROM top WHERE rk <= 20
""",
    tags=("business", "analytics", "window"),
)
def session_path_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 user journey paths: 2-hour-gap sessionization (the wider
    gap deliberately exercises multi-event sessions alongside the
    funnel's 30-minute one), each session reduced to its ordered
    event-type sequence truncated to 8 steps, ranked by frequency —
    the path-analysis report product teams run right after funnels
    (which exact journeys dominate, where do they detour).

    Scale shape: the gap/cumsum session windows share one user sort
    shuffle; per-session path assembly is collect_list+array_sort on
    (ts, event_id) structs INSIDE a keyed agg (bounded by session
    length, capped at 8 emitted steps); the final rank sorts only the
    DISTINCT path table (bounded by the path vocabulary, not by
    sessions — a top-k fold at scale)."""
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.withColumn(
        "new_s",
        F.when(
            F.col("ts") - F.lag("ts").over(wo) > F.expr("INTERVAL 2 HOURS"), 1
        )
        .when(F.lag("ts").over(wo).isNull(), 1)
        .otherwise(0),
    )
    sess = seq.withColumn(
        "session_id",
        F.sum("new_s").over(wo.rowsBetween(Window.unboundedPreceding, 0)),
    )
    paths = sess.groupBy("user_id", "session_id").agg(
        F.array_join(
            F.slice(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("ts", "event_id", "event_type"))
                    ),
                    lambda x: x["event_type"],
                ),
                1,
                8,
            ),
            ">",
        ).alias("path"),
        F.count("*").cast("long").alias("n_events"),
    )
    agg = paths.groupBy("path").agg(
        F.count("*").cast("long").alias("n_sessions"),
        F.sum("n_events").cast("long").alias("n_events"),
    )
    # top-k FOLD first (TakeOrderedAndProject: per-partition partial
    # top-20 + driver merge — no single-partition sort of the full path
    # table), then rank the 20 survivors
    top = agg.orderBy(F.col("n_sessions").desc(), "path").limit(20)
    ranked = top.withColumn(
        "rank",
        F.row_number()
        .over(Window.orderBy(F.col("n_sessions").desc(), "path"))
        .cast("long"),
    )
    return ranked.select("rank", "path", "n_sessions", "n_events")


@query(
    "rfm_segments",
    oracle="""
WITH m AS (
  SELECT o_custkey AS custkey,
         CAST(max(epoch_us(o_orderdate)) AS BIGINT) AS last_us,
         CAST(count(*) AS BIGINT) AS frequency,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS monetary_c
  FROM orders GROUP BY 1
), g AS (
  SELECT max(last_us) AS now_us,
         quantile_cont(-last_us, [0.25, 0.5, 0.75]) AS rq,
         quantile_cont(frequency, [0.25, 0.5, 0.75]) AS fq,
         quantile_cont(monetary_c, [0.25, 0.5, 0.75]) AS mq
  FROM m
)
SELECT custkey,
       CAST((g.now_us - last_us) // 86400000000 AS BIGINT) AS recency_days,
       frequency,
       round(monetary_c / 100.0, 2) AS monetary,
       CAST(1 + CAST(-last_us <= rq[3] AS INT) + CAST(-last_us <= rq[2] AS INT)
              + CAST(-last_us <= rq[1] AS INT) AS BIGINT) AS r_score,
       CAST(1 + CAST(frequency >= fq[1] AS INT) + CAST(frequency >= fq[2] AS INT)
              + CAST(frequency >= fq[3] AS INT) AS BIGINT) AS f_score,
       CAST(1 + CAST(monetary_c >= mq[1] AS INT) + CAST(monetary_c >= mq[2] AS INT)
              + CAST(monetary_c >= mq[3] AS INT) AS BIGINT) AS m_score
FROM m, g
""",
    tags=("business", "analytics"),
)
def rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation — the classic warehouse scoring query:
    per customer, recency (days since last order, against the corpus
    max date), frequency (order count) and monetary (2-dp fixed-point
    revenue), each scored 1-4 against exact interpolated quartiles of
    the customer population.

    Scored via BOUNDARY COMPARISON, not ntile(): ntile needs a global
    single-partition sort of all customers, while three quantile_cont
    boundaries are one tiny aggregate broadcast back over a map-side
    compare — the scale-safe formulation (ties land deterministically
    on the same side of a boundary in both engines since metrics and
    boundaries are exact integers / their exact interpolations).

    Scale shape: one partial-aggregable groupBy(custkey), one 1-row
    quartile aggregate (exact percentile sorts |customers| values
    once), one broadcast crossJoin, map-side scoring. No global sort,
    no shuffle beyond the customer agg."""
    o = load_table(spark, sf_dir, "orders")
    m = o.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.max(F.unix_micros("o_orderdate")).cast("long").alias("last_us"),
        F.count("*").cast("long").alias("frequency"),
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long")).alias(
            "monetary_c"
        ),
    )
    g = m.agg(
        F.max("last_us").alias("now_us"),
        F.expr("percentile(-last_us, array(0.25D, 0.5D, 0.75D))").alias("rq"),
        F.expr("percentile(frequency, array(0.25D, 0.5D, 0.75D))").alias("fq"),
        F.expr("percentile(monetary_c, array(0.25D, 0.5D, 0.75D))").alias("mq"),
    )
    j = m.withColumn("neg_last", -F.col("last_us")).crossJoin(F.broadcast(g))

    def score(col, q, asc: bool):
        # asc=True: smaller is better (recency via negation handled by
        # caller); score = 1 + #boundaries cleared
        c = F.col(col)
        qs = [F.col(q)[i] for i in range(3)]
        if asc:
            return (
                F.lit(1)
                + (c <= qs[2]).cast("int")
                + (c <= qs[1]).cast("int")
                + (c <= qs[0]).cast("int")
            )
        return (
            F.lit(1)
            + (c >= qs[0]).cast("int")
            + (c >= qs[1]).cast("int")
            + (c >= qs[2]).cast("int")
        )

    return j.select(
        "custkey",
        F.expr("(now_us - last_us) div 86400000000").cast("long").alias(
            "recency_days"
        ),
        "frequency",
        F.round(F.col("monetary_c") / 100.0, 2).alias("monetary"),
        score("neg_last", "rq", asc=True).alias("r_score"),
        score("frequency", "fq", asc=False).alias("f_score"),
        score("monetary_c", "mq", asc=False).alias("m_score"),
    ).withColumn("r_score", F.col("r_score").cast("long")) \
     .withColumn("f_score", F.col("f_score").cast("long")) \
     .withColumn("m_score", F.col("m_score").cast("long"))


@query(
    "value_clamped_ledger",
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
    tags=("window", "business"),
)
def value_clamped_ledger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Floor-clamped running balance (stock that can't go negative,
    prepaid credit that can't overdraw): balance_i = max(0,
    balance_{i-1} + delta_i). The recursion LOOKS sequential, but the
    drawdown identity x_i = S_i - least(min_{j<=i} S_j, 0) turns it
    into two stacked running windows over the SAME (user, ts) sort —
    no per-row scan, no UDF, one shuffle (the trick that keeps a
    ledger query distributed at 100 TB; property-tested against the
    sequential recursion in tests/test_operators_misc.py). Deltas in
    integer cents keep every prefix sum exact."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100, 0).cast("long")
    led = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(
            F.col("event_type").isin("view", "click"), cents
        ).otherwise(-cents).alias("delta_c"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    s = led.withColumn("run", F.sum("delta_c").over(w).cast("long"))
    m = s.withColumn("run_min", F.min("run").over(w).cast("long"))
    return m.select(
        "user_id",
        "ts",
        "event_id",
        F.round(F.col("delta_c") / 100.0, 2).alias("delta"),
        F.round(
            (F.col("run") - F.least(F.col("run_min"), F.lit(0))) / 100.0, 2
        ).alias("balance"),
    )


@query(
    "value_percentiles_daily",
    oracle="""
SELECT event_type, date_trunc('day', ts) AS day,
       CAST(count(*) AS BIGINT) AS n,
       round(quantile_cont(value, 0.5), 6) AS p50,
       round(quantile_cont(value, 0.95), 6) AS p95,
       round(quantile_cont(value, 0.99), 6) AS p99
FROM events GROUP BY 1, 2
""",
    tags=("window", "business", "agg"),
)
def value_percentiles_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(series, day) exact interpolated latency-style percentiles —
    the SLO report shape (p50/p95/p99 per service per day). Unlike the
    global value_percentiles, the sort cost here is per GROUP: each
    (type, day) cell sorts only its own values inside a keyed agg, so
    the query scales with the largest cell, not the table. (At cells
    too large to sort, the approx_percentile sketch is the documented
    fallback — not used here because its estimates are engine-private,
    like HLL.)"""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(
        F.count("*").cast("long").alias("n"),
        F.round(F.expr("percentile(value, 0.5D)"), 6).alias("p50"),
        F.round(F.expr("percentile(value, 0.95D)"), 6).alias("p95"),
        F.round(F.expr("percentile(value, 0.99D)"), 6).alias("p99"),
    )


@query(
    "revenue_grouping_sets",
    oracle="""
SELECT CAST(grouping(c_mktsegment) AS BIGINT) AS g_seg,
       CAST(grouping(o_orderpriority) AS BIGINT) AS g_pri,
       c_mktsegment, o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS revenue_c
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY GROUPING SETS ((c_mktsegment, o_orderpriority),
                        (c_mktsegment), (o_orderpriority), ())
""",
    tags=("sql", "agg", "business"),
)
def revenue_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-level revenue report in ONE pass via GROUP BY GROUPING
    SETS (segment x priority, each margin, grand total) with grouping()
    flags disambiguating real NULLs from subtotal rows — the Table/SQL
    surface next to rollup_revenue's ROLLUP (note/05.Table_SQL.md
    aggregate sections). Catalyst expands the sets into a single
    shuffle with partial aggregation — vs four separate scans if a
    report engine issued each level as its own query. Revenue in
    integer cents for bit-exact sums."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("v_orders")
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("v_customer")
    return spark.sql("""
SELECT CAST(grouping(c_mktsegment) AS BIGINT) AS g_seg,
       CAST(grouping(o_orderpriority) AS BIGINT) AS g_pri,
       c_mktsegment, o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
           AS revenue_c
FROM v_orders JOIN v_customer ON o_custkey = c_custkey
GROUP BY GROUPING SETS ((c_mktsegment, o_orderpriority),
                        (c_mktsegment), (o_orderpriority), ())
""")


_CM_HASH = (
    "CAST(concat('0x', substr(md5(concat(CAST(item AS VARCHAR), ':cm:', "
    "{i})), 1, 15)) AS BIGINT) % 512"
)


@query(
    "freq_cm_sketch",
    oracle=f"""
WITH ev AS (
  SELECT CAST(json_extract_string(props, '$.k') AS INT) AS item FROM events
  WHERE json_extract_string(props, '$.k') IS NOT NULL
), exact AS (
  SELECT item, CAST(count(*) AS BIGINT) AS exact_cnt FROM ev GROUP BY item
), cells AS (
  SELECT r.i AS row_i, {_CM_HASH.format(i="r.i")} AS cell,
         CAST(count(*) AS BIGINT) AS c
  FROM ev, (SELECT unnest(range(4)) AS i) r
  GROUP BY 1, 2
), est AS (
  SELECT e.item, min(c.c) AS est_cnt
  FROM exact e
  JOIN cells c
    ON c.cell = ({_CM_HASH.format(i="c.row_i")})
  GROUP BY e.item
)
SELECT CAST(e.item AS BIGINT) AS item_id, x.exact_cnt,
       CAST(e.est_cnt AS BIGINT) AS est_cnt,
       CAST(e.est_cnt - x.exact_cnt AS BIGINT) AS overestimate
FROM est e JOIN exact x USING (item)
""",
    tags=("business", "approx", "sketch", "measurement"),
)
def freq_cm_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min frequency sketch CALIBRATION — the mergeable
    heavy-hitter sketch next to KMV's distinct sketch: 4 hash rows x
    512 cells of integer SUMS (adds commute, so unlike HLL/Misra-Gries
    the sketch is order-independent and therefore bit-exact
    cross-engine with an exact oracle); each item's estimate is the min
    over its 4 cells, always >= the exact count. The report shows
    est-vs-exact per item — the table you read before trusting CM
    widths at scale, like dedup_minhash_calibration for LSH.

    Scale shape: the cell build shuffles only (row, cell) partial
    aggregates (<= 2048 cells regardless of corpus size — at 100 TB
    this replaces the |keys|-sized exact shuffle for heavy-hitter
    screening); the estimate joins the bounded cell table back as a
    broadcast. The exact side rides along here as the calibration
    reference, bounded by |items|."""
    from flink_tutorial_spark.operators.dedup import md5_long

    events = load_table(spark, sf_dir, "events")
    ev = events.select(
        F.get_json_object("props", "$.k").cast("int").alias("item")
    ).where(F.col("item").isNotNull())

    def cm_cell(item_col, i_col):
        return (
            md5_long(
                F.concat(
                    item_col.cast("string"), F.lit(":cm:"), i_col.cast("string")
                )
            )
            % 512
        )

    rows_df = ev.sparkSession.range(4).select(F.col("id").cast("int").alias("row_i"))
    cells = (
        ev.crossJoin(F.broadcast(rows_df))
        .groupBy("row_i", cm_cell(F.col("item"), F.col("row_i")).alias("cell"))
        .agg(F.count("*").cast("long").alias("c"))
    )
    exact = ev.groupBy("item").agg(F.count("*").cast("long").alias("exact_cnt"))
    est = (
        exact.crossJoin(F.broadcast(rows_df))
        .withColumn("cell", cm_cell(F.col("item"), F.col("row_i")))
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


# ---------------------------------------------------------------------------
# Mergeable quantile sketch (HDR-style fixed-boundary log2 histogram)
# ---------------------------------------------------------------------------
# Bucket rule shared by the three quantile-sketch queries and their
# oracles: value -> integer cents vc = greatest(round(value*100), 1)
# (the clamp routes zero/sub-cent values into the first cell — log2(0)
# is an ERROR in DuckDB and a silent NULL cell in Spark, and sf0.1's
# exponential value column does produce exact 0.00 rows; at vc=1 the
# estimate error is absolute <= ~1 cent instead of relative)
# -> octave e = floor(log2(vc))
# (double log2 then INTEGER-corrected with shifts, so a 1-ulp libm
# difference between engines can never move a bucket) -> 32 linear
# sub-buckets per octave m = (vc*32) div 2^e - 32. Counts per (e, m)
# are plain integer sums: order-independent, shard-additive, and
# therefore bit-exact cross-engine — the same mergeability algebra as
# the KMV distinct sketch and the count-min frequency sketch. The
# quantile estimate is the midpoint of the first bucket whose
# cumulative count reaches ceil(q*n): relative error <= 1/64.
# Every arithmetic step after the corrected log2 is integer or a
# single IEEE multiply/divide (2^e via bit shift, never pow), and the
# quantile fractions are CAST AS DOUBLE in the oracle so DuckDB's
# decimal literals can't diverge from Spark's doubles.

_QSKETCH_BUCKETS_SQL = """
ev AS (
  SELECT event_type, greatest(CAST(round(value * 100) AS BIGINT), 1) AS vc
  FROM events
), e0t AS (
  SELECT event_type, vc, CAST(floor(log2(vc)) AS INT) AS e0 FROM ev
), et AS (
  SELECT event_type, vc,
         CASE WHEN vc >= (CAST(1 AS BIGINT) << (e0 + 1)) THEN e0 + 1
              WHEN vc < (CAST(1 AS BIGINT) << e0) THEN e0 - 1
              ELSE e0 END AS e
  FROM e0t
), b AS (
  SELECT event_type, e,
         ((vc * 32) // (CAST(1 AS BIGINT) << e)) - 32 AS m,
         CAST(count(*) AS BIGINT) AS c
  FROM et GROUP BY 1, 2, 3
)"""

_QSKETCH_EST_SQL = """
cum AS (
  SELECT event_type, e, m, c,
         sum(c) OVER (PARTITION BY event_type ORDER BY e * 32 + m) AS cum,
         sum(c) OVER (PARTITION BY event_type) AS n
  FROM b
), picks AS (
  SELECT c.event_type, q.q, c.n, min(c.e * 32 + c.m) AS idx
  FROM cum c CROSS JOIN (SELECT CAST(unnest([0.5, 0.95, 0.99]) AS DOUBLE) AS q) q
  WHERE c.cum >= ceil(q.q * c.n)
  GROUP BY 1, 2, 3
), reps AS (
  SELECT event_type, q, n,
         round((32 + (idx % 32) + 0.5)
               * CAST(CAST(1 AS BIGINT) << (idx // 32) AS DOUBLE) / 3200.0, 6)
             AS rep
  FROM picks
), est AS (
  SELECT event_type, CAST(n AS BIGINT) AS n,
         max(CASE WHEN q = 0.5 THEN rep END) AS p50_est,
         max(CASE WHEN q = 0.95 THEN rep END) AS p95_est,
         max(CASE WHEN q = 0.99 THEN rep END) AS p99_est
  FROM reps GROUP BY 1, 2
)"""


def qsketch_rows(events: DataFrame, *cols: str) -> DataFrame:
    """Per-ROW bucket coordinates (*cols, e, m) — the row-level stage
    of the quantile sketch (value -> octave e, sub-bucket m).
    qsketch_buckets aggregates it, for the batch family and for the
    live twin (queries_streaming.quantile_day_cells) alike, so the
    bucketing rule cannot drift between them (the kmv_kth/hll_reg
    lesson). `cols` are passthrough columns kept on every row
    (defaults to event_type)."""
    keys = list(cols) or ["event_type"]
    ev = events.select(
        *keys,
        F.greatest(F.round(F.col("value") * 100).cast("long"), F.lit(1)).alias(
            "vc"
        ),
    )
    e0t = ev.select(*keys, "vc", F.floor(F.log2("vc")).cast("int").alias("e0"))
    et = e0t.select(
        *keys,
        "vc",
        F.when(
            F.col("vc") >= F.expr("shiftleft(CAST(1 AS BIGINT), e0 + 1)"),
            F.col("e0") + 1,
        )
        .when(F.col("vc") < F.expr("shiftleft(CAST(1 AS BIGINT), e0)"), F.col("e0") - 1)
        .otherwise(F.col("e0"))
        .alias("e"),
    )
    return et.select(
        *keys,
        "e",
        (F.expr("(vc * 32) div shiftleft(CAST(1 AS BIGINT), e)") - 32).alias(
            "m"
        ),
    )


def qsketch_buckets(events: DataFrame, *group_cols: str) -> DataFrame:
    """(*group_cols, e, m, c) histogram cells for the quantile sketch —
    the Spark twin of _QSKETCH_BUCKETS_SQL (group_cols defaults to
    event_type). One partial-aggregated groupBy over qsketch_rows; cell
    count is bounded by 32 * octaves (~512) per group regardless of
    input size."""
    keys = list(group_cols) or ["event_type"]
    return qsketch_rows(events, *keys).groupBy(*keys, "e", "m").agg(
        F.count("*").cast("long").alias("c")
    )


def qsketch_estimate(buckets: DataFrame, *group_cols: str) -> DataFrame:
    """(*group_cols, n, p50_est, p95_est, p99_est) from histogram cells
    — the Spark twin of _QSKETCH_EST_SQL (group_cols defaults to
    event_type). Windows run over the bounded cell table (<= ~512 rows
    per group), never the raw data; the 3-quantile expansion is a
    broadcast crossJoin."""
    keys = list(group_cols) or ["event_type"]
    spark = buckets.sparkSession
    idx = (F.col("e") * 32 + F.col("m")).alias("idx")
    wcum = Window.partitionBy(*keys).orderBy(F.col("e") * 32 + F.col("m"))
    wall = Window.partitionBy(*keys)
    cum = buckets.select(
        *keys,
        idx,
        F.sum("c").over(wcum).alias("cum"),
        F.sum("c").over(wall).alias("n"),
    )
    qs = spark.createDataFrame([(0.5,), (0.95,), (0.99,)], ["q"])
    picks = (
        cum.crossJoin(F.broadcast(qs))
        .where(F.col("cum") >= F.ceil(F.col("q") * F.col("n")))
        .groupBy(*keys, "q", "n")
        .agg(F.min("idx").alias("idx"))
    )
    rep = F.round(
        (F.lit(32) + F.col("idx") % 32 + F.lit(0.5))
        * F.expr("CAST(shiftleft(CAST(1 AS BIGINT), idx div 32) AS DOUBLE)")
        / F.lit(3200.0),
        6,
    )
    return (
        picks.withColumn("rep", rep)
        .groupBy(*keys, F.col("n").cast("long").alias("n"))
        .agg(
            F.max(F.when(F.col("q") == 0.5, F.col("rep"))).alias("p50_est"),
            F.max(F.when(F.col("q") == 0.95, F.col("rep"))).alias("p95_est"),
            F.max(F.when(F.col("q") == 0.99, F.col("rep"))).alias("p99_est"),
        )
    )


@query(
    "value_quantile_sketch",
    oracle=f"""
WITH {_QSKETCH_BUCKETS_SQL}, {_QSKETCH_EST_SQL},
exact AS (
  SELECT event_type,
         round(quantile_cont(value, 0.5), 6) AS p50_exact,
         round(quantile_cont(value, 0.95), 6) AS p95_exact,
         round(quantile_cont(value, 0.99), 6) AS p99_exact
  FROM events GROUP BY 1
)
SELECT e.event_type, e.n, e.p50_est, x.p50_exact,
       e.p95_est, x.p95_exact, e.p99_est, x.p99_exact
FROM est e JOIN exact x USING (event_type)
""",
    tags=("business", "approx", "sketch", "measurement"),
)
def value_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile sketch CALIBRATION — the third mergeable sketch next to
    KMV (distinct) and count-min (frequency): an HDR-style fixed-
    boundary log2 histogram (32 sub-buckets per octave, relative error
    <= 1/64) whose cells are plain integer counts — order-independent
    and shard-additive, so unlike t-digest/KLL (whose compactions
    depend on arrival order) the sketch is bit-exact cross-engine and
    carries an exact oracle. Reports est-vs-exact p50/p95/p99 per
    event_type — the table you read before trusting the bucket width
    at scale, like freq_cm_sketch for CM and
    dedup_minhash_calibration for LSH.

    Scale shape: the cell build is ONE partial-aggregated shuffle with
    output bounded by groups x ~512 cells however large the input; the
    estimate windows run over that bounded table only. The exact
    percentile side (a per-group sort) rides along here as the
    calibration reference — at 100 TB only the sketch path runs, which
    is the point."""
    events = load_table(spark, sf_dir, "events")
    est = qsketch_estimate(qsketch_buckets(events))
    exact = events.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5D)"), 6).alias("p50_exact"),
        F.round(F.expr("percentile(value, 0.95D)"), 6).alias("p95_exact"),
        F.round(F.expr("percentile(value, 0.99D)"), 6).alias("p99_exact"),
    )
    return est.join(exact, "event_type").select(
        "event_type", "n", "p50_est", "p50_exact",
        "p95_est", "p95_exact", "p99_est", "p99_exact",
    )


@query(
    "value_quantile_sharded",
    oracle=f"""
WITH {_QSKETCH_BUCKETS_SQL}, {_QSKETCH_EST_SQL}
SELECT event_type, n, p50_est, p95_est, p99_est FROM est
""",
    tags=("business", "approx", "sketch"),
)
def value_quantile_sharded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-sketch MERGEABILITY, proven as a query (the
    uv_kmv_sharded pattern): build the histogram TWO-STAGE — per-
    (event_type, shard) cell counts first (shard = event_id mod 16),
    then merge shards by plain addition per cell — and oracle it
    against the SINGLE-stage sketch SQL. Bit-equality is structural:
    cell counts are integer sums, and sums are associative over any
    sharding — precisely the property t-digest/KLL lack and the reason
    this sketch was chosen. This is the 100 TB deployment shape:
    per-executor (or per-hour) histograms merged into the global one
    with a ~512-row vector add, no raw-data re-shuffle."""
    events = load_table(spark, sf_dir, "events")
    sharded = events.withColumn("shard", F.pmod("event_id", F.lit(16)))
    # Stage 1: per-shard sketches (the per-executor/per-hour state).
    per_shard = qsketch_buckets(sharded, "event_type", "shard")
    # Stage 2: merge = vector add of shard cell counts.
    merged = per_shard.groupBy("event_type", "e", "m").agg(
        F.sum("c").cast("long").alias("c")
    )
    return qsketch_estimate(merged)


@query(
    "value_quantile_rolling",
    oracle="""
WITH ev AS (
  SELECT event_type, date_trunc('day', ts) AS day,
         greatest(CAST(round(value * 100) AS BIGINT), 1) AS vc FROM events
), e0t AS (
  SELECT event_type, day, vc, CAST(floor(log2(vc)) AS INT) AS e0 FROM ev
), et AS (
  SELECT event_type, day, vc,
         CASE WHEN vc >= (CAST(1 AS BIGINT) << (e0 + 1)) THEN e0 + 1
              WHEN vc < (CAST(1 AS BIGINT) << e0) THEN e0 - 1
              ELSE e0 END AS e
  FROM e0t
), b0 AS (
  SELECT event_type, day, e,
         ((vc * 32) // (CAST(1 AS BIGINT) << e)) - 32 AS m,
         CAST(count(*) AS BIGINT) AS c
  FROM et GROUP BY 1, 2, 3, 4
), days AS (SELECT DISTINCT day FROM ev
), b AS (
  SELECT b0.event_type, d.day, b0.e, b0.m, CAST(sum(b0.c) AS BIGINT) AS c
  FROM b0 JOIN days d
    ON b0.day <= d.day AND b0.day > d.day - INTERVAL 7 DAY
  GROUP BY 1, 2, 3, 4
), cum AS (
  SELECT event_type, day, e, m, c,
         sum(c) OVER (PARTITION BY event_type, day ORDER BY e * 32 + m) AS cum,
         sum(c) OVER (PARTITION BY event_type, day) AS n
  FROM b
), picks AS (
  SELECT c.event_type, c.day, q.q, c.n, min(c.e * 32 + c.m) AS idx
  FROM cum c CROSS JOIN (SELECT CAST(unnest([0.5, 0.95, 0.99]) AS DOUBLE) AS q) q
  WHERE c.cum >= ceil(q.q * c.n)
  GROUP BY 1, 2, 3, 4
), reps AS (
  SELECT event_type, day, q, n,
         round((32 + (idx % 32) + 0.5)
               * CAST(CAST(1 AS BIGINT) << (idx // 32) AS DOUBLE) / 3200.0, 6)
             AS rep
  FROM picks
)
SELECT event_type, day, CAST(n AS BIGINT) AS n,
       max(CASE WHEN q = 0.5 THEN rep END) AS p50_est,
       max(CASE WHEN q = 0.95 THEN rep END) AS p95_est,
       max(CASE WHEN q = 0.99 THEN rep END) AS p99_est
FROM reps GROUP BY 1, 2, 3
""",
    tags=("business", "approx", "sketch", "window"),
)
def value_quantile_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day p50/p95/p99 per (event_type, day) computed by
    MERGING DAILY SKETCH CELLS — the query that shows why a mergeable
    quantile sketch earns its place in a 100 TB deployment: the raw
    data is touched ONCE (one partial-aggregated pass building per-day
    histogram cells, the state a daily batch job would persist); every
    trailing-7-day window is then answered by a vector add over
    <= 7 x ~512 cells per group — where the exact approach re-sorts
    7 days of raw values per report day (7x re-scan), and
    t-digest/KLL merges would be order-dependent and unauditable.

    The 7x cell expansion is an explode over a literal 0..6 offset
    sequence on the CELL table (types x days x cells rows — thousands),
    never the raw data; the semi-join against observed days drops
    past-horizon targets. Windows at the series head are partial
    (trailing semantics), matching the SQL range join."""
    events = load_table(spark, sf_dir, "events")
    ev = events.select(
        "event_type", F.date_trunc("day", "ts").alias("day"), "value"
    )
    b0 = qsketch_buckets(ev, "event_type", "day")
    days = ev.select("day").distinct()
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


# PSI drift rule shared by the batch query, its live twin
# (streaming_drift_psi), and both oracles: fixed split timestamp,
# 10 constant-width bins (width 50, top bin open), add-1/add-10
# Laplace smoothing, flag at the conventional 0.2 threshold. The
# planted shift (click x1.6+40 in the current window) lives in the
# fixture derivation so exactly one type must flag.
_DRIFT_PSI_SQL = """
WITH ev AS (
  SELECT event_type, ts,
         CASE WHEN event_type = 'click' AND ts >= TIMESTAMP '2024-01-16'
              THEN value * 1.6 + 40.0 ELSE value END AS value
  FROM events
), binned AS (
  SELECT event_type,
         CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 'ref' ELSE 'cur' END
             AS win,
         greatest(0, least(9, CAST(floor(value / 50.0) AS BIGINT))) AS bin
  FROM ev
), grid AS (
  SELECT event_type, unnest(range(0, 10)) AS bin
  FROM (SELECT DISTINCT event_type FROM events)
), counts AS (
  SELECT event_type, bin,
         CAST(sum(CASE WHEN win = 'ref' THEN 1 ELSE 0 END) AS BIGINT)
             AS c_ref,
         CAST(sum(CASE WHEN win = 'cur' THEN 1 ELSE 0 END) AS BIGINT)
             AS c_cur
  FROM binned GROUP BY 1, 2
), filled AS (
  SELECT g.event_type, g.bin,
         coalesce(c.c_ref, 0) AS c_ref, coalesce(c.c_cur, 0) AS c_cur
  FROM grid g LEFT JOIN counts c USING (event_type, bin)
), tot AS (
  SELECT event_type, CAST(sum(c_ref) AS BIGINT) AS nr,
         CAST(sum(c_cur) AS BIGINT) AS nc
  FROM filled GROUP BY 1
)
SELECT f.event_type, t.nr AS n_ref, t.nc AS n_cur,
       round(sum( ((f.c_ref + 1.0) / (t.nr + 10.0)
                   - (f.c_cur + 1.0) / (t.nc + 10.0))
                  * ln( ((f.c_ref + 1.0) / (t.nr + 10.0))
                        / ((f.c_cur + 1.0) / (t.nc + 10.0)) ) ), 4) AS psi,
       CAST(round(sum( ((f.c_ref + 1.0) / (t.nr + 10.0)
                   - (f.c_cur + 1.0) / (t.nc + 10.0))
                  * ln( ((f.c_ref + 1.0) / (t.nr + 10.0))
                        / ((f.c_cur + 1.0) / (t.nc + 10.0)) ) ), 4) > 0.2
            AS BIGINT) AS drifted
FROM filled f JOIN tot t USING (event_type)
GROUP BY 1, 2, 3
"""


def drift_binned(events: DataFrame) -> DataFrame:
    """(event_type, win, bin) rows — the narrow, streaming-safe
    transform of _DRIFT_PSI_SQL's ev+binned CTEs: apply the planted
    current-window shift, assign the ref/cur window, bin into 10
    fixed-width cells."""
    split = F.to_timestamp(F.lit("2024-01-16"))
    ev = events.select(
        "event_type",
        "ts",
        F.when(
            (F.col("event_type") == "click") & (F.col("ts") >= split),
            F.col("value") * 1.6 + 40.0,
        )
        .otherwise(F.col("value"))
        .alias("value"),
    )
    return ev.select(
        "event_type",
        F.when(F.col("ts") < split, F.lit("ref"))
        .otherwise(F.lit("cur"))
        .alias("win"),
        # clamp BOTH ends: without the greatest(), a negative value
        # would mint bin < 0 outside the fixed 0..9 grid that the
        # join-free report and the streaming twin's state assume
        F.greatest(
            F.lit(0).cast("long"),
            F.least(F.lit(9).cast("long"), F.floor(F.col("value") / 50.0)),
        ).alias("bin"),
    )


def drift_cells(binned: DataFrame) -> DataFrame:
    """(event_type, win, bin, c) histogram cells — ONE partial-
    aggregable groupBy; in the live twin this agg runs in complete
    mode and the cell table (types x 2 x 10 rows) IS the entire
    streaming state."""
    return binned.groupBy("event_type", "win", "bin").agg(
        F.count("*").cast("long").alias("c")
    )


def drift_psi_report(cells: DataFrame) -> DataFrame:
    """PSI per event_type from converged cells — every step runs over
    the tiny cell table only, so batch and live twins share it
    verbatim. Deliberately JOIN-FREE: window totals + a closed-form
    term for the (10 - observed) empty bins replace the usual
    zero-filled grid join, both because two branches of one plan add
    needless stages and because memory-sink tables (the live twin's
    converged state) cannot self-join at all (Spark fails to
    de-conflict attribute references across the two branches)."""
    counts = cells.groupBy("event_type", "bin").agg(
        F.sum(F.when(F.col("win") == "ref", F.col("c")).otherwise(0))
        .cast("long")
        .alias("c_ref"),
        F.sum(F.when(F.col("win") == "cur", F.col("c")).otherwise(0))
        .cast("long")
        .alias("c_cur"),
    )
    w = Window.partitionBy("event_type")
    totaled = counts.select(
        "event_type",
        "c_ref",
        "c_cur",
        F.sum("c_ref").over(w).cast("long").alias("n_ref"),
        F.sum("c_cur").over(w).cast("long").alias("n_cur"),
    )
    p = (F.col("c_ref") + 1.0) / (F.col("n_ref") + 10.0)
    q = (F.col("c_cur") + 1.0) / (F.col("n_cur") + 10.0)
    # an empty bin's smoothed term depends only on the window totals
    p0 = 1.0 / (F.col("n_ref") + 10.0)
    q0 = 1.0 / (F.col("n_cur") + 10.0)
    agg = totaled.groupBy("event_type", "n_ref", "n_cur").agg(
        F.sum((p - q) * F.log(p / q)).alias("s_obs"),
        F.count("*").alias("n_bins"),
    )
    psi = F.round(
        F.col("s_obs")
        + (F.lit(10) - F.col("n_bins")) * ((p0 - q0) * F.log(p0 / q0)),
        4,
    )
    return agg.select(
        "event_type",
        "n_ref",
        "n_cur",
        psi.alias("psi"),
        (psi > 0.2).cast("long").alias("drifted"),
    )


@query(
    "value_drift_psi",
    oracle=_DRIFT_PSI_SQL,
    tags=("business", "quality", "monitoring"),
)
def value_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-stability-index drift report per event_type — the
    data-quality monitor every production feature/ingest pipeline runs
    between a reference window and the current window (here the two
    halves of the month, split at Jan 16). Values are histogrammed
    into 10 fixed-width bins (width 50, top bin open — constant
    boundaries, so the binning is engine-exact and shard-mergeable);
    PSI = sum over bins of (p_ref - p_cur) * ln(p_ref / p_cur) with
    add-1/add-10 Laplace smoothing so empty bins never hit ln(0);
    drifted flags PSI > 0.2 (the conventional action threshold). The
    fixture plants real drift: click values in the current window are
    shifted x1.6 + 40, so exactly one type must flag.

    Scale shape: one partial-aggregable groupBy(event_type, bin) over
    the raw data — the histogram cells are the ONLY state (types x 10
    rows), the same mergeable-cells algebra as the quantile sketch; the
    bin grid is a types x 10 literal explode; totals and the PSI sum
    run over cells only. At 100 TB each window's cells come from its
    own partial agg — no raw-data join ever happens."""
    events = load_table(spark, sf_dir, "events")
    return drift_psi_report(drift_cells(drift_binned(events)))


@query(
    "freq_cm_heavy_hitters",
    oracle=f"""
WITH ev0 AS (
  SELECT event_id,
         CAST(json_extract_string(props, '$.k') AS INT) AS item0
  FROM events
  WHERE json_extract_string(props, '$.k') IS NOT NULL
), ev AS (
  SELECT CASE WHEN event_id % 4 < 2 THEN item0 % 3 ELSE item0 END AS item
  FROM ev0
), exact AS (
  SELECT item, CAST(count(*) AS BIGINT) AS exact_cnt FROM ev GROUP BY item
), tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n FROM ev
), cells AS (
  SELECT r.i AS row_i, {{cm_i}} AS cell,
         CAST(count(*) AS BIGINT) AS c
  FROM ev, (SELECT unnest(range(4)) AS i) r
  GROUP BY 1, 2
), est AS (
  SELECT e.item, min(c.c) AS est_cnt
  FROM exact e
  JOIN cells c
    ON c.cell = ({{cm_row}})
  GROUP BY e.item
)
SELECT CAST(e.item AS BIGINT) AS item_id,
       CAST(e.est_cnt AS BIGINT) AS est_cnt,
       x.exact_cnt,
       CAST(CASE WHEN x.exact_cnt * 64 >= t.n THEN 1 ELSE 0 END AS BIGINT)
           AS is_true_hh
FROM est e JOIN exact x USING (item), tot t
WHERE e.est_cnt * 64 >= t.n
""".format(cm_i=_CM_HASH.format(i="r.i"), cm_row=_CM_HASH.format(i="c.row_i")),
    tags=("business", "approx", "sketch", "measurement"),
)
def freq_cm_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter DECISION layer over the count-min sketch: report
    every item whose CM estimate clears the phi = 1/64 frequency
    threshold (est * 64 >= n — integer math, no float boundary), with
    exact counts and the true-HH flag as calibration. CM estimates
    never undercount, so the candidate set provably contains EVERY
    true heavy hitter (no false negatives — the guarantee the test
    pins); false positives are bounded by the cell-collision mass and
    read straight off the est-vs-exact columns. The fixture plants
    skew (half of all occurrences collapse onto item0 % 3), since the
    raw synthetic items are uniform and a threshold rule needs real
    hitters to find.

    Scale shape: the screen needs only the FIXED 2048-cell table
    (broadcast) against the item dictionary — at 100 TB the sketch
    cells merge up from shards/streams (streaming_freq_cm_onepass
    maintains the same cells live) and heavy-hitter screening never shuffles
    exact per-key counts; the exact side here is the calibration
    reference, bounded by |items|."""
    from flink_tutorial_spark.operators.dedup import md5_long

    events = load_table(spark, sf_dir, "events")
    ev = (
        events.select(
            "event_id",
            F.get_json_object("props", "$.k").cast("int").alias("item0"),
        )
        .where(F.col("item0").isNotNull())
        .select(
            F.when(F.col("event_id") % 4 < 2, F.col("item0") % 3)
            .otherwise(F.col("item0"))
            .alias("item")
        )
    )

    def cm_cell(item_col, i_col):
        return (
            md5_long(
                F.concat(
                    item_col.cast("string"), F.lit(":cm:"), i_col.cast("string")
                )
            )
            % 512
        )

    rows_df = ev.sparkSession.range(4).select(
        F.col("id").cast("int").alias("row_i")
    )
    cells = (
        ev.crossJoin(F.broadcast(rows_df))
        .groupBy("row_i", cm_cell(F.col("item"), F.col("row_i")).alias("cell"))
        .agg(F.count("*").cast("long").alias("c"))
    )
    exact = ev.groupBy("item").agg(
        F.count("*").cast("long").alias("exact_cnt")
    )
    tot = ev.agg(F.count("*").cast("long").alias("n"))
    est = (
        exact.crossJoin(F.broadcast(rows_df))
        .withColumn("cell", cm_cell(F.col("item"), F.col("row_i")))
        .join(F.broadcast(cells), ["row_i", "cell"])
        .groupBy("item", "exact_cnt")
        .agg(F.min("c").cast("long").alias("est_cnt"))
    )
    return (
        est.crossJoin(F.broadcast(tot))
        .where(F.col("est_cnt") * 64 >= F.col("n"))
        .select(
            F.col("item").cast("long").alias("item_id"),
            "est_cnt",
            "exact_cnt",
            F.when(F.col("exact_cnt") * 64 >= F.col("n"), 1)
            .otherwise(0)
            .cast("long")
            .alias("is_true_hh"),
        )
    )


@query(
    "uv_stickiness",
    oracle="""
WITH act AS (
  SELECT DISTINCT date_trunc('day', ts) AS day, user_id
  FROM events WHERE event_type = 'view'
), days AS (SELECT DISTINCT day FROM act),
dau AS (
  SELECT day, CAST(count(*) AS BIGINT) AS dau FROM act GROUP BY day
), tw AS (
  SELECT d.day, CAST(count(DISTINCT a.user_id) AS BIGINT) AS wau7
  FROM act a JOIN days d
    ON a.day <= d.day AND a.day > d.day - INTERVAL 7 DAY
  GROUP BY d.day
)
SELECT d.day, d.dau, t.wau7,
       round(d.dau::DOUBLE / t.wau7, 4) AS stickiness
FROM dau d JOIN tw t USING (day)
""",
    tags=("business", "agg", "window"),
)
def uv_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / trailing-7-day-UV stickiness per day — the engagement
    ratio dashboards pair with pv_uv_daily (UniqueVisitor.scala:43-48
    is the daily half; this adds the trailing-window denominator).
    Windows at the series head are partial (trailing semantics),
    matching the SQL range join.

    Scale shape — and the reason the KMV family exists: DISTINCT
    counts do NOT merge across days (yesterday's UV + today's UV
    double-counts returners), so the exact trailing denominator must
    re-expand the deduped (day, user) pairs into each of the <= 7
    target days they serve — a bounded 7x explode of the PAIR table
    (never raw events), then one distinct-agg per target day, the
    same cell-expansion shape as value_quantile_rolling. At 100 TB
    the pair table itself is the cost, and the deployment switches
    the denominator to the KMV sketch (uv_kmv_sharded proves the
    bit-exact shard merge; cells ARE day-mergeable where distincts
    are not), keeping this exact query as the per-day calibration."""
    events = load_table(spark, sf_dir, "events")
    act = (
        events.where(F.col("event_type") == "view")
        .select(F.date_trunc("day", "ts").alias("day"), "user_id")
        .distinct()
    )
    days = act.select("day").distinct()
    dau = act.groupBy("day").agg(F.count("*").cast("long").alias("dau"))
    tw = (
        act.withColumn("off", F.explode(F.sequence(F.lit(0), F.lit(6))))
        .withColumn(
            "day", F.col("day") + F.expr("make_interval(0, 0, 0, off, 0, 0, 0)")
        )
        .join(days.hint("broadcast"), "day")
        .groupBy("day")
        .agg(F.countDistinct("user_id").cast("long").alias("wau7"))
    )
    return dau.join(tw, "day").select(
        "day",
        "dau",
        "wau7",
        F.round(F.col("dau") / F.col("wau7"), 4).alias("stickiness"),
    )


#: Shared trailing-7-day KMV oracle — single-stage (k-th smallest hash
#: of the WINDOW UNION of distinct user hashes) — used verbatim by
#: uv_kmv_trailing AND uv_kmv_trailing_sharded: merging per-day (and
#: per-shard) k-min cells is bit-equal to sketching the union directly
#: (the KMV merge algebra: each of the union's k smallest hashes is
#: within its own day's/shard's k smallest), so one SQL text oracles
#: both plans.
_KMV_TRAILING_ORACLE = """
WITH act AS (
  SELECT DISTINCT date_trunc('day', ts) AS day,
         CAST(concat('0x', substr(md5(concat(user_id, ':kmv')), 1, 15))
             AS BIGINT) AS hv
  FROM events WHERE event_type = 'view'
), days AS (SELECT DISTINCT day FROM act),
dau AS (
  SELECT day, CAST(count(*) AS BIGINT) AS dau FROM act GROUP BY day
), win AS (
  SELECT d.day AS day, a.hv
  FROM act a JOIN days d
    ON a.day <= d.day AND a.day > d.day - INTERVAL 7 DAY
  GROUP BY 1, 2
), r AS (
  SELECT day, hv,
         row_number() OVER (PARTITION BY day ORDER BY hv) AS rk,
         count(*) OVER (PARTITION BY day) AS n_exact
  FROM win
)
SELECT r.day, u.dau,
       CAST(r.n_exact AS BIGINT) AS wau7_exact,
       CAST(CASE WHEN r.n_exact < 64 THEN r.n_exact
            ELSE floor(63.0 * 1152921504606846976 / r.hv) END AS BIGINT)
           AS wau7_kmv,
       round(u.dau::DOUBLE /
             (CASE WHEN r.n_exact < 64 THEN r.n_exact
              ELSE floor(63.0 * 1152921504606846976 / r.hv) END), 4)
           AS stickiness_kmv
FROM r JOIN dau u USING (day)
WHERE r.rk = 64 OR (r.rk = r.n_exact AND r.n_exact < 64)
"""

_KMV_K = 64
#: hash-space shards for the two-stage cell builders (batch sharded
#: variant + the live fold twin) — shared so the family cannot drift
#: from its common oracle (ADVICE r11).
_KMV_SHARDS = 16


def kmv_kth(rk, n, k: int = _KMV_K):
    """Selector for the row carrying a set's KMV statistic: the k-th
    smallest hash, or the largest when the set is smaller than k
    (below-k exactness). Shared by every member of the family so the
    selection rule cannot drift from the common oracle."""
    return (rk == k) | ((rk == n) & (n < k))


def kmv_estimate(hv, n, below_k, k: int = _KMV_K):
    """The KMV cardinality estimator (k-1) * 2^60 / kth_min_hash, with
    the exact `below_k` fallback when the set is smaller than k. One
    definition for the whole family."""
    return F.when(n < k, below_k).otherwise(
        F.floor(F.lit(float(k - 1)) * F.lit(float(1 << 60)) / hv)
    )


def _kmv_day_hashes(events: DataFrame) -> DataFrame:
    """Distinct (day, hv) user-hash pairs — the shared stage-1 of the
    trailing-KMV family (same 60-bit md5 hash space as uv_kmv_*)."""
    from flink_tutorial_spark.operators.dedup import md5_long

    hv = md5_long(F.concat(F.col("user_id").cast("string"), F.lit(":kmv")))
    return (
        events.where(F.col("event_type") == "view")
        .select(F.date_trunc("day", "ts").alias("day"), hv.alias("hv"))
        .distinct()
    )


def kmv_trailing_report(act: DataFrame, daily_cells: DataFrame) -> DataFrame:
    """Trailing-7-day UV report from MERGED DAILY KMV CELLS — the
    production denominator uv_stickiness's docstring routes to at
    100 TB (queries_patterns.py uv_stickiness: exact trailing distinct
    costs a 7x pair expansion; day-mergeable cells cost a 7x expansion
    of <= 64 rows/day).

    `act` is the distinct (day, hv) pair table (calibration reference
    only), `daily_cells` the per-day k-min cells (<= 64 rows/day, any
    provenance — single-stage rank, shard-merged, or a live stream's
    converged state). The trailing merge is distinct-union of the <= 7
    contributing days' cells, re-rank, k-th min: bit-equal to
    sketching the window union directly because every one of the
    union's k smallest hashes is within its own day's k smallest.
    When the merged set is smaller than k the sketch IS the exact set
    (below-k exactness), so the estimate falls back to the exact
    count.

    Scale shape: the cell expansion touches <= 7 * 64 rows per day —
    constant per day regardless of |users| — vs the exact path's 7x
    PAIR expansion; at deployment the exact branch (wau7_exact) is
    dropped and this report costs only cells. Both branches are one
    shuffle each; the days table is broadcast."""
    K = _KMV_K
    days = act.select("day").distinct()
    dau = act.groupBy("day").agg(F.count("*").cast("long").alias("dau"))
    off_days = F.expr("make_interval(0, 0, 0, off, 0, 0, 0)")
    # exact trailing denominator — the calibration twin (uv_stickiness
    # shape on the hash space)
    tw = (
        act.withColumn("off", F.explode(F.sequence(F.lit(0), F.lit(6))))
        .withColumn("day", F.col("day") + off_days)
        .join(days.hint("broadcast"), "day")
        .groupBy("day")
        .agg(F.countDistinct("hv").cast("long").alias("wau7_exact"))
    )
    # merged daily cells -> k-th smallest of the trailing union
    merged = (
        daily_cells.withColumn(
            "off", F.explode(F.sequence(F.lit(0), F.lit(6)))
        )
        .withColumn("day", F.col("day") + off_days)
        .join(days.hint("broadcast"), "day")
        .select("day", "hv")
        .distinct()
    )
    w = Window.partitionBy("day")
    r = merged.select(
        "day",
        "hv",
        F.row_number().over(w.orderBy("hv")).alias("rk"),
        F.count("*").over(w).alias("merged_n"),
    )
    kth = kmv_kth(F.col("rk"), F.col("merged_n"), K)
    est = kmv_estimate(F.col("hv"), F.col("merged_n"), F.col("wau7_exact"), K)
    return (
        r.where(kth)
        .join(tw, "day")
        .join(dau, "day")
        .select(
            "day",
            "dau",
            "wau7_exact",
            est.cast("long").alias("wau7_kmv"),
            F.round(F.col("dau") / est.cast("long"), 4).alias(
                "stickiness_kmv"
            ),
        )
    )


@query(
    "uv_kmv_trailing",
    oracle=_KMV_TRAILING_ORACLE,
    tags=("business", "approx", "sketch", "window"),
)
def uv_kmv_trailing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day UV denominator from MERGED DAILY KMV CELLS +
    exact calibration (VERDICT r10 #4) — the production story
    uv_stickiness names: distinct counts do not merge across days, but
    KMV cells DO, so the deployment keeps 64 longs per day and states
    any trailing window by merging cells — no raw rescan, no pair
    expansion. The oracle is the SINGLE-stage sketch of the window
    union: passing hash-exact proves the day-merge algebra as a query.

    Scale shape: daily cells are one rank per day partition over the
    deduped pair table; the trailing merge touches <= 7 * 64 rows/day.
    wau7_exact rides along as the error reference (dropped at
    deployment)."""
    act = _kmv_day_hashes(load_table(spark, sf_dir, "events"))
    w = Window.partitionBy("day")
    cells = (
        act.withColumn("rk", F.row_number().over(w.orderBy("hv")))
        .where(F.col("rk") <= _KMV_K)
        .select("day", "hv")
    )
    return kmv_trailing_report(act, cells)


@query(
    "uv_kmv_trailing_sharded",
    oracle=_KMV_TRAILING_ORACLE,
    tags=("business", "approx", "sketch", "window"),
)
def uv_kmv_trailing_sharded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sharded-merge proof for the trailing-KMV family: daily
    cells built TWO-STAGE — per-(day, shard) k-min lists (shard = hv
    mod 16 partitions the hash space), then merge-and-re-truncate to
    <= 64 per day — then the same trailing day-merge as
    uv_kmv_trailing. TWO merges deep (shard-merge inside a day, then
    day-merge across the window) against the single-stage oracle:
    bit-equality at both levels is the algebra that lets a 1000-
    executor deployment sketch per-partition, merge per-day, and
    state any window from cells.

    Scale shape: stage-1 ranks within (day, shard) — 16-fold smaller
    sorts than the single-stage plan; stage 2 touches <= 16 * 64 rows
    per day; the trailing merge <= 7 * 64."""
    K, S = _KMV_K, _KMV_SHARDS
    act = _kmv_day_hashes(load_table(spark, sf_dir, "events"))
    h = act.withColumn("shard", F.pmod("hv", F.lit(S)))
    w1 = Window.partitionBy("day", "shard")
    shard_cells = (
        h.withColumn("rk1", F.row_number().over(w1.orderBy("hv")))
        .where(F.col("rk1") <= K)
        .select("day", "hv")
    )
    w2 = Window.partitionBy("day")
    cells = (
        shard_cells.withColumn("rk", F.row_number().over(w2.orderBy("hv")))
        .where(F.col("rk") <= K)
        .select("day", "hv")
    )
    return kmv_trailing_report(act, cells)


@query(
    "uv_kmv_retention",
    oracle="""
WITH act AS (
  SELECT DISTINCT date_trunc('day', ts) AS day,
         CAST(concat('0x', substr(md5(concat(user_id, ':kmv')), 1, 15))
             AS BIGINT) AS hv
  FROM events WHERE event_type = 'view'
), days AS (SELECT DISTINCT day FROM act),
pairs AS (
  SELECT a.day AS day, b.day AS nday
  FROM days a JOIN days b ON b.day = a.day + INTERVAL 1 DAY
), r AS (
  SELECT day, hv,
         row_number() OVER (PARTITION BY day ORDER BY hv) AS rk,
         count(*) OVER (PARTITION BY day) AS n
  FROM act
), day_est AS (
  SELECT day, CAST(n AS BIGINT) AS n_exact,
         CAST(CASE WHEN n < 64 THEN n
              ELSE floor(63.0 * 1152921504606846976 / hv) END AS BIGINT)
             AS uv_kmv
  FROM r WHERE rk = 64 OR (rk = n AND n < 64)
), cells AS (SELECT day, hv FROM r WHERE rk <= 64),
uni AS (
  SELECT p.day AS day, c.hv
  FROM cells c JOIN pairs p ON c.day = p.day OR c.day = p.nday
  GROUP BY 1, 2
), ur AS (
  SELECT day, hv,
         row_number() OVER (PARTITION BY day ORDER BY hv) AS rk,
         count(*) OVER (PARTITION BY day) AS n
  FROM uni
), u_est AS (
  SELECT day,
         CAST(CASE WHEN n < 64 THEN n
              ELSE floor(63.0 * 1152921504606846976 / hv) END AS BIGINT)
             AS union_kmv
  FROM ur WHERE rk = 64 OR (rk = n AND n < 64)
), ret AS (
  SELECT a.day AS day, CAST(count(*) AS BIGINT) AS ret_exact
  FROM act a JOIN act b ON b.hv = a.hv AND b.day = a.day + INTERVAL 1 DAY
  GROUP BY 1
)
SELECT p.day,
       da.n_exact AS dau,
       db.n_exact AS dau_next,
       COALESCE(rt.ret_exact, CAST(0 AS BIGINT)) AS ret_exact,
       ue.union_kmv,
       GREATEST(CAST(0 AS BIGINT),
                da.uv_kmv + db.uv_kmv - ue.union_kmv) AS ret_kmv,
       round(GREATEST(CAST(0 AS BIGINT),
                      da.uv_kmv + db.uv_kmv - ue.union_kmv)::DOUBLE
             / da.uv_kmv, 4) AS ret_rate_kmv
FROM pairs p
JOIN day_est da ON da.day = p.day
JOIN day_est db ON db.day = p.nday
JOIN u_est ue ON ue.day = p.day
LEFT JOIN ret rt ON rt.day = p.day
""",
    tags=("business", "approx", "sketch"),
)
def uv_kmv_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-over-day RETENTION from the same daily KMV cells the
    trailing family keeps — the SET-INTERSECTION algebra the
    union-only proofs (uv_kmv_trailing r11) don't cover, and the next
    question every growth dashboard asks of the UV pipeline
    (UniqueVisitor.scala:43-48 is the daily half): of day d's users,
    how many returned on d+1?

    Distinct counts intersect no better than they merge, but KMV cells
    give |A ∩ B| by inclusion-exclusion: Â + B̂ − Û, where Û is the
    k-th-min estimate of the MERGED cells of the two days (the r11
    union algebra — each union k-min is within its own day's k-mins)
    and Â, B̂ are the per-day estimates, every term below-k-exact. So
    a deployment that already keeps 64 longs per day states the whole
    retention curve from cells alone — no raw rescan, no pair
    re-expansion; the estimate is clamped at 0 (inclusion-exclusion
    noise can go negative when the true overlap is small). ret_exact
    rides along as the calibration reference (the exact branch is one
    equi-join on (day, hv) of the deduped pair table — dropped at
    deployment exactly like wau7_exact).

    Scale shape: cells are one rank per day partition; the pair-union
    expansion touches <= 2 x 64 rows per day pair; the consecutive-day
    pair table is |days| rows, broadcast. Nothing in the sketch path
    scales with |users|."""
    K = _KMV_K
    act = _kmv_day_hashes(load_table(spark, sf_dir, "events"))
    one_day = F.expr("make_interval(0, 0, 0, 1, 0, 0, 0)")
    w = Window.partitionBy("day")
    r = act.select(
        "day",
        "hv",
        F.row_number().over(w.orderBy("hv")).alias("rk"),
        F.count("*").over(w).alias("n"),
    )
    day_est = r.where(kmv_kth(F.col("rk"), F.col("n"), K)).select(
        "day",
        F.col("n").cast("long").alias("n_exact"),
        kmv_estimate(F.col("hv"), F.col("n"), F.col("n"), K)
        .cast("long")
        .alias("uv_kmv"),
    )
    cells = r.where(F.col("rk") <= K).select("day", "hv")
    days = act.select("day").distinct()
    pairs = days.join(
        days.select((F.col("day") - one_day).alias("day")).hint("broadcast"),
        "day",
        "semi",
    )  # days d where d+1 also exists; the pair is keyed by its first day
    # union cells of (d, d+1), keyed at d: a cell of day x serves pair
    # keys x and x-1 (bounded 2x expansion of <= 64 rows/day)
    uni = (
        cells.withColumn("off", F.explode(F.array(F.lit(0), F.lit(1))))
        .withColumn("day", F.col("day") - F.expr("make_interval(0, 0, 0, off, 0, 0, 0)"))
        .join(pairs.hint("broadcast"), "day", "semi")
        .select("day", "hv")
        .distinct()
    )
    wu = Window.partitionBy("day")
    ur = uni.select(
        "day",
        "hv",
        F.row_number().over(wu.orderBy("hv")).alias("rk"),
        F.count("*").over(wu).alias("n"),
    )
    u_est = ur.where(kmv_kth(F.col("rk"), F.col("n"), K)).select(
        "day",
        kmv_estimate(F.col("hv"), F.col("n"), F.col("n"), K)
        .cast("long")
        .alias("union_kmv"),
    )
    # exact next-day overlap — calibration only (pair-table equi-join)
    ret = (
        act.join(
            act.select((F.col("day") - one_day).alias("day"), "hv"),
            ["day", "hv"],
        )
        .groupBy("day")
        .agg(F.count("*").cast("long").alias("ret_exact"))
    )
    nxt = day_est.select(
        (F.col("day") - one_day).alias("day"),
        F.col("n_exact").alias("dau_next"),
        F.col("uv_kmv").alias("uv_kmv_next"),
    )
    ret_kmv = F.greatest(
        F.lit(0).cast("long"),
        F.col("uv_kmv") + F.col("uv_kmv_next") - F.col("union_kmv"),
    )
    return (
        pairs.join(day_est, "day")
        .join(nxt, "day")
        .join(u_est, "day")
        .join(ret, "day", "left")
        .select(
            "day",
            F.col("n_exact").alias("dau"),
            "dau_next",
            F.coalesce(F.col("ret_exact"), F.lit(0).cast("long")).alias(
                "ret_exact"
            ),
            "union_kmv",
            ret_kmv.alias("ret_kmv"),
            F.round(ret_kmv / F.col("uv_kmv"), 4).alias("ret_rate_kmv"),
        )
    )


_KMV_CURVE_OFFS = (1, 3, 7)

_KMV_RETENTION_CURVE_ORACLE = """
WITH act AS (
  SELECT DISTINCT date_trunc('day', ts) AS day,
         CAST(concat('0x', substr(md5(concat(user_id, ':kmv')), 1, 15))
             AS BIGINT) AS hv
  FROM events WHERE event_type = 'view'
), days AS (SELECT DISTINCT day FROM act),
offs AS (SELECT CAST(off AS INTEGER) AS off
         FROM (VALUES (1), (3), (7)) AS t(off)),
pairs AS (
  SELECT a.day AS day, o.off
  FROM days a, offs o
  WHERE EXISTS (SELECT 1 FROM days b
                WHERE b.day = a.day + o.off * INTERVAL 1 DAY)
), r AS (
  SELECT day, hv,
         row_number() OVER (PARTITION BY day ORDER BY hv) AS rk,
         count(*) OVER (PARTITION BY day) AS n
  FROM act
), day_est AS (
  SELECT day, CAST(n AS BIGINT) AS n_exact,
         CAST(CASE WHEN n < 64 THEN n
              ELSE floor(63.0 * 1152921504606846976 / hv) END AS BIGINT)
             AS uv_kmv
  FROM r WHERE rk = 64 OR (rk = n AND n < 64)
), cells AS (SELECT day, hv FROM r WHERE rk <= 64),
uni AS (
  SELECT p.day AS day, p.off, c.hv
  FROM cells c JOIN pairs p
    ON c.day = p.day OR c.day = p.day + p.off * INTERVAL 1 DAY
  GROUP BY 1, 2, 3
), ur AS (
  SELECT day, off, hv,
         row_number() OVER (PARTITION BY day, off ORDER BY hv) AS rk,
         count(*) OVER (PARTITION BY day, off) AS n
  FROM uni
), u_est AS (
  SELECT day, off,
         CAST(CASE WHEN n < 64 THEN n
              ELSE floor(63.0 * 1152921504606846976 / hv) END AS BIGINT)
             AS union_kmv
  FROM ur WHERE rk = 64 OR (rk = n AND n < 64)
), ret AS (
  SELECT a.day AS day, o.off, CAST(count(*) AS BIGINT) AS ret_exact
  FROM act a
  JOIN offs o ON TRUE
  JOIN act b ON b.hv = a.hv AND b.day = a.day + o.off * INTERVAL 1 DAY
  GROUP BY 1, 2
)
SELECT p.day, p.off,
       da.n_exact AS dau,
       db.n_exact AS dau_off,
       COALESCE(rt.ret_exact, CAST(0 AS BIGINT)) AS ret_exact,
       ue.union_kmv,
       GREATEST(CAST(0 AS BIGINT),
                da.uv_kmv + db.uv_kmv - ue.union_kmv) AS ret_kmv,
       round(GREATEST(CAST(0 AS BIGINT),
                      da.uv_kmv + db.uv_kmv - ue.union_kmv)::DOUBLE
             / da.uv_kmv, 4) AS ret_rate_kmv
FROM pairs p
JOIN day_est da ON da.day = p.day
JOIN day_est db ON db.day = p.day + p.off * INTERVAL 1 DAY
JOIN u_est ue ON ue.day = p.day AND ue.off = p.off
LEFT JOIN ret rt ON rt.day = p.day AND rt.off = p.off
"""


def kmv_retention_curve_report(act: DataFrame, cells: DataFrame) -> DataFrame:
    """N-day retention cohort curve (offsets 1/3/7) from DAILY KMV
    CELLS — the report stage shared by the batch query and the live
    one-pass twin (the kmv_trailing_report pattern): `act` is the
    distinct (day, hv) pair table (calibration reference: exact DAU
    and the exact horizon overlap, both dropped at deployment),
    `cells` the per-day k-min cells of any provenance (single-stage
    rank, shard-merged, or a live MERGE sink's converged state).

    Per-day estimates re-rank the CELLS (below k, the cells ARE the
    exact set, so the estimate's fallback is the cell count — bit-equal
    to ranking the raw pair table); the (d, d+off) union is the proven
    cell merge over a bounded |offsets| x 2 x 64-row expansion; the
    intersection is inclusion-exclusion, clamped at 0. Every term is
    the shared family expression (kmv_kth / kmv_estimate)."""
    K = _KMV_K
    offs = F.explode(
        F.array(*[F.lit(o).cast("int") for o in _KMV_CURVE_OFFS])
    )
    off_ival = F.expr("make_interval(0, 0, 0, off, 0, 0, 0)")
    w = Window.partitionBy("day")
    rc = cells.select(
        "day",
        "hv",
        F.row_number().over(w.orderBy("hv")).alias("rk"),
        F.count("*").over(w).alias("nc"),
    )
    exact_n = act.groupBy("day").agg(
        F.count("*").cast("long").alias("n_exact")
    )
    day_est = (
        rc.where(kmv_kth(F.col("rk"), F.col("nc"), K))
        .join(exact_n, "day")
        .select(
            "day",
            "n_exact",
            kmv_estimate(F.col("hv"), F.col("nc"), F.col("nc"), K)
            .cast("long")
            .alias("uv_kmv"),
        )
    )
    days = act.select("day").distinct()
    days_o = days.select("day", offs.alias("off"))
    # (day, off) pairs where day + off exists
    pairs = days_o.join(
        days_o.select((F.col("day") - off_ival).alias("day"), "off").hint(
            "broadcast"
        ),
        ["day", "off"],
        "semi",
    )
    # union cells of (d, d+off), keyed at (d, off): a cell of day x
    # serves the pair as the base day (role 0) or the horizon day
    # (role 1) — a bounded |offsets| x 2 expansion of <= 64 rows/day
    uni = (
        cells.withColumn("off", offs)
        .withColumn("role", F.explode(F.array(F.lit(0), F.lit(1))))
        .withColumn(
            "day",
            F.col("day") - F.expr("make_interval(0, 0, 0, off * role, 0, 0, 0)"),
        )
        .join(pairs.hint("broadcast"), ["day", "off"], "semi")
        .select("day", "off", "hv")
        .distinct()
    )
    wu = Window.partitionBy("day", "off")
    ur = uni.select(
        "day",
        "off",
        "hv",
        F.row_number().over(wu.orderBy("hv")).alias("rk"),
        F.count("*").over(wu).alias("n"),
    )
    u_est = ur.where(kmv_kth(F.col("rk"), F.col("n"), K)).select(
        "day",
        "off",
        kmv_estimate(F.col("hv"), F.col("n"), F.col("n"), K)
        .cast("long")
        .alias("union_kmv"),
    )
    # exact horizon overlap — calibration only
    ret = (
        act.join(
            act.withColumn("off", offs).select(
                (F.col("day") - off_ival).alias("day"), "off", "hv"
            ),
            ["day", "hv"],
        )
        .groupBy("day", "off")
        .agg(F.count("*").cast("long").alias("ret_exact"))
    )
    offd = day_est.withColumn("off", offs).select(
        (F.col("day") - off_ival).alias("day"),
        "off",
        F.col("n_exact").alias("dau_off"),
        F.col("uv_kmv").alias("uv_kmv_off"),
    )
    ret_kmv = F.greatest(
        F.lit(0).cast("long"),
        F.col("uv_kmv") + F.col("uv_kmv_off") - F.col("union_kmv"),
    )
    return (
        pairs.join(day_est, "day")
        .join(offd, ["day", "off"])
        .join(u_est, ["day", "off"])
        .join(ret, ["day", "off"], "left")
        .select(
            "day",
            "off",
            F.col("n_exact").alias("dau"),
            "dau_off",
            F.coalesce(F.col("ret_exact"), F.lit(0).cast("long")).alias(
                "ret_exact"
            ),
            "union_kmv",
            ret_kmv.alias("ret_kmv"),
            F.round(ret_kmv / F.col("uv_kmv"), 4).alias("ret_rate_kmv"),
        )
    )


@query(
    "uv_kmv_retention_curve",
    oracle=_KMV_RETENTION_CURVE_ORACLE,
    tags=("business", "approx", "sketch"),
)
def uv_kmv_retention_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-day retention COHORT CURVE (offsets 1/3/7) from the same
    daily KMV cells — the dashboard artifact uv_kmv_retention's
    day-over-day point feeds: for each cohort day d and horizon o, how
    many of d's users were back on d+o. The new algebra vs the o=1
    query: the cell union now spans NON-adjacent day pairs (d, d+7) —
    cells merge across any gap, which is exactly why the deployment
    keeps cells rather than trailing aggregates. Every term is the
    shared family expression (kmv_kth / kmv_estimate), below-k-exact;
    ret_exact rides along as calibration (the 3x-exploded pair-table
    join, dropped at deployment). The report stage is shared with the
    live one-pass twin (kmv_retention_curve_report).

    Scale shape: the union expansion touches <= |offsets| x 2 x 64
    rows per day; pairs is |days| x |offsets| rows, broadcast. Nothing
    in the sketch path scales with |users|."""
    K = _KMV_K
    act = _kmv_day_hashes(load_table(spark, sf_dir, "events"))
    w = Window.partitionBy("day")
    cells = (
        act.select(
            "day", "hv", F.row_number().over(w.orderBy("hv")).alias("rk")
        )
        .where(F.col("rk") <= K)
        .select("day", "hv")
    )
    return kmv_retention_curve_report(act, cells)


@query(
    "uv_hll_registers",
    oracle="""
WITH act AS (
  SELECT DISTINCT date_trunc('day', ts) AS day,
         CAST(concat('0x', substr(md5(concat(user_id, ':hll')), 1, 15))
             AS BIGINT) AS hv
  FROM events WHERE event_type = 'view'
), days AS (SELECT DISTINCT day FROM act),
exact AS (
  SELECT day, CAST(count(*) AS BIGINT) AS uv_exact FROM act GROUP BY day
), ranked AS (
  SELECT day, hv % 64 AS reg,
         CASE WHEN hv // 64 = 0 THEN 55
              ELSE 55 - length(bin(hv // 64)) END AS rank
  FROM act
), regs AS (
  SELECT day, reg, max(rank) AS m_j FROM ranked GROUP BY 1, 2
), grid AS (
  SELECT d.day, g.reg
  FROM days d, (SELECT unnest(range(0, 64)) AS reg) g
), filled AS (
  SELECT g.day, g.reg, coalesce(r.m_j, 0) AS m_j
  FROM grid g LEFT JOIN regs r USING (day, reg)
), agg AS (
  SELECT day,
         CAST(sum(CASE WHEN m_j = 0 THEN 1 ELSE 0 END) AS BIGINT) AS v_zero,
         CAST(sum((reg + 1) * m_j) AS BIGINT) AS reg_checksum,
         CAST(sum(CAST(1 AS BIGINT) << (55 - m_j)) AS BIGINT) AS sum_scaled
  FROM filled GROUP BY day
)
SELECT a.day, e.uv_exact, a.v_zero, a.reg_checksum, a.sum_scaled,
       round(CASE WHEN a.v_zero > 0
                   AND (0.709 * 64 * 64 * 36028797018963968 / a.sum_scaled)
                       <= 160.0
             THEN 64.0 * ln(64.0 / a.v_zero)
             ELSE 0.709 * 64 * 64 * 36028797018963968 / a.sum_scaled
             END, 4) AS hll_est
FROM agg a JOIN exact e USING (day)
""",
    tags=("business", "approx", "sketch"),
)
def uv_hll_registers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hand-rolled HyperLogLog REGISTERS with an exact oracle (VERDICT
    r10 #5) — retires the catalog's only retirable rows-only entry:
    uv_approx_distinct (Spark's internal HLL) stays as the cross-check
    sibling, but the sketch STATE here is computed from first
    principles as columnar ops, so — like the KMV/CM/quantile
    precedent — the cells are bit-exact cross-engine even though the
    estimate is approximate. Per day, per register j = hv mod 64, the
    register value M_j is the max leading-zero rank of the remaining
    54 hash bits (rank = 55 - bitlength(hv div 64), the Flajolet rho
    function, integer-exact via bin()-string length in BOTH engines).
    The report carries v_zero (empty registers), an exact register
    checksum sum((j+1) * M_j), the EXACT INTEGER register aggregate
    sum(2^(55 - M_j)) (each term a bit shift; total < 2^61 — no float
    summation anywhere in the state), and the closed-form estimate:
    alpha_64 * m^2 * 2^55 / sum_scaled with the standard
    linear-counting small-range correction m * ln(m / v_zero) when
    v_zero > 0 and the raw estimate <= 2.5m (the only float math, in
    the report layer — the PSI-precedent ln).

    Scale shape: one distinct on (day, hash) then one partial-agg
    max per (day, register) — 64 longs of state per day however large
    |users| grows (the listener-verified fixed-state claim of the
    sketch family); the day x 64 grid is a broadcast crossJoin of a
    64-row literal range. Registers merge by element-wise max (the
    HLL merge algebra), the same day-mergeable shape as
    uv_kmv_trailing's cells."""
    act, ranked = _hll_day_ranked(load_table(spark, sf_dir, "events"))
    regs = ranked.groupBy("day", "reg").agg(F.max("rank").alias("m_j"))
    return _hll_report(spark, act, regs)


_HLL_M = 64
#: hash-space shards for the two-stage register builders (batch sharded
#: variant + the live fold twin) — shared so the family cannot drift
#: (the ADVICE r11 lesson from the KMV family).
_HLL_SHARDS = 16


def hll_reg(hv_name: str = "hv"):
    """Register index: low 6 bits of the 60-bit hash. Shared by the
    batch builders AND the live fold twin so the family's hash
    decomposition cannot drift (the _KMV_SHARDS lesson, ADVICE r11)."""
    return F.col(hv_name) % _HLL_M


def hll_rank(hv_name: str = "hv"):
    """Flajolet rho of the remaining 54 bits: 55 - bitlength(hv div 64)
    (integer-exact via bin()-string length in BOTH engines)."""
    w = F.expr(f"{hv_name} div 64")
    return F.when(w == 0, F.lit(55)).otherwise(F.lit(55) - F.length(F.bin(w)))


def hll_shard(hv_name: str = "hv"):
    """Shard key for the two-stage builders: middle hash bits,
    decorrelated from the register index (low 6) and the rank bits
    (bitlength of the high 54)."""
    return F.pmod(F.expr(f"{hv_name} div 4096"), F.lit(_HLL_SHARDS))


def _hll_day_ranked(events: DataFrame):
    """(act, ranked) for the HLL family: act = distinct (day, hv)
    user hashes; ranked = (day, reg, rank) with reg = hv mod 64 and
    rank = Flajolet rho of the remaining 54 bits."""
    from flink_tutorial_spark.operators.dedup import md5_long

    hv = md5_long(F.concat(F.col("user_id").cast("string"), F.lit(":hll")))
    act = (
        events.where(F.col("event_type") == "view")
        .select(F.date_trunc("day", "ts").alias("day"), hv.alias("hv"))
        .distinct()
    )
    ranked = act.select(
        "day", "hv", hll_reg().alias("reg"), hll_rank().alias("rank")
    )
    return act, ranked


def _hll_report(
    spark: SparkSession,
    act: DataFrame,
    regs: DataFrame,
    days: DataFrame | None = None,
) -> DataFrame:
    """Register table (day, reg, m_j) -> the calibration report: fill
    the day x 64 grid (absent registers are rank 0), aggregate the
    exact integer register state (v_zero, checksum, sum(2^(55-M_j)))
    and the closed-form estimate with linear-counting correction.

    `days` defaults to act's days; the live twin passes the CLOSED
    days its converged register table covers (the open last day must
    not get an all-zero grid row)."""
    M = _HLL_M
    if days is None:
        days = act.select("day").distinct()
    grid = days.crossJoin(
        F.broadcast(
            spark.range(M).select(F.col("id").cast("long").alias("reg"))
        )
    )
    filled = grid.join(regs, ["day", "reg"], "left").withColumn(
        "m_j", F.coalesce(F.col("m_j"), F.lit(0))
    )
    agg = filled.groupBy("day").agg(
        F.sum(F.when(F.col("m_j") == 0, 1).otherwise(0))
        .cast("long")
        .alias("v_zero"),
        F.sum((F.col("reg") + 1) * F.col("m_j"))
        .cast("long")
        .alias("reg_checksum"),
        F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), 55 - CAST(m_j AS INT))"))
        .cast("long")
        .alias("sum_scaled"),
    )
    exact = act.groupBy("day").agg(
        F.count("*").cast("long").alias("uv_exact")
    )
    raw = (
        F.lit(0.709) * M * M * F.lit(float(1 << 55)) / F.col("sum_scaled")
    )
    est = F.when(
        (F.col("v_zero") > 0) & (raw <= 160.0),
        F.lit(float(M)) * F.log(F.lit(float(M)) / F.col("v_zero")),
    ).otherwise(raw)
    return agg.join(exact, "day").select(
        "day",
        "uv_exact",
        "v_zero",
        "reg_checksum",
        "sum_scaled",
        F.round(est, 4).alias("hll_est"),
    )


from flink_tutorial_spark.plans.catalog import REGISTRY as _REGISTRY  # noqa: E402


@query(
    "uv_hll_sharded",
    # same oracle as the single-stage registers: element-wise max merge
    # of per-shard register vectors is bit-equal to building the
    # registers in one pass (max is associative/commutative and shards
    # partition the distinct hash set).
    oracle=_REGISTRY["uv_hll_registers"].oracle,
    tags=("business", "approx", "sketch"),
)
def uv_hll_sharded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sharded-merge proof for the HLL register family (the
    KMV/CM/quantile pattern): build register vectors per (day, shard)
    — shard = middle hash bits, decorrelated from the register index
    (low 6 bits) and the rank bits (bitlength of the high 54) — then
    merge shards by ELEMENT-WISE MAX into the daily registers, and
    state the identical single-stage oracle. Hash-exactness proves the
    HLL merge algebra as a query: a 1000-executor deployment builds
    registers per partition, merges 64-long vectors per day, and
    unions days the same way (registers are day-mergeable, the HLL
    advantage over exact distinct that uv_kmv_trailing shares).

    Scale shape: stage 1 is a partial-agg max over (day, shard, reg)
    — 16x more groups but 16x smaller partitions; stage 2 merges
    16 * 64 rows per day. Both partial-aggregable; nothing global."""
    act, ranked = _hll_day_ranked(load_table(spark, sf_dir, "events"))
    sregs = (
        ranked.withColumn("shard", hll_shard())
        .groupBy("day", "shard", "reg")
        .agg(F.max("rank").alias("m_sj"))
    )
    regs = sregs.groupBy("day", "reg").agg(F.max("m_sj").alias("m_j"))
    return _hll_report(spark, act, regs)
