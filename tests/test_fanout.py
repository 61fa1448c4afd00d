"""One-pass foreachBatch fan-out (VERDICT r12 #1): the MergeAggSink
sketch-MERGE contract, the persisted event-time high watermark, and the
single-source-scan evidence for the one-pass catalog queries."""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F

from flink_tutorial_spark.session import load_table
from flink_tutorial_spark.sinks.foreach import (
    EventTimeHighWatermark,
    MergeAggSink,
)


def _kmv_sink(spark, path, k=4, key_cols=("day", "shard")):
    return MergeAggSink(
        spark,
        str(path),
        key_cols=list(key_cols),
        agg_exprs=[
            F.slice(
                F.array_sort(F.array_distinct(F.flatten(F.collect_list("kmins")))),
                1,
                k,
            ).alias("kmins")
        ],
        n_buckets=4,
    )


def test_merge_agg_sink_merges_and_replay_is_noop(spark, tmp_path):
    """Cells COMBINE across epochs (distinct-union-truncate), and an
    epoch replay converges to the same table (the sink's exactly-once
    contract for idempotent sketch algebra)."""
    sink = _kmv_sink(spark, tmp_path / "cells")
    e1 = spark.createDataFrame(
        [("d1", 0, [5, 9]), ("d1", 1, [7])], ["day", "shard", "kmins"]
    )
    e2 = spark.createDataFrame(
        # duplicates (5) and new smaller values (1, 2, 3, 4) for d1/0:
        # union is {1,2,3,4,5,9} -> k=4 keeps [1,2,3,4]
        [("d1", 0, [1, 3]), ("d1", 0, [2, 4, 5]), ("d2", 0, [8])],
        ["day", "shard", "kmins"],
    )
    sink(e1, 1)
    sink(e2, 2)
    expect = {("d1", 0): [1, 2, 3, 4], ("d1", 1): [7], ("d2", 0): [8]}

    def snapshot():
        return {
            (r["day"], r["shard"]): list(r["kmins"])
            for r in sink.read().select("day", "shard", "kmins").collect()
        }

    assert snapshot() == expect
    sink(e2, 2)  # replay after "recovery"
    assert snapshot() == expect


def test_merge_agg_sink_is_batching_independent(spark, tmp_path):
    """Associativity/commutativity: any split of the rows into epochs
    converges to the same cells as one epoch with everything."""
    rows = [("d1", 0, [v]) for v in (9, 4, 7, 1, 4, 8, 2)]
    one = _kmv_sink(spark, tmp_path / "one")
    one(spark.createDataFrame(rows, ["day", "shard", "kmins"]), 1)
    split = _kmv_sink(spark, tmp_path / "split")
    split(spark.createDataFrame(rows[4:], ["day", "shard", "kmins"]), 1)
    split(spark.createDataFrame(rows[:2], ["day", "shard", "kmins"]), 2)
    split(spark.createDataFrame(rows[2:4], ["day", "shard", "kmins"]), 3)
    get = lambda s: [  # noqa: E731
        list(r["kmins"]) for r in s.read().select("kmins").collect()
    ]
    assert get(one) == get(split) == [[1, 2, 4, 7]]


@pytest.mark.parametrize("channel", ["merge", "append"])
def test_sink_reread_uses_written_schema(spark, tmp_path, channel):
    """A sink re-reads its table under the schema it wrote: the read
    launches no schema-inference job and returns the schema and rows of
    an inferred read (a sink constructed over the table, which has not
    written yet, infers)."""
    from flink_tutorial_spark.sinks.foreach import KeyedAppendSink
    from tests.test_session_schema_cache import _jobs_in_group

    def make():
        if channel == "merge":
            return _kmv_sink(spark, tmp_path / "t")
        return KeyedAppendSink(
            spark, str(tmp_path / "t"), key_cols=["day", "shard"], n_buckets=4
        )

    sink = make()
    cols = ["day", "shard", "kmins"]
    sink(spark.createDataFrame([("d1", 0, [5, 9]), ("d2", 1, [7])], cols), 0)
    sink(spark.createDataFrame([("d1", 0, [1]), ("d3", 2, [4])], cols), 1)
    reads = []
    written = _jobs_in_group(spark, lambda: reads.append(sink.read()))
    inferred = _jobs_in_group(spark, lambda: reads.append(make().read()))
    assert written == 0
    assert inferred >= 1
    got, want = reads
    assert got.schema == want.schema

    def rows(df):
        return sorted(map(repr, df.collect()))

    assert rows(got) == rows(want)


def test_event_time_high_watermark_persists_and_never_regresses(
    spark, tmp_path
):
    path = str(tmp_path / "hwm")
    hwm = EventTimeHighWatermark(path)
    assert hwm.max_us is None
    df_hi = spark.createDataFrame(
        [("2024-01-05 12:00:00",)], ["ts"]
    ).select(F.col("ts").cast("timestamp").alias("ts"))
    df_lo = spark.createDataFrame(
        [("2024-01-02 00:00:00",)], ["ts"]
    ).select(F.col("ts").cast("timestamp").alias("ts"))
    hwm.update(df_hi)
    hi = hwm.max_us
    assert hi is not None
    hwm.update(df_lo)  # an epoch replay of older data must not regress
    assert hwm.max_us == hi
    reborn = EventTimeHighWatermark(path)  # restart: state reloads
    assert reborn.max_us == hi
    # closed-day predicate: day end <= watermark
    days = spark.createDataFrame(
        [("2024-01-04 00:00:00",), ("2024-01-05 00:00:00",)], ["day"]
    ).select(F.col("day").cast("timestamp").alias("day"))
    closed = [
        r["day"].day for r in days.where(reborn.closed_day("day")).collect()
    ]
    assert closed == [4]  # Jan 5 is still open at 12:00


class _ScanProbe:
    """Collects (query, batch) -> numInputRows from progress events."""

    def __init__(self):
        from pyspark.sql.streaming import StreamingQueryListener

        probe = self

        class L(StreamingQueryListener):
            def __init__(self):
                self.rows = {}

            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                self.rows[(str(p.id), p.batchId)] = p.numInputRows

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = L()
        assert probe is self

    def total(self, deadline_s: float = 30.0) -> tuple[int, int]:
        """(n_queries, total input rows) once events have drained."""
        deadline = time.time() + deadline_s
        last = None
        while time.time() < deadline:
            cur = dict(self.listener.rows)
            if cur and cur == last:
                break
            last = cur
            time.sleep(1.0)
        qs = {q for (q, _) in self.listener.rows}
        return len(qs), sum(self.listener.rows.values())


@pytest.mark.parametrize(
    "onepass",
    [
        "streaming_uv_kmv_onepass",
        "streaming_uv_hll_onepass",
        # r14: additive sinks through the epoch ledger get the same
        # 1x-scan guarantee (VERDICT r13 next #2)
        "streaming_freq_cm_onepass",
        "streaming_adclick_onepass",
    ],
)
def test_onepass_fanout_scans_source_once(spark, sf_dir, onepass):
    """THE deployment claim (VERDICT r12 #1): a one-pass query ingests
    the source ONCE — one streaming query, sum(numInputRows) == source
    rows — however many sinks it fans to. Hash-exactness vs the oracle
    is covered by the catalog parity suite; this pins the scan count."""
    from flink_tutorial_spark import plans

    n_src = load_table(spark, sf_dir, "events").count()

    probe = _ScanProbe()
    spark.streams.addListener(probe.listener)
    try:
        rows = plans.REGISTRY[onepass].fn(spark, sf_dir).count()
    finally:
        # capture before removal; events are async
        nq, total = probe.total()
        spark.streams.removeListener(probe.listener)
    assert rows > 0
    assert nq == 1, f"one-pass ran {nq} queries"
    assert total == n_src


def test_run_fanout_checkpoint_restart_resumes_not_replays(spark, tmp_path):
    """Engine-driven recovery for the fan-out (the direct-call replay
    tests cover sink idempotence; this covers the OFFSET side): a
    checkpointed run_fanout restarted on the same checkpointLocation
    must deliver only the NEW files to every sink — the committed
    epoch is not re-delivered — and the MERGE sink's cells must equal
    an uninterrupted run's. A high-watermark sink proves non-regression
    across the restart."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from flink_tutorial_spark.streaming.run import run_fanout

    schema = pa.schema(
        [("ts", pa.timestamp("us")), ("day", pa.string()), ("kmins", pa.int64())]
    )

    def write_file(src, idx, rows):
        import os as _os

        _os.makedirs(src, exist_ok=True)
        pdf = pd.DataFrame(rows, columns=["ts", "day", "kmins"])
        p = f"{src}/b{idx:03d}.parquet"
        pq.write_table(pa.Table.from_pandas(pdf, schema=schema, preserve_index=False), p)
        _os.utime(p, (1_600_000_000 + idx, 1_600_000_000 + idx))

    t = pd.Timestamp("2024-01-01")
    batch1 = [(t, "d1", 5), (t, "d1", 9)]
    batch2 = [(t, "d1", 1), (t, "d2", 8)]

    def run_once(src, ck, sink, deliveries):
        stream = (
            spark.readStream.format("parquet")
            .schema("ts timestamp, day string, kmins long")
            .option("maxFilesPerTrigger", "1")
            .load(src)
        )
        out = stream.select("day", F.array("kmins").alias("kmins"))

        def fold(bdf, eid):
            deliveries.append((eid, bdf.count()))
            sink(bdf, eid)

        run_fanout(out, [fold], checkpoint=ck, available_now=True)

    # interrupted: batch 1, stop, add batch 2, restart on same ckpt
    src_a, ck_a = str(tmp_path / "src_a"), str(tmp_path / "ck_a")
    sink_a = _kmv_sink(spark, tmp_path / "cells_a", k=2, key_cols=("day",))
    dlv: list = []
    write_file(src_a, 0, batch1)
    run_once(src_a, ck_a, sink_a, dlv)
    write_file(src_a, 1, batch2)
    run_once(src_a, ck_a, sink_a, dlv)
    # the restart delivered ONLY the new file (epochs advance, rows=2)
    assert dlv == [(0, 2), (1, 2)], dlv

    # uninterrupted reference
    src_b, ck_b = str(tmp_path / "src_b"), str(tmp_path / "ck_b")
    sink_b = _kmv_sink(spark, tmp_path / "cells_b", k=2, key_cols=("day",))
    write_file(src_b, 0, batch1)
    write_file(src_b, 1, batch2)
    run_once(src_b, ck_b, sink_b, [])

    def snap(s):
        return sorted(
            (r["day"], list(r["kmins"]))
            for r in s.read().select("day", "kmins").collect()
        )

    got, want = snap(sink_a), snap(sink_b)
    assert got == want
    assert got == [("d1", [1, 5]), ("d2", [8])]


# ---------------------------------------------------------------- r14:
# additive merges via the per-bucket epoch ledger (VERDICT r13 next #2)


def _sum_sink(spark, path, n_buckets=4):
    from flink_tutorial_spark.sinks.foreach import EpochLedgerMergeAggSink

    return EpochLedgerMergeAggSink(
        spark,
        str(path),
        key_cols=["k"],
        agg_exprs=[F.sum("c").cast("long").alias("c")],
        n_buckets=n_buckets,
    )


def _counts(sink):
    return sorted((r["k"], r["c"]) for r in sink.read().collect())


def test_merge_agg_sink_rejects_additive_combine(spark, tmp_path):
    """ADVICE r13 #1: the idempotence requirement is ENFORCED, not just
    documented — an additive F.sum combine (which would double-count on
    epoch replay) is rejected at the first non-empty epoch."""
    sink = MergeAggSink(
        spark,
        str(tmp_path / "bad"),
        key_cols=["k"],
        agg_exprs=[F.sum("c").cast("long").alias("c")],
        n_buckets=4,
    )
    with pytest.raises(ValueError, match="not idempotent"):
        sink(spark.createDataFrame([("a", 1), ("a", 2)], ["k", "c"]), 0)


def test_epoch_ledger_sink_accumulates_and_replay_is_noop(spark, tmp_path):
    """Additive cells SUM across epochs, yet a full replay of any
    already-applied epoch leaves the table bit-identical — replay
    safety from the ledger, not from combine idempotence."""
    sink = _sum_sink(spark, tmp_path / "cm")
    e0 = spark.createDataFrame([("a", 1), ("b", 2)], ["k", "c"])
    e1 = spark.createDataFrame([("a", 10), ("c", 5)], ["k", "c"])
    sink(e0, 0)
    sink(e1, 1)
    expect = [("a", 11), ("b", 2), ("c", 5)]
    assert _counts(sink) == expect
    sink(e1, 1)  # replay of the committed epoch
    assert _counts(sink) == expect
    # an OLDER epoch id can never re-deliver on a valid lineage (only
    # the last uncommitted epoch replays) — the lineage guard raises
    # instead of silently skipping, and the table is untouched
    with pytest.raises(ValueError, match="lineage mismatch"):
        sink(e0, 0)
    assert _counts(sink) == expect
    sink(spark.createDataFrame([("a", 100)], ["k", "c"]), 2)
    assert _counts(sink) == [("a", 111), ("b", 2), ("c", 5)]


def test_epoch_ledger_partial_replay_reapplies_only_unswapped_buckets(
    spark, tmp_path
):
    """Crash MID-SWAP-LOOP: some buckets' symlinks already point at the
    epoch's version, others still at the previous one. The replay must
    re-apply ONLY the unswapped buckets (their ledger is behind) and
    skip the swapped ones — converging to the uninterrupted result."""
    import os

    sink = _sum_sink(spark, tmp_path / "led")
    # pick two keys that land in different buckets
    cand = spark.createDataFrame([(f"k{i}",) for i in range(16)], ["k"])
    by_bucket = {}
    for r in cand.withColumn("_b", sink._bucket_expr()).collect():
        by_bucket.setdefault(r["_b"], r["k"])
        if len(by_bucket) >= 2:
            break
    (b1, k1), (b2, k2) = sorted(by_bucket.items())[:2]

    e0 = spark.createDataFrame([(k1, 1), (k2, 2)], ["k", "c"])
    e1 = spark.createDataFrame([(k1, 10), (k2, 20)], ["k", "c"])
    sink(e0, 0)
    pre = dict(sink._live_bucket_paths())  # targets BEFORE epoch 1
    sink(e1, 1)
    done = _counts(sink)
    assert done == sorted([(k1, 11), (k2, 22)])
    # simulate the crash: roll bucket b1's swap back to its epoch-0
    # target (prune retains the N-1 version precisely for this window)
    assert os.path.isdir(pre[b1])
    link = sink._link(b1)
    os.unlink(link)
    os.symlink(pre[b1], link)
    # replay epoch 1: b1 (ledger 0) re-applies, b2 (ledger 1) skips
    sink(e1, 1)
    assert _counts(sink) == done


def test_epoch_ledger_checkpoint_restart_no_double_count(spark, tmp_path):
    """Engine-driven recovery for ADDITIVE sinks: a checkpointed
    run_fanout restarted on the same checkpointLocation must leave the
    summed cells equal to an uninterrupted run's — committed epochs are
    not re-applied, new epochs apply exactly once."""
    import os as _os

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from flink_tutorial_spark.streaming.run import run_fanout

    schema = pa.schema([("k", pa.string()), ("c", pa.int64())])

    def write_file(src, idx, rows):
        _os.makedirs(src, exist_ok=True)
        pdf = pd.DataFrame(rows, columns=["k", "c"])
        p = f"{src}/b{idx:03d}.parquet"
        pq.write_table(
            pa.Table.from_pandas(pdf, schema=schema, preserve_index=False), p
        )
        _os.utime(p, (1_600_000_000 + idx, 1_600_000_000 + idx))

    batch1 = [("a", 1), ("b", 2)]
    batch2 = [("a", 10), ("c", 5)]

    def run_once(src, ck, sink):
        stream = (
            spark.readStream.format("parquet")
            .schema("k string, c long")
            .option("maxFilesPerTrigger", "1")
            .load(src)
        )
        run_fanout(stream, [sink], checkpoint=ck, available_now=True)

    src_a, ck_a = str(tmp_path / "src_a"), str(tmp_path / "ck_a")
    sink_a = _sum_sink(spark, tmp_path / "cells_a")
    write_file(src_a, 0, batch1)
    run_once(src_a, ck_a, sink_a)
    write_file(src_a, 1, batch2)
    run_once(src_a, ck_a, sink_a)

    src_b, ck_b = str(tmp_path / "src_b"), str(tmp_path / "ck_b")
    sink_b = _sum_sink(spark, tmp_path / "cells_b")
    write_file(src_b, 0, batch1)
    write_file(src_b, 1, batch2)
    run_once(src_b, ck_b, sink_b)

    assert _counts(sink_a) == _counts(sink_b) == [("a", 11), ("b", 2), ("c", 5)]


@pytest.mark.parametrize("first_leg", ["file_context", "run_stream"])
def test_checkpoint_restart_across_checkpoint_managers(
    spark, tmp_path, monkeypatch, first_leg
):
    """A checkpoint written under Spark's default FileContext manager
    resumes under run_stream's FileSystem one, and the other way round:
    committed epochs are not re-applied, and the dedup state written by
    the first leg still drops the second leg's repeated row. The sink
    tables equal an uninterrupted run's."""
    import pandas as pd

    from flink_tutorial_spark.streaming import run
    from tests.test_stream_lifecycle import (
        FILE_CONTEXT_CHECKPOINT_MANAGER,
        record_managers,
    )

    managers = record_managers(monkeypatch)

    def write_file(src, idx, rows):
        os.makedirs(src, exist_ok=True)
        p = f"{src}/b{idx:03d}.parquet"
        pd.DataFrame(rows, columns=["k", "c"]).to_parquet(p, index=False)
        os.utime(p, (1_600_000_000 + idx, 1_600_000_000 + idx))

    def run_once(src, ck, sink, manager):
        # run_stream pins the manager for the start; a swapped pin runs
        # the leg as Spark's default would
        monkeypatch.setattr(run, "FILE_SYSTEM_CHECKPOINT_MANAGER", manager)
        stream = (
            spark.readStream.format("parquet")
            .schema("k string, c long")
            .option("maxFilesPerTrigger", "1")
            .load(src)
            .dropDuplicates(["k", "c"])
        )
        run.run_fanout(stream, [sink], checkpoint=ck, available_now=True)

    batch1 = [("a", 1), ("b", 2)]
    batch2 = [("a", 10), ("c", 5), ("a", 1)]  # ("a", 1) is a duplicate
    legs = [FILE_CONTEXT_CHECKPOINT_MANAGER, run.FILE_SYSTEM_CHECKPOINT_MANAGER]
    if first_leg == "run_stream":
        legs.reverse()

    src_a, ck_a = str(tmp_path / "src_a"), str(tmp_path / "ck_a")
    sink_a = _sum_sink(spark, tmp_path / "cells_a")
    write_file(src_a, 0, batch1)
    run_once(src_a, ck_a, sink_a, legs[0])
    write_file(src_a, 1, batch2)
    run_once(src_a, ck_a, sink_a, legs[1])
    assert managers == legs

    src_b, ck_b = str(tmp_path / "src_b"), str(tmp_path / "ck_b")
    sink_b = _sum_sink(spark, tmp_path / "cells_b")
    write_file(src_b, 0, batch1)
    write_file(src_b, 1, batch2)
    run_once(src_b, ck_b, sink_b, run.FILE_SYSTEM_CHECKPOINT_MANAGER)

    assert _counts(sink_a) == _counts(sink_b) == [("a", 11), ("b", 2), ("c", 5)]


def test_epoch_ledger_rejects_fresh_checkpoint_on_stale_table(spark, tmp_path):
    """The ledger's one sharp edge, ENFORCED: epoch ids restart at 0 on
    a new checkpoint, so a fresh checkpoint writing into a previously-
    written sink table would silently skip every bucket (the ledger is
    ahead) — data loss. On a valid lineage no delivered epoch can be
    STRICTLY below any bucket's ledger (only the last uncommitted epoch
    replays), so the sink raises on that signature instead of merging."""
    sink = _sum_sink(spark, tmp_path / "lineage")
    e = spark.createDataFrame([("a", 1)], ["k", "c"])
    sink(e, 5)
    sink(e, 5)  # replay of the same epoch: fine (ledger == epoch)
    with pytest.raises(ValueError, match="lineage mismatch"):
        sink(e, 2)  # "fresh checkpoint" delivering an older epoch id


def test_idempotence_probe_not_memoized_on_degenerate_sample(spark, tmp_path):
    """ADVICE r14: an all-zero value sample is a fixed point of additive
    combines too (sum(0,0)=0) — it must pass THIS sink's probe (the
    replay of a degenerate epoch converges either way) but must NOT
    memoize the combine signature process-wide, or a later sink with the
    same agg_exprs and real values would skip the guard entirely."""
    agg = lambda: [F.sum("c").cast("long").alias("c")]  # noqa: E731
    degenerate = MergeAggSink(
        spark, str(tmp_path / "zeros"), key_cols=["k"], agg_exprs=agg(),
        n_buckets=4,
    )
    degenerate(spark.createDataFrame([("a", 0), ("b", 0)], ["k", "c"]), 0)
    assert degenerate._idem_checked  # per-sink pass stands
    live = MergeAggSink(
        spark, str(tmp_path / "real"), key_cols=["k"], agg_exprs=agg(),
        n_buckets=4,
    )
    with pytest.raises(ValueError, match="not idempotent"):
        live(spark.createDataFrame([("a", 1), ("a", 2)], ["k", "c"]), 0)


def test_fanout_sink_root_pairs_checkpoint_and_sink_lineage(spark, tmp_path):
    """VERDICT r14 #3: deriving sink tables from the checkpoint location
    makes the epoch-ledger lineage guard unconstructible in idiomatic
    use — a FRESH checkpoint gets fresh (empty) sink tables, so epoch
    ids restarting at 0 can never meet a ledger that is ahead. A
    manually mismatched pair (fresh checkpoint, stale table) still
    raises."""
    import os as _os

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from flink_tutorial_spark.streaming.run import fanout_sink_root, run_fanout

    schema = pa.schema([("k", pa.string()), ("c", pa.int64())])

    def write_file(src, idx, rows):
        _os.makedirs(src, exist_ok=True)
        pdf = pd.DataFrame(rows, columns=["k", "c"])
        p = f"{src}/b{idx:03d}.parquet"
        pq.write_table(
            pa.Table.from_pandas(pdf, schema=schema, preserve_index=False), p
        )
        _os.utime(p, (1_600_000_000 + idx, 1_600_000_000 + idx))

    def run_once(src, ck, sink):
        stream = (
            spark.readStream.format("parquet")
            .schema("k string, c long")
            .option("maxFilesPerTrigger", "1")
            .load(src)
        )
        run_fanout(stream, [sink], checkpoint=ck, available_now=True)

    src = str(tmp_path / "src")
    write_file(src, 0, [("a", 1), ("b", 2)])
    write_file(src, 1, [("a", 10)])  # same key again: ledger(bucket a)=1

    ck1 = str(tmp_path / "ck1")
    sink1 = _sum_sink(spark, _os.path.join(fanout_sink_root(ck1), "cells"))
    run_once(src, ck1, sink1)
    assert _counts(sink1) == [("a", 11), ("b", 2)]

    # start over, idiomatically: new checkpoint -> derived root -> fresh
    # table. Epochs restart at 0 and never trip the guard.
    ck2 = str(tmp_path / "ck2")
    sink2 = _sum_sink(spark, _os.path.join(fanout_sink_root(ck2), "cells"))
    run_once(src, ck2, sink2)
    assert _counts(sink2) == [("a", 11), ("b", 2)]

    # the mismatch the helper exists to prevent: fresh checkpoint, STALE
    # sink table — epoch 0 delivered against ledger 1 must still raise
    ck3 = str(tmp_path / "ck3")
    with pytest.raises(Exception, match="lineage mismatch"):
        run_once(src, ck3, sink1)


# ------------------------------------------------------------------ r15:
# ingest-time ANN index (VERDICT r14 #2)


@pytest.mark.parametrize(
    "query_name",
    ["streaming_ann_ingest", "streaming_ann_ingest_append"],
)
def test_ann_ingest_scans_source_once(spark, sf_dir, query_name):
    """Both ANN ingest channels (keyed overwrite r15; pure append r16)
    ingest the embeddings corpus ONCE (one streaming query,
    sum(numInputRows) == corpus rows) — the index is maintained
    in-pass, never by re-scanning. Hash-exactness vs the batch
    similarity_ann_lsh oracle is covered by the catalog parity suite;
    this pins the scan count."""
    from flink_tutorial_spark import plans

    n_src = load_table(spark, sf_dir, "embeddings").count()
    probe = _ScanProbe()
    spark.streams.addListener(probe.listener)
    try:
        rows = plans.REGISTRY[query_name].fn(spark, sf_dir).count()
    finally:
        nq, total = probe.total()
        spark.streams.removeListener(probe.listener)
    assert rows > 0
    assert nq == 1, f"ann ingest ran {nq} queries"
    assert total == n_src


@pytest.mark.parametrize("channel", ["overwrite", "append"])
def test_ann_index_checkpoint_restart_equals_uninterrupted(
    spark, tmp_path, channel
):
    """Engine-driven recovery for the ingest-time LSH index, BOTH
    channels (keyed overwrite r15; pure append + dedup-on-read r16): a
    checkpointed build interrupted between micro-batches and restarted
    on the same checkpointLocation must converge to the SAME index as
    an uninterrupted build — including a re-delivered vec_id (identical
    row, the stable_value_buckets contract: re-embeds that would MOVE a
    key's bucket must arrive as new ids; the sink enforces the opt-in
    at construction, test_keyed_sink_rejects_value_buckets_without_optin).
    For the append channel the re-delivery lands as duplicate identical
    rows that the max-epoch read dedups."""
    import os as _os

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from flink_tutorial_spark.operators.similarity import (
        lsh_index,
        lsh_topk_from_index,
    )
    from flink_tutorial_spark.sinks.foreach import (
        KeyedAppendSink,
        KeyedUpsertSink,
    )
    from flink_tutorial_spark.streaming.run import run_fanout

    sink_cls = KeyedUpsertSink if channel == "overwrite" else KeyedAppendSink

    schema = pa.schema(
        [("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32()))]
    )

    def write_file(src, idx, rows):
        _os.makedirs(src, exist_ok=True)
        pdf = pd.DataFrame(rows, columns=["vec_id", "embedding"])
        p = f"{src}/b{idx:03d}.parquet"
        pq.write_table(
            pa.Table.from_pandas(pdf, schema=schema, preserve_index=False), p
        )
        _os.utime(p, (1_600_000_000 + idx, 1_600_000_000 + idx))

    batch1 = [(1, [1.0, 2.0]), (2, [-1.0, 0.5]), (3, [0.9, 1.9])]
    # vec 1 re-delivered IDENTICALLY (at-least-once replay shape);
    # vec 4 is the new arrival
    batch2 = [(4, [-0.8, 0.4]), (1, [1.0, 2.0])]

    def build(src, ck, path):
        sink = sink_cls(
            spark, str(path), key_cols=["vec_id"], n_buckets=4,
            bucket_cols=["bucket"], stable_value_buckets=True,
        )
        stream = (
            spark.readStream.format("parquet")
            .schema("vec_id long, embedding array<float>")
            .option("maxFilesPerTrigger", "1")
            .load(src)
        )

        def index_sink(bdf, eid):
            sink(lsh_index(bdf), eid)

        run_fanout(stream, [index_sink], checkpoint=ck, available_now=True)
        return sink

    src_a, ck_a = str(tmp_path / "src_a"), str(tmp_path / "ck_a")
    write_file(src_a, 0, batch1)
    build(src_a, ck_a, tmp_path / "idx_a")
    write_file(src_a, 1, batch2)  # arrives after the "crash"
    sink_a = build(src_a, ck_a, tmp_path / "idx_a")

    src_b, ck_b = str(tmp_path / "src_b"), str(tmp_path / "ck_b")
    write_file(src_b, 0, batch1)
    write_file(src_b, 1, batch2)
    sink_b = build(src_b, ck_b, tmp_path / "idx_b")

    def snap(s):
        return sorted(
            (r["vec_id"], r["bucket"], [round(x, 4) for x in r["embedding"]])
            for r in s.read().select("vec_id", "bucket", "embedding").collect()
        )

    got, want = snap(sink_a), snap(sink_b)
    assert got == want
    assert len(got) == 4  # 1,2,3,4 — the re-delivered vec 1 exactly once
    assert dict((v, e) for v, _, e in got)[1] == [1.0, 2.0]

    # and the index ANSWERS identically
    def topk(s):
        idx = s.read().select("vec_id", "bucket", "embedding")
        return sorted(
            tuple(r) for r in lsh_topk_from_index(idx, idx, k=1).collect()
        )

    assert topk(sink_a) == topk(sink_b)


def test_read_buckets_point_probe_reads_subset_and_agrees(spark, tmp_path):
    """read_buckets (the point-probe read path) must return exactly the
    full table's rows for the probed bucket values while opening only
    the matching bucket directories — the manual twin of partition
    pruning that makes an ANN point lookup touch its LSH bucket's files
    only."""
    from flink_tutorial_spark.operators.similarity import (
        lsh_index,
        lsh_topk_from_index,
    )
    from flink_tutorial_spark.sinks.foreach import KeyedUpsertSink

    sink = KeyedUpsertSink(
        spark, str(tmp_path / "idx"), key_cols=["vec_id"], n_buckets=8,
        bucket_cols=["bucket"], stable_value_buckets=True,
    )
    import numpy as np

    rng = np.random.default_rng(3)
    rows = [
        (int(i), [float(x) for x in rng.standard_normal(64)])
        for i in range(200)
    ]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    sink(lsh_index(vecs), 0)

    q = lsh_index(vecs.where("vec_id < 3"))
    sub = sink.read_buckets(q)
    # agreement: the subset contains every index row of the probed
    # buckets (join answers are identical to a full-table read)
    full_ans = sorted(
        tuple(r)
        for r in lsh_topk_from_index(
            sink.read().select("vec_id", "bucket", "embedding"), q, k=3
        ).collect()
    )
    sub_ans = sorted(
        tuple(r)
        for r in lsh_topk_from_index(
            sub.select("vec_id", "bucket", "embedding"), q, k=3
        ).collect()
    )
    assert full_ans == sub_ans and len(full_ans) > 0
    # and it actually pruned: the probe opened at most 3 of the 8 table
    # bucket dirs, so the subset is a strict subset of the table
    ids = {
        r[0]
        for r in q.select(sink._bucket_expr().alias("b")).distinct().collect()
    }
    assert len(ids) <= 3
    assert 0 < sub.count() < sink.read().count()


def test_idempotence_probe_degeneracy_recurses_into_arrays(spark, tmp_path):
    """An all-zeros ARRAY sample is degenerate too (element-wise add has
    the same zero fixed point a scalar sum does): it must not memoize,
    so a later sink with the same combine and live values still probes."""
    agg = lambda: [  # noqa: E731  — element-wise add via zip_with
        F.aggregate(
            F.collect_list("xs"),
            F.expr("array(0, 0)"),
            lambda acc, x: F.zip_with(acc, x, lambda a, b: a + b),
        ).alias("xs")
    ]
    zeros = MergeAggSink(
        spark, str(tmp_path / "z"), key_cols=["k"], agg_exprs=agg(),
        n_buckets=4,
    )
    zeros(spark.createDataFrame([("a", [0, 0])], "k string, xs array<int>"), 0)
    assert zeros._idem_checked
    live = MergeAggSink(
        spark, str(tmp_path / "l"), key_cols=["k"], agg_exprs=agg(),
        n_buckets=4,
    )
    with pytest.raises(ValueError, match="not idempotent"):
        live(
            spark.createDataFrame([("a", [1, 2])], "k string, xs array<int>"),
            0,
        )


@pytest.mark.parametrize("cls_name", ["KeyedUpsertSink", "KeyedAppendSink"])
def test_keyed_sink_rejects_value_buckets_without_optin(
    spark, tmp_path, cls_name
):
    """Value-derived bucketing (bucket_cols not a subset of key_cols)
    is only sound when a key's bucket value never changes across
    insertions — for the overwrite channel a moved key would strand its
    old row in a bucket the epoch never reads; for the append channel
    the point-probe read would let the stale row win unchallenged. Both
    sinks refuse the shape unless the caller accepts that contract
    explicitly."""
    from flink_tutorial_spark.sinks import foreach

    cls = getattr(foreach, cls_name)
    with pytest.raises(ValueError, match="stable_value_buckets"):
        cls(
            spark, str(tmp_path / "t"), key_cols=["vec_id"], n_buckets=4,
            bucket_cols=["bucket"],
        )
    # key-derived bucketing (the default and all subset cases) needs no
    # opt-in
    cls(
        spark, str(tmp_path / "t2"), key_cols=["day", "shard"],
        n_buckets=4, bucket_cols=["day"],
    )


# ------------------------------------------------------------------ r16:
# pure-append ANN ingest channel + KeyedUpsertSink.rebucket (VERDICT r15
# #2/#3)


def test_append_sink_epoch_is_o_batch_and_replay_dedups(spark, tmp_path):
    """The append channel's contract, structurally: an epoch publishes
    exactly one new directory and NEVER touches previously published
    epochs (O(batch) writes — no old-side read-merge-write); a newer
    epoch's row wins per key on read; a replayed epoch (same id, same
    content — the foreachBatch re-delivery shape) changes nothing; and
    compact() folds history to one directory with an identical answer."""
    from flink_tutorial_spark.sinks.foreach import KeyedAppendSink

    sink = KeyedAppendSink(
        spark, str(tmp_path / "t"), key_cols=["k"], n_buckets=4
    )

    def df(rows):
        return spark.createDataFrame(rows, "k string, v long")

    sink(df([("a", 1), ("b", 2)]), 0)
    dirs0 = sink._epoch_dirs()
    assert len(dirs0) == 1
    files0 = sorted(
        os.path.join(r, f)
        for r, _, fs in os.walk(dirs0[0])
        for f in fs
        if not f.startswith(".")
    )
    mtimes0 = [os.path.getmtime(p) for p in files0]

    sink(df([("a", 10), ("c", 3)]), 1)  # key a updated in a later epoch
    assert len(sink._epoch_dirs()) == 2
    # epoch 0's directory is byte-untouched: the epoch wrote only itself
    assert [os.path.getmtime(p) for p in files0] == mtimes0

    def snap():
        return sorted(tuple(r) for r in sink.read().collect())

    assert snap() == [("a", 10), ("b", 2), ("c", 3)]

    sink(df([("a", 10), ("c", 3)]), 1)  # replay: identical re-delivery
    assert len(sink._epoch_dirs()) == 3
    assert snap() == [("a", 10), ("b", 2), ("c", 3)]

    sink.compact()
    assert len(sink._epoch_dirs()) == 1
    assert snap() == [("a", 10), ("b", 2), ("c", 3)]
    # and a post-compaction epoch still wins over compacted history
    sink(df([("b", 20)]), 2)
    assert snap() == [("a", 10), ("b", 20), ("c", 3)]


def test_append_read_buckets_point_probe_reads_subset_and_agrees(
    spark, tmp_path
):
    """read_buckets on the append channel: prune to the probed buckets'
    partition dirs ACROSS epochs, then the same max-epoch dedup —
    answers must match a full-table read for the probed values."""
    import numpy as np

    from flink_tutorial_spark.operators.similarity import (
        lsh_index,
        lsh_topk_from_index,
    )
    from flink_tutorial_spark.sinks.foreach import KeyedAppendSink

    sink = KeyedAppendSink(
        spark, str(tmp_path / "idx"), key_cols=["vec_id"], n_buckets=8,
        bucket_cols=["bucket"], stable_value_buckets=True,
    )
    rng = np.random.default_rng(3)
    rows = [
        (int(i), [float(x) for x in rng.standard_normal(64)])
        for i in range(200)
    ]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    # two epochs so the probe must stitch bucket dirs across epoch dirs
    sink(lsh_index(vecs.where("vec_id < 100")), 0)
    sink(lsh_index(vecs.where("vec_id >= 100")), 1)

    q = lsh_index(vecs.where("vec_id < 3"))
    sub = sink.read_buckets(q)
    full_ans = sorted(
        tuple(r)
        for r in lsh_topk_from_index(
            sink.read().select("vec_id", "bucket", "embedding"), q, k=3
        ).collect()
    )
    sub_ans = sorted(
        tuple(r)
        for r in lsh_topk_from_index(
            sub.select("vec_id", "bucket", "embedding"), q, k=3
        ).collect()
    )
    assert full_ans == sub_ans and len(full_ans) > 0
    assert 0 < sub.count() < sink.read().count()


def test_rebucket_answers_identically(spark, tmp_path):
    """KeyedUpsertSink.rebucket(n) (VERDICT r15 #3): re-sharding the
    table under a new bucket count is a pure repartition — full read,
    point-probe read, and the ANN top-k answer are all identical before
    and after, under both growth (8->16) and shrink (16->4)."""
    import numpy as np

    from flink_tutorial_spark.operators.similarity import (
        lsh_index,
        lsh_topk_from_index,
    )
    from flink_tutorial_spark.sinks.foreach import KeyedUpsertSink

    sink = KeyedUpsertSink(
        spark, str(tmp_path / "idx"), key_cols=["vec_id"], n_buckets=8,
        bucket_cols=["bucket"], stable_value_buckets=True,
    )
    rng = np.random.default_rng(7)
    rows = [
        (int(i), [float(x) for x in rng.standard_normal(64)])
        for i in range(200)
    ]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    sink(lsh_index(vecs), 0)
    q = lsh_index(vecs.where("vec_id < 5"))

    probed_lsh = {r[0] for r in q.select("bucket").distinct().collect()}

    def answers():
        idx = sink.read().select("vec_id", "bucket", "embedding")
        topk = sorted(
            tuple(r) for r in lsh_topk_from_index(idx, q, k=3).collect()
        )
        # the point-probe's CO-RESIDENT rows legitimately change with the
        # bucket count; what must be invariant is every row matching the
        # probed LSH values being present in the pruned read
        probe = sorted(
            (r["vec_id"], r["bucket"])
            for r in sink.read_buckets(q).collect()
            if r["bucket"] in probed_lsh
        )
        return topk, probe

    before_topk, before_probe = answers()
    assert len(before_topk) > 0

    for n in (16, 4):
        sink.rebucket(n)
        assert sink.n_buckets == n
        live = sink._live_bucket_paths()
        assert set(live) <= set(range(n)) and live
        after_topk, after_probe = answers()
        assert after_topk == before_topk
        assert after_probe == before_probe
        # exactly one generation on disk after a rebuild
        gens = [
            e
            for e in os.listdir(str(tmp_path / "idx"))
            if e != "links" and os.path.isdir(str(tmp_path / "idx" / e))
        ]
        assert len(gens) == 1

    # and the sink keeps WORKING after a rebuild: a new epoch under the
    # new count places and reads consistently
    extra = [
        (int(1000 + i), [float(x) for x in rng.standard_normal(64)])
        for i in range(10)
    ]
    sink(
        lsh_index(
            spark.createDataFrame(extra, "vec_id long, embedding array<float>")
        ),
        1,
    )
    assert sink.read().count() == 210


def test_append_rebucket_rewrites_layout_and_answers_identically(
    spark, tmp_path
):
    """KeyedAppendSink.rebucket must REWRITE the epoch layout under the
    new count (self-review r16: the parent's link-swap path would
    silently flip n_buckets without touching the dirs, making point
    probes compute new-count bucket ids against old-count directories —
    dropped candidates), and answer identically after."""
    import numpy as np

    from flink_tutorial_spark.operators.similarity import (
        lsh_index,
        lsh_topk_from_index,
    )
    from flink_tutorial_spark.sinks.foreach import KeyedAppendSink

    sink = KeyedAppendSink(
        spark, str(tmp_path / "idx"), key_cols=["vec_id"], n_buckets=8,
        bucket_cols=["bucket"], stable_value_buckets=True,
    )
    rng = np.random.default_rng(7)  # seed with known bucket collisions
    rows = [
        (int(i), [float(x) for x in rng.standard_normal(64)])
        for i in range(200)
    ]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    sink(lsh_index(vecs.where("vec_id < 100")), 0)
    sink(lsh_index(vecs.where("vec_id >= 100")), 1)
    q = lsh_index(vecs.where("vec_id < 5"))

    def answers():
        idx = sink.read().select("vec_id", "bucket", "embedding")
        topk = sorted(
            tuple(r) for r in lsh_topk_from_index(idx, q, k=3).collect()
        )
        probe = sorted(
            tuple(r)
            for r in lsh_topk_from_index(
                sink.read_buckets(q).select("vec_id", "bucket", "embedding"),
                q,
                k=3,
            ).collect()
        )
        return topk, probe

    before_topk, before_probe = answers()
    assert before_topk == before_probe and before_topk

    sink.rebucket(16)
    assert sink.n_buckets == 16
    # the layout was actually rewritten: one folded dir, new-count buckets
    dirs = sink._epoch_dirs()
    assert len(dirs) == 1
    buckets_on_disk = {
        int(s.split("=")[1])
        for s in os.listdir(dirs[0])
        if s.startswith("_bucket=")
    }
    assert buckets_on_disk <= set(range(16)) and max(buckets_on_disk) >= 8
    after_topk, after_probe = answers()
    assert after_topk == before_topk
    assert after_probe == before_probe
    # new epochs continue after the re-shard (ids resume past the fold)
    sink(lsh_index(vecs.limit(0)), 2)  # empty epoch publishes fine
    extra = [(1000, [1.0] * 64)]
    sink(
        lsh_index(
            spark.createDataFrame(extra, "vec_id long, embedding array<float>")
        ),
        3,
    )
    assert sink.read().count() == 201


def test_rebucket_preserves_epoch_ledger_and_lineage_guard(spark, tmp_path):
    """Review r16: the ledger sink's replay protection is ENCODED in the
    version-directory name (v{epoch}_*), so rebucket must publish under
    that scheme (v{max ledger}_*) — an unparsable name would read as
    ledger -1 on every bucket, silently re-applying replayed additive
    epochs (double-count) and disarming the fresh-checkpoint guard."""
    sink = _sum_sink(spark, tmp_path / "t", n_buckets=4)

    def df(rows):
        return spark.createDataFrame(rows, "k string, c long")

    sink(df([("a", 1), ("b", 2)]), 0)
    sink(df([("a", 10)]), 1)
    assert _counts(sink) == [("a", 11), ("b", 2)]

    sink.rebucket(8)
    assert _counts(sink) == [("a", 11), ("b", 2)]
    # replay of the last epoch is STILL a no-op (ledger survived as
    # v{max}=v1, not -1)
    sink(df([("a", 10)]), 1)
    assert _counts(sink) == [("a", 11), ("b", 2)]
    # fresh-checkpoint lineage guard still fires (probe a key whose
    # bucket is LIVE — the guard reads the ledger off live buckets)
    with pytest.raises(ValueError, match="lineage mismatch"):
        sink(df([("a", 99)]), 0)
    # and progress still applies
    sink(df([("b", 5)]), 2)
    assert _counts(sink) == [("a", 11), ("b", 7)]


def test_rebucket_crash_mid_swap_recovers_on_construction(spark, tmp_path):
    """Review r16: rebucket's link swap is bracketed by a pending marker
    so a crash mid-swap cannot leave buckets silently unlinked (the next
    epoch would have dropped their rows). A constructor on the marked
    table completes the swap; constructing with a different bucket count
    than the interrupted re-shard refuses with guidance."""
    import json

    from flink_tutorial_spark.sinks.foreach import KeyedUpsertSink

    path = str(tmp_path / "t")
    sink = KeyedUpsertSink(spark, path, key_cols=["k"], n_buckets=4)

    def df(rows):
        return spark.createDataFrame(rows, "k string, v long")

    sink(df([("a", 1), ("b", 2), ("c", 3), ("d", 4)]), 0)
    sink.rebucket(8)
    want = sorted(tuple(r) for r in sink.read().collect())

    # recreate the mid-swap crash state: marker present, one live link
    # missing (the swap died after relinking only part of the set)
    live = sink._live_bucket_paths()
    version_dir = os.path.dirname(next(iter(live.values())))
    with open(sink._rebucket_marker(), "w") as f:
        json.dump({"version_dir": version_dir, "n_buckets": 8}, f)
    os.unlink(sink._link(next(iter(live))))

    # wrong count: refused, marker intact
    with pytest.raises(ValueError, match="interrupted rebucket"):
        KeyedUpsertSink(spark, path, key_cols=["k"], n_buckets=4)
    assert os.path.exists(sink._rebucket_marker())

    # right count: recovery completes the swap and clears the marker
    sink2 = KeyedUpsertSink(spark, path, key_cols=["k"], n_buckets=8)
    assert not os.path.exists(sink2._rebucket_marker())
    assert sorted(tuple(r) for r in sink2.read().collect()) == want
    # and the table keeps working
    sink2(df([("e", 5)]), 1)
    assert sink2.read().count() == 5


def test_append_sink_rejects_fresh_checkpoint_on_stale_table(
    spark, tmp_path
):
    """The append channel is epoch-id-sensitive (max-epoch wins per
    key), so a fresh checkpoint restarting epoch ids at 0 against a
    table with published history would make NEW rows silently LOSE the
    dedup — the sink refuses the decreasing id instead (the append twin
    of the epoch-ledger lineage guard; fanout_sink_root makes the shape
    unconstructible in idiomatic use)."""
    from flink_tutorial_spark.sinks.foreach import KeyedAppendSink

    sink = KeyedAppendSink(
        spark, str(tmp_path / "t"), key_cols=["k"], n_buckets=4
    )

    def df(rows):
        return spark.createDataFrame(rows, "k string, v long")

    sink(df([("a", 1)]), 5)
    sink(df([("a", 2)]), 5)  # replay of the same epoch: allowed
    sink(df([("a", 3)]), 7)  # progress: allowed
    with pytest.raises(RuntimeError, match="lineage mismatch"):
        sink(df([("a", 99)]), 0)  # fresh lineage on stale table: refused
    assert sorted(tuple(r) for r in sink.read().collect()) == [("a", 3)]

# ---------------------------------------------------------------- r17:
# bucket-count table meta, fold crash recovery, auto-compaction
# (VERDICT r16 #3 + ADVICE r16)


def test_stale_bucket_count_reconstruction_refused(spark, tmp_path):
    """ADVICE r16 (medium): after a COMPLETED rebucket, reconstructing a
    sink on the same path with the old count must raise — not silently
    scan/probe under the wrong modulus (overwrite channel: read() drops
    the grown buckets; append channel: point probes miss candidates)."""
    from flink_tutorial_spark.sinks.foreach import (
        KeyedAppendSink,
        KeyedUpsertSink,
    )

    def df(rows):
        return spark.createDataFrame(rows, "k string, v long")

    for cls, sub in ((KeyedUpsertSink, "u"), (KeyedAppendSink, "a")):
        path = str(tmp_path / sub)
        sink = cls(spark, path, key_cols=["k"], n_buckets=4)
        sink(df([("a", 1), ("b", 2), ("c", 3)]), 0)
        sink.rebucket(8)
        with pytest.raises(ValueError, match="bucket-count mismatch"):
            cls(spark, path, key_cols=["k"], n_buckets=4)
        # the recorded count reconstructs fine and answers identically
        sink2 = cls(spark, path, key_cols=["k"], n_buckets=8)
        assert sorted(tuple(r) for r in sink2.read().collect()) == [
            ("a", 1), ("b", 2), ("c", 3),
        ]


def test_append_fold_crash_recovers_on_construction(spark, tmp_path):
    """ADVICE r16: a crash between _fold_epochs' atomic publish and the
    superseded-dir removals leaves mixed epoch dirs; the pending marker
    makes the next constructor complete the removals (and refuse a
    wrong-count construction with guidance) instead of read_buckets
    silently probing stale co-residents."""
    import json
    import shutil

    from flink_tutorial_spark.sinks.foreach import KeyedAppendSink

    path = str(tmp_path / "t")
    sink = KeyedAppendSink(spark, path, key_cols=["k"], n_buckets=4)

    def df(rows):
        return spark.createDataFrame(rows, "k string, v long")

    sink(df([("a", 1), ("b", 2)]), 0)
    sink(df([("a", 10), ("c", 3)]), 1)
    pre_fold = sorted(tuple(r) for r in sink.read().collect())
    old_dirs = sink._epoch_dirs()
    assert len(old_dirs) == 2

    # recreate the crash state: run the fold, then restore one
    # superseded dir and re-write the marker as if removals never ran
    keep_copy = str(tmp_path / "stash")
    shutil.copytree(old_dirs[0], keep_copy)
    sink.compact()
    folded = sink._epoch_dirs()
    assert len(folded) == 1
    shutil.copytree(keep_copy, old_dirs[0])
    with open(sink._fold_marker(), "w") as f:
        json.dump(
            {"final": folded[0], "superseded": old_dirs, "n_buckets": 4}, f
        )

    # wrong count: refused, marker intact
    with pytest.raises(ValueError, match="interrupted fold"):
        KeyedAppendSink(spark, path, key_cols=["k"], n_buckets=8)
    assert os.path.exists(sink._fold_marker())

    # right count: removals completed, marker gone, answers unchanged
    sink2 = KeyedAppendSink(spark, path, key_cols=["k"], n_buckets=4)
    assert not os.path.exists(sink2._fold_marker())
    assert len(sink2._epoch_dirs()) == 1
    assert sorted(tuple(r) for r in sink2.read().collect()) == pre_fold


def test_append_fold_crash_before_publish_discards_marker(spark, tmp_path):
    """The fold marker goes on just before the atomic publish; a crash
    in that window (final dir absent) must be discarded as a no-op, not
    'completed' into removing live epoch dirs."""
    import json

    from flink_tutorial_spark.sinks.foreach import KeyedAppendSink

    path = str(tmp_path / "t")
    sink = KeyedAppendSink(spark, path, key_cols=["k"], n_buckets=4)
    sink(spark.createDataFrame([("a", 1)], "k string, v long"), 0)
    dirs = sink._epoch_dirs()
    with open(sink._fold_marker(), "w") as f:
        json.dump(
            {
                "final": os.path.join(path, "epochs", "e000000000000_cdead"),
                "superseded": dirs,
                "n_buckets": 4,
            },
            f,
        )
    sink2 = KeyedAppendSink(spark, path, key_cols=["k"], n_buckets=4)
    assert not os.path.exists(sink2._fold_marker())
    assert sink2._epoch_dirs() == dirs
    assert sink2.read().count() == 1


def test_append_auto_compaction_bounds_dirs_and_answers(spark, tmp_path):
    """VERDICT r16 #3: with compact_every_n_epochs=N a long-running
    append ingest holds the epoch-dir count <= N without any manual
    compact() call, and the keyed table still answers exactly (full
    read and point probe)."""
    import numpy as np

    from flink_tutorial_spark.operators.similarity import (
        lsh_index,
        lsh_topk_from_index,
    )
    from flink_tutorial_spark.sinks.foreach import KeyedAppendSink

    sink = KeyedAppendSink(
        spark, str(tmp_path / "idx"), key_cols=["vec_id"], n_buckets=8,
        bucket_cols=["bucket"], stable_value_buckets=True,
        compact_every_n_epochs=3,
    )
    rng = np.random.default_rng(7)  # seed with known bucket collisions
    rows = [
        (int(i), [float(x) for x in rng.standard_normal(64)])
        for i in range(200)
    ]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    for e in range(10):  # 10 epochs of 20 vectors each
        lo, hi = e * 20, (e + 1) * 20
        sink(lsh_index(vecs.where(f"vec_id >= {lo} and vec_id < {hi}")), e)
        assert len(sink._epoch_dirs()) <= 3

    assert sink.read().count() == 200
    q = lsh_index(vecs.where("vec_id < 5"))
    full = sorted(
        tuple(r)
        for r in lsh_topk_from_index(
            sink.read().select("vec_id", "bucket", "embedding"), q, k=3
        ).collect()
    )
    probe = sorted(
        tuple(r)
        for r in lsh_topk_from_index(
            sink.read_buckets(q).select("vec_id", "bucket", "embedding"),
            q,
            k=3,
        ).collect()
    )
    assert full == probe and len(full) > 0

    # a replay of the LAST epoch after its rows were folded away is
    # still accepted and converges (equal id = replay by contract)
    lo, hi = 9 * 20, 10 * 20
    sink(lsh_index(vecs.where(f"vec_id >= {lo} and vec_id < {hi}")), 9)
    assert sink.read().count() == 200


def test_rebucket_refuses_unparsable_ledger_names(spark, tmp_path):
    """ADVICE r16: an unparsable version-dir name means the name-encoded
    replay ledger is already damaged — rebucket must fail loudly before
    rewriting the table on top of it (the old max(ledger,0) clamp
    silently fabricated ledger epoch 0)."""
    import shutil

    sink = _sum_sink(spark, tmp_path / "t", n_buckets=4)
    sink(spark.createDataFrame([("a", 1)], "k string, c long"), 0)

    # damage every version dir name, then repoint the links (the links
    # are what _live_bucket_paths resolves)
    root = str(tmp_path / "t")
    for entry in os.listdir(root):
        full = os.path.join(root, entry)
        if entry.startswith("v") and os.path.isdir(full):
            bad = os.path.join(root, "damaged_" + entry[1:])
            shutil.move(full, bad)
            for sub in os.listdir(bad):
                if sub.startswith("_bucket="):
                    b = int(sub.split("=")[1])
                    link = sink._link(b)
                    if os.path.lexists(link):
                        os.unlink(link)
                    os.symlink(os.path.join(bad, sub), link)
    with pytest.raises(ValueError, match="unreliable"):
        sink.rebucket(8)


def test_pre_meta_table_wrong_count_detected_from_layout(spark, tmp_path):
    """Pre-meta adoption guard (review r17): reconstructing a legacy
    (meta-less) table with a too-small count is caught from the layout
    (a bucket id on disk >= the count) instead of institutionalizing
    the wrong count in the new meta file."""
    from flink_tutorial_spark.sinks.foreach import KeyedAppendSink

    path = str(tmp_path / "t")
    sink = KeyedAppendSink(spark, path, key_cols=["k"], n_buckets=8)
    rows = [(f"k{i}", i) for i in range(64)]
    sink(spark.createDataFrame(rows, "k string, v long"), 0)
    os.unlink(sink._meta_path())  # simulate a pre-meta legacy table

    with pytest.raises(ValueError, match="bucket-count mismatch"):
        KeyedAppendSink(spark, path, key_cols=["k"], n_buckets=4)

    # the true count adopts and re-records
    sink2 = KeyedAppendSink(spark, path, key_cols=["k"], n_buckets=8)
    assert os.path.exists(sink2._meta_path())
    assert sink2.read().count() == 64


def test_append_rebucket_post_publish_failure_keeps_new_count(
    spark, tmp_path, monkeypatch
):
    """Review r17: if the re-shard fold fails AFTER its atomic publish
    (e.g. the meta write), the table layout already IS the new count —
    the live sink must keep it (restoring the old count would probe the
    wrong modulus) and complete the fold bookkeeping in-process."""
    from flink_tutorial_spark.sinks import foreach as fx

    path = str(tmp_path / "t")
    sink = fx.KeyedAppendSink(spark, path, key_cols=["k"], n_buckets=4)

    def df(rows):
        return spark.createDataFrame(rows, "k string, v long")

    sink(df([(f"k{i}", i) for i in range(32)]), 0)
    sink(df([("k0", 100)]), 1)

    calls = {"n": 0}
    real = fx.KeyedAppendSink._write_meta

    def boom(self):
        calls["n"] += 1
        if calls["n"] == 1:
            raise OSError("disk full")
        real(self)

    monkeypatch.setattr(fx.KeyedAppendSink, "_write_meta", boom)
    with pytest.raises(OSError, match="disk full"):
        sink.rebucket(8)

    # published fold: new count kept, bookkeeping completed in-process
    assert sink.n_buckets == 8
    assert not os.path.exists(sink._fold_marker())
    assert len(sink._epoch_dirs()) == 1
    got = {(r["k"], r["v"]) for r in sink.read().collect()}
    assert ("k0", 100) in got and len(got) == 32
    # and a reconstruction under the new count passes the meta check
    monkeypatch.setattr(fx.KeyedAppendSink, "_write_meta", real)
    sink2 = fx.KeyedAppendSink(spark, path, key_cols=["k"], n_buckets=8)
    assert sink2.read().count() == 32


def test_upsert_rebucket_post_publish_failure_recovers_in_process(
    spark, tmp_path, monkeypatch
):
    """ADVICE r17 + review r18: on the keyed-overwrite channel the
    post-marker commit sequence IS _recover_rebucket (one code path for
    live rebucket and crash recovery). A failure after the marker write
    (the publish point) must leave the live instance consistent for
    probing — count new, links already swapped (the swap precedes the
    meta write) — with the marker intact so the next constructor (or a
    retry) completes the bookkeeping."""
    from flink_tutorial_spark.sinks import foreach as fx

    path = str(tmp_path / "t")
    sink = fx.KeyedUpsertSink(spark, path, key_cols=["k"], n_buckets=4)

    def df(rows):
        return spark.createDataFrame(rows, "k string, v long")

    sink(df([(f"k{i}", i) for i in range(32)]), 0)
    sink(df([("k0", 100)]), 1)
    before = {(r["k"], r["v"]) for r in sink.read().collect()}

    calls = {"n": 0}
    real = fx.KeyedUpsertSink._write_meta

    def boom(self):
        calls["n"] += 1
        if calls["n"] == 1:
            raise OSError("disk full")
        real(self)

    monkeypatch.setattr(fx.KeyedUpsertSink, "_write_meta", boom)
    with pytest.raises(OSError, match="disk full"):
        sink.rebucket(8)

    # marker was the publish point: new count kept, links swapped, reads
    # correct; the marker survives the failed meta write for the retry
    assert sink.n_buckets == 8
    assert os.path.exists(sink._rebucket_marker())
    live = sink._live_bucket_paths()
    assert live and set(live) <= set(range(8))
    assert {(r["k"], r["v"]) for r in sink.read().collect()} == before
    # a fresh constructor under the new count completes the recovery
    # (meta written, marker gone) and the sink keeps working
    monkeypatch.setattr(fx.KeyedUpsertSink, "_write_meta", real)
    sink2 = fx.KeyedUpsertSink(spark, path, key_cols=["k"], n_buckets=8)
    assert not os.path.exists(sink2._rebucket_marker())
    assert sink2.read().count() == 32
    sink(df([("k1", 200)]), 2)
    got = {(r["k"], r["v"]) for r in sink.read().collect()}
    assert ("k1", 200) in got and len(got) == 32


def test_upsert_rebucket_marker_write_failure_restores_old_count(
    spark, tmp_path, monkeypatch
):
    """ADVICE r17 twin: if the marker itself never lands, nothing
    published — links and meta still hold the old layout, so the live
    instance must restore the old count (keeping the new one would
    probe new-count ids against old links)."""
    from flink_tutorial_spark.sinks import foreach as fx

    path = str(tmp_path / "t")
    sink = fx.KeyedUpsertSink(spark, path, key_cols=["k"], n_buckets=4)
    rows = [(f"k{i}", i) for i in range(32)]
    sink(spark.createDataFrame(rows, "k string, v long"), 0)
    before = {(r["k"], r["v"]) for r in sink.read().collect()}

    monkeypatch.setattr(
        fx.KeyedUpsertSink,
        "_rebucket_marker",
        lambda self: str(tmp_path / "nosuchdir" / "marker.json"),
    )
    n_dirs_before = len(os.listdir(path))
    with pytest.raises(FileNotFoundError):
        sink.rebucket(8)
    monkeypatch.undo()

    assert sink.n_buckets == 4
    # the orphaned new-count rewrite is cleaned up, not leaked (review
    # r18: epoch-level pruning could never empty a dir whose bucket ids
    # exceed the old count)
    assert len(os.listdir(path)) == n_dirs_before
    assert {(r["k"], r["v"]) for r in sink.read().collect()} == before
    # and the table is still fully operational: the interrupted re-shard
    # can simply be re-run
    sink.rebucket(8)
    assert sink.n_buckets == 8
    assert {(r["k"], r["v"]) for r in sink.read().collect()} == before


def test_append_rebucket_unreadable_marker_keeps_new_count(
    spark, tmp_path, monkeypatch
):
    """ADVICE r17: an unreadable fold marker during rebucket failure
    handling is UNKNOWN publish state — the fold may have published, so
    restoring the old count could put the live sink on the wrong
    modulus. The handler must keep the new count and surface both
    errors instead of silently defaulting to restore."""
    from flink_tutorial_spark.sinks import foreach as fx

    path = str(tmp_path / "t")
    sink = fx.KeyedAppendSink(spark, path, key_cols=["k"], n_buckets=4)
    sink(
        spark.createDataFrame(
            [(f"k{i}", i) for i in range(32)], "k string, v long"
        ),
        0,
    )

    real = fx.KeyedAppendSink._write_meta

    def boom(self):
        # simulate a crash that also mangles the marker: the fold has
        # already published (rename + removals ran before _write_meta)
        with open(self._fold_marker(), "w") as f:
            f.write("{not json")
        raise OSError("disk full")

    monkeypatch.setattr(fx.KeyedAppendSink, "_write_meta", boom)
    with pytest.raises(RuntimeError, match="publish state unknown"):
        sink.rebucket(8)
    monkeypatch.setattr(fx.KeyedAppendSink, "_write_meta", real)

    # unknown publish state: the new count is kept (the fold DID
    # publish here), the marker is left for repair
    assert sink.n_buckets == 8
    assert os.path.exists(sink._fold_marker())
    assert len(sink._epoch_dirs()) == 1
    assert sink.read().count() == 32
    # operator repairs by removing the corrupt marker; reconstruction
    # under the published count then works after re-recording meta
    os.unlink(sink._fold_marker())
    sink._write_meta()
    sink2 = fx.KeyedAppendSink(spark, path, key_cols=["k"], n_buckets=8)
    assert sink2.read().count() == 32


def test_constructor_surfaces_unreadable_markers(spark, tmp_path):
    """Symmetric hardening of the ADVICE r17 unreadable-marker rule: a
    corrupt pending marker at CONSTRUCTION time (rebucket marker on the
    overwrite channel, fold marker on the append channel) must raise an
    actionable repair error, not a bare json decode error — and removing
    the marker must make construction work again."""
    from flink_tutorial_spark.sinks import foreach as fx

    up = str(tmp_path / "up")
    sink = fx.KeyedUpsertSink(spark, up, key_cols=["k"], n_buckets=4)
    sink(spark.createDataFrame([("a", 1)], "k string, v long"), 0)
    with open(sink._rebucket_marker(), "w") as f:
        f.write("{not json")
    with pytest.raises(RuntimeError, match="marker.*is unreadable"):
        fx.KeyedUpsertSink(spark, up, key_cols=["k"], n_buckets=4)
    os.unlink(sink._rebucket_marker())
    assert fx.KeyedUpsertSink(spark, up, key_cols=["k"], n_buckets=4).read().count() == 1

    ap = str(tmp_path / "ap")
    asink = fx.KeyedAppendSink(spark, ap, key_cols=["k"], n_buckets=4)
    asink(spark.createDataFrame([("a", 1)], "k string, v long"), 0)
    # a marker missing required keys is as unreadable as bad json
    with open(asink._fold_marker(), "w") as f:
        f.write('{"final": "/nowhere"}')
    with pytest.raises(RuntimeError, match="marker.*is unreadable"):
        fx.KeyedAppendSink(spark, ap, key_cols=["k"], n_buckets=4)
    os.unlink(asink._fold_marker())
    assert fx.KeyedAppendSink(spark, ap, key_cols=["k"], n_buckets=4).read().count() == 1


def test_wrong_shape_marker_is_unreadable_not_executed(spark, tmp_path):
    """Review r18: a pending marker 'repaired' to VALID json of the
    wrong shape must hit the same unreadable-marker repair error as bad
    json — never be executed. The nightmare case is a string
    `superseded` (iterating it per-character would rmtree '/'); non-dict
    payloads and wrong-typed fields are the same class."""
    import json as _json

    from flink_tutorial_spark.sinks import foreach as fx

    ap = str(tmp_path / "ap")
    asink = fx.KeyedAppendSink(spark, ap, key_cols=["k"], n_buckets=4)
    asink(spark.createDataFrame([("a", 1)], "k string, v long"), 0)
    final = asink._epoch_dirs()[0]
    for bad in (
        {"final": final, "superseded": "/definitely/not/a/list", "n_buckets": 4},
        {"final": final, "superseded": ["ok", 7], "n_buckets": 4},
        {"final": 3, "superseded": [], "n_buckets": 4},
        ["not", "a", "dict"],
        None,
    ):
        with open(asink._fold_marker(), "w") as f:
            _json.dump(bad, f)
        with pytest.raises(RuntimeError, match="marker.*is unreadable"):
            fx.KeyedAppendSink(spark, ap, key_cols=["k"], n_buckets=4)
    os.unlink(asink._fold_marker())
    assert fx.KeyedAppendSink(spark, ap, key_cols=["k"], n_buckets=4).read().count() == 1

    up = str(tmp_path / "up")
    usink = fx.KeyedUpsertSink(spark, up, key_cols=["k"], n_buckets=4)
    usink(spark.createDataFrame([("a", 1)], "k string, v long"), 0)
    for bad in ({"version_dir": 9, "n_buckets": 4}, {"n_buckets": 4}, 42):
        with open(usink._rebucket_marker(), "w") as f:
            _json.dump(bad, f)
        with pytest.raises(RuntimeError, match="marker.*is unreadable"):
            fx.KeyedUpsertSink(spark, up, key_cols=["k"], n_buckets=4)
    os.unlink(usink._rebucket_marker())
    assert fx.KeyedUpsertSink(spark, up, key_cols=["k"], n_buckets=4).read().count() == 1


def test_marker_paths_must_resolve_inside_table_root(spark, tmp_path):
    """ADVICE r18 (medium): shape-valid markers whose PATHS escape the
    table root — '/', an absolute path elsewhere, or the table root
    itself — must raise the unreadable-marker repair error, never reach
    recovery's rmtree. Covers `superseded` and `final` on the append
    channel and `version_dir` on the overwrite channel."""
    import json as _json

    from flink_tutorial_spark.sinks import foreach as fx

    outside = str(tmp_path / "innocent_bystander")
    os.makedirs(outside)
    with open(os.path.join(outside, "data.txt"), "w") as f:
        f.write("precious")

    ap = str(tmp_path / "ap")
    asink = fx.KeyedAppendSink(spark, ap, key_cols=["k"], n_buckets=4)
    asink(spark.createDataFrame([("a", 1)], "k string, v long"), 0)
    final = asink._epoch_dirs()[0]
    for bad in (
        {"final": final, "superseded": ["/"], "n_buckets": 4},
        {"final": final, "superseded": [outside], "n_buckets": 4},
        {"final": final, "superseded": [ap], "n_buckets": 4},
        {"final": "/", "superseded": [], "n_buckets": 4},
        {"final": outside, "superseded": [], "n_buckets": 4},
        # traversal that escapes via a relative segment
        {"final": final, "superseded": [ap + "/../innocent_bystander"], "n_buckets": 4},
    ):
        with open(asink._fold_marker(), "w") as f:
            _json.dump(bad, f)
        with pytest.raises(RuntimeError, match="marker.*is unreadable"):
            fx.KeyedAppendSink(spark, ap, key_cols=["k"], n_buckets=4)
        assert os.path.exists(os.path.join(outside, "data.txt"))
    os.unlink(asink._fold_marker())
    assert fx.KeyedAppendSink(spark, ap, key_cols=["k"], n_buckets=4).read().count() == 1

    up = str(tmp_path / "up")
    usink = fx.KeyedUpsertSink(spark, up, key_cols=["k"], n_buckets=4)
    usink(spark.createDataFrame([("a", 1)], "k string, v long"), 0)
    for bad in (
        {"version_dir": "/", "n_buckets": 4},
        {"version_dir": outside, "n_buckets": 4},
        {"version_dir": up, "n_buckets": 4},
    ):
        with open(usink._rebucket_marker(), "w") as f:
            _json.dump(bad, f)
        with pytest.raises(RuntimeError, match="marker.*is unreadable"):
            fx.KeyedUpsertSink(spark, up, key_cols=["k"], n_buckets=4)
        assert os.path.exists(os.path.join(outside, "data.txt"))
    os.unlink(usink._rebucket_marker())
    assert fx.KeyedUpsertSink(spark, up, key_cols=["k"], n_buckets=4).read().count() == 1


def test_marker_bool_and_nonpositive_counts_are_unreadable(spark, tmp_path):
    """ADVICE r18 (low): isinstance(True, int) is True, so `n_buckets:
    true` (or 0 / -1) used to pass shape validation and surface later as
    a confusing count-mismatch — they must fail AT the marker read."""
    import json as _json

    from flink_tutorial_spark.sinks import foreach as fx

    ap = str(tmp_path / "ap")
    asink = fx.KeyedAppendSink(spark, ap, key_cols=["k"], n_buckets=4)
    asink(spark.createDataFrame([("a", 1)], "k string, v long"), 0)
    final = asink._epoch_dirs()[0]
    for n in (True, False, 0, -1):
        with open(asink._fold_marker(), "w") as f:
            _json.dump({"final": final, "superseded": [], "n_buckets": n}, f)
        with pytest.raises(RuntimeError, match="marker.*is unreadable"):
            fx.KeyedAppendSink(spark, ap, key_cols=["k"], n_buckets=4)
    os.unlink(asink._fold_marker())
    assert fx.KeyedAppendSink(spark, ap, key_cols=["k"], n_buckets=4).read().count() == 1


def test_recover_rebucket_prune_compares_realpaths(spark, tmp_path, monkeypatch):
    """ADVICE r18 (low): _recover_rebucket used raw string equality to
    decide which version dir survives the prune, so a recovering
    constructor spelling self.path differently from the crashed writer
    (e.g. a `/./` segment) would rmtree the dir the links were just
    swapped to, leaving every bucket link dangling."""
    import json

    from flink_tutorial_spark.sinks import foreach as fx

    path = str(tmp_path / "t")
    sink = fx.KeyedUpsertSink(spark, path, key_cols=["k"], n_buckets=4)
    sink(
        spark.createDataFrame(
            [(f"k{i}", i) for i in range(32)], "k string, v long"
        ),
        0,
    )
    # crash immediately after the marker lands: the commit sequence
    # (recovery itself) never runs
    monkeypatch.setattr(
        fx.KeyedUpsertSink,
        "_recover_rebucket",
        lambda self: (_ for _ in ()).throw(OSError("crash mid-commit")),
    )
    with pytest.raises(OSError, match="crash mid-commit"):
        sink.rebucket(8)
    monkeypatch.undo()
    assert os.path.exists(sink._rebucket_marker())
    # rewrite the marker's version_dir under an equivalent-but-different
    # spelling of the table root (realpath-identical)
    with open(sink._rebucket_marker()) as f:
        pending = json.load(f)
    variant = os.path.join(str(tmp_path), ".", "t")
    pending["version_dir"] = os.path.join(
        variant, os.path.basename(pending["version_dir"])
    )
    with open(sink._rebucket_marker(), "w") as f:
        json.dump(pending, f)
    # recovery under the ORIGINAL spelling must keep the swapped-to dir
    sink2 = fx.KeyedUpsertSink(spark, path, key_cols=["k"], n_buckets=8)
    assert not os.path.exists(sink2._rebucket_marker())
    assert sink2.read().count() == 32


def test_rebucket_marker_write_failure_leaves_no_tmp(spark, tmp_path, monkeypatch):
    """ADVICE r18 (low): a failure between the tmp marker's creation and
    os.replace must clean the stray .tmp out of the table root on BOTH
    channels (alongside the existing version-dir / count restores)."""
    from flink_tutorial_spark.sinks import foreach as fx

    real_replace = os.replace

    def boom(src, dst):
        if dst.endswith("_pending.json"):
            raise OSError("disk full on replace")
        return real_replace(src, dst)

    up = str(tmp_path / "up")
    usink = fx.KeyedUpsertSink(spark, up, key_cols=["k"], n_buckets=4)
    usink(
        spark.createDataFrame(
            [(f"k{i}", i) for i in range(32)], "k string, v long"
        ),
        0,
    )
    monkeypatch.setattr(fx.os, "replace", boom)
    with pytest.raises(OSError, match="disk full"):
        usink.rebucket(8)
    monkeypatch.undo()
    assert usink.n_buckets == 4
    assert not any(e.endswith(".tmp") for e in os.listdir(up))
    assert usink.read().count() == 32

    ap = str(tmp_path / "ap")
    asink = fx.KeyedAppendSink(spark, ap, key_cols=["k"], n_buckets=4)
    asink(
        spark.createDataFrame(
            [(f"k{i}", i) for i in range(32)], "k string, v long"
        ),
        0,
    )
    asink(
        spark.createDataFrame([("k0", 99)], "k string, v long"),
        1,
    )
    monkeypatch.setattr(fx.os, "replace", boom)
    with pytest.raises(OSError, match="disk full"):
        asink.compact()
    monkeypatch.undo()
    assert not any(e.endswith(".tmp") for e in os.listdir(ap))
    assert len(asink._epoch_dirs()) == 2  # fold never published
    assert asink.read().count() == 32


@pytest.mark.parametrize("cls_name", ["KeyedUpsertSink", "KeyedAppendSink"])
@pytest.mark.parametrize(
    "meta",
    ["[1]", "{}", '{"n_buckets": true}', '{"n_buckets": 0}'],
    ids=["non_object", "missing_field", "bool", "zero"],
)
def test_bad_table_meta_is_refused_naming_the_file(spark, tmp_path, cls_name, meta):
    """The bucket-count meta gets the markers' shape check: a meta that
    is not an object with an integer n_buckets >= 1 raises an error
    naming the file, never a bare KeyError/TypeError — and a bool must
    not pass as the count 1 (the sinks here are built with 1 bucket)."""
    from flink_tutorial_spark.sinks import foreach as fx

    cls = getattr(fx, cls_name)
    path = str(tmp_path / "t")
    sink = cls(spark, path, key_cols=["k"], n_buckets=1)
    with open(sink._meta_path(), "w") as f:
        f.write(meta)
    unreadable = r"table meta .*_table_meta\.json is unreadable"
    with pytest.raises(ValueError, match=unreadable):
        cls(spark, path, key_cols=["k"], n_buckets=1)


def test_crash_at_link_flip_replays_and_prunes_orphan(spark, tmp_path, monkeypatch):
    """Crash window between an overwrite epoch's version-dir write and
    its first link flip: the version dir is on disk but no bucket points
    at it. A replay of the epoch must give the uninterrupted answer, and
    afterwards every dirty bucket keeps only its live and N-1 dirs on
    disk — the orphaned version dir is pruned."""
    from flink_tutorial_spark.sinks.foreach import KeyedUpsertSink

    def df(rows):
        return spark.createDataFrame(rows, "k string, v long")

    e0 = df([(f"k{i}", i) for i in range(32)])
    e1 = df([(f"k{i}", 100 + i) for i in range(8)])
    ref = KeyedUpsertSink(spark, str(tmp_path / "ref"), key_cols=["k"], n_buckets=4)
    ref(e0, 0)
    ref(e1, 1)
    want = sorted(tuple(r) for r in ref.read().collect())

    path = str(tmp_path / "t")
    sink = KeyedUpsertSink(spark, path, key_cols=["k"], n_buckets=4)
    sink(e0, 0)
    pre = dict(sink._live_bucket_paths())
    vdirs_before = {e for e in os.listdir(path) if e.startswith("v")}

    def crash(src, dst):
        raise OSError("crash at link flip")

    monkeypatch.setattr(os, "symlink", crash)
    with pytest.raises(OSError, match="crash at link flip"):
        sink(e1, 1)
    monkeypatch.undo()
    (orphan,) = {e for e in os.listdir(path) if e.startswith("v")} - vdirs_before
    assert sink._live_bucket_paths() == pre  # nothing published

    sink(e1, 1)  # the replay
    assert sorted(tuple(r) for r in sink.read().collect()) == want
    assert not os.path.exists(os.path.join(path, orphan))
    live = sink._live_bucket_paths()
    dirty = {b for b in live if live[b] != pre[b]}
    assert dirty
    for b in dirty:
        on_disk = {
            os.path.realpath(os.path.join(path, v, f"_bucket={b}"))
            for v in os.listdir(path)
            if v.startswith("v")
            and os.path.isdir(os.path.join(path, v, f"_bucket={b}"))
        }
        assert on_disk == {live[b], pre[b]}
