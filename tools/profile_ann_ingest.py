#!/usr/bin/env python
"""Scale evidence for the ingest-time ANN index (VERDICT r14 #2 /
SCALING.md r15): synthesizes an embedding corpus far beyond the testdata
SFs, streams it through streaming_ann_ingest's exact topology
(file micro-batches -> run_fanout -> KeyedUpsertSink keyed by vec_id,
hash-bucketed BY the LSH bucket), and measures

1. scan multiple: one streaming query, sum(numInputRows) == corpus
   (the 1x-ingest claim, counted by a StreamingQueryListener);
2. incremental epoch cost: after the corpus has landed, a 1% APPEND
   batch (new vec_ids — the stable_value_buckets contract: an existing
   key's bucket never changes, so re-embeds arrive as new ids) vs
   rebuilding the index from the full corpus — the reason the index is
   MAINTAINED on ingest rather than re-derived per batch at 100 TB;
3. read-side probe: lsh_topk_from_index over the converged index for a
   20-vector query set.

Usage: python tools/profile_ann_ingest.py [n_vectors] [dim] [n_files] [channel]
Defaults 100_000 x 64 x 10 overwrite; channel is overwrite or append.
channel=append profiles the r16 pure-append + dedup-on-read channel
(KeyedAppendSink) instead: same topology and measurements, plus
compact() timed separately — the append channel's epoch writes only
the batch (no dirty-bucket read-merge-write), which is the mitigation
the r15 run's append-epoch cost pointed at. Compaction is manual: the
tool calls compact() once, after the 1% append. Prints one JSON line.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import numpy as np  # noqa: E402
import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402
from pyspark.sql.streaming import StreamingQueryListener  # noqa: E402

from flink_tutorial_spark.operators.dedup import scratch_dir  # noqa: E402
from flink_tutorial_spark.operators.similarity import (  # noqa: E402
    lsh_index,
    lsh_topk_from_index,
)
from flink_tutorial_spark.session import get_spark  # noqa: E402
from flink_tutorial_spark.sinks.foreach import (  # noqa: E402
    KeyedAppendSink,
    KeyedUpsertSink,
)
from flink_tutorial_spark.streaming.run import run_fanout  # noqa: E402


class Probe(StreamingQueryListener):
    """numInputRows of every progress event, keyed (query id, batch)."""

    def __init__(self):
        self.rows = {}

    def onQueryProgress(self, event):
        p = event.progress
        self.rows[(str(p.id), p.batchId)] = p.numInputRows

    def onQueryStarted(self, event):
        pass

    onQueryIdle = onQueryTerminated = onQueryStarted


def drain(probe: Probe, deadline_s: float = 30.0) -> None:
    """Wait until the asynchronous progress events stop arriving."""
    last, deadline = None, time.time() + deadline_s
    while time.time() < deadline and not (probe.rows and probe.rows == last):
        last = dict(probe.rows)
        time.sleep(1.0)


def synth(
    src: str, n: int, dim: int, n_files: int, seed: int = 7, id0: int = 0
) -> None:
    os.makedirs(src, exist_ok=True)
    rng = np.random.default_rng(seed)
    per = n // n_files
    for i in range(n_files):
        lo = i * per
        hi = n if i == n_files - 1 else lo + per  # remainder -> last file
        ids = np.arange(id0 + lo, id0 + hi, dtype=np.int64)
        vecs = rng.standard_normal((hi - lo, dim)).astype(np.float32)
        t = pa.table(
            {
                "vec_id": ids,
                "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            }
        )
        p = f"{src}/b{i:03d}.parquet"
        pq.write_table(t, p)
        os.utime(p, (1_600_000_000 + i, 1_600_000_000 + i))


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 100_000
    dim = int(sys.argv[2]) if len(sys.argv) > 2 else 64
    n_files = int(sys.argv[3]) if len(sys.argv) > 3 else 10
    channel = sys.argv[4] if len(sys.argv) > 4 else "overwrite"
    sink_cls = {"overwrite": KeyedUpsertSink, "append": KeyedAppendSink}[channel]
    spark = get_spark("annprof", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "8")))
    base = scratch_dir()
    src = os.path.join(base, "src")
    synth(src, n, dim, n_files)

    def stream():
        return (
            spark.readStream.format("parquet")
            .schema("vec_id long, embedding array<float>")
            .option("maxFilesPerTrigger", "1")
            .load(src)
        )

    sink = sink_cls(
        spark,
        os.path.join(base, "idx"),
        key_cols=["vec_id"],
        n_buckets=64,
        bucket_cols=["bucket"],
        stable_value_buckets=True,  # vec_ids are append-only here
    )
    probe = Probe()
    spark.streams.addListener(probe)
    ck = os.path.join(base, "ck")
    t0 = time.perf_counter()
    run_fanout(
        stream(), [lambda b, e: sink(lsh_index(b), e)],
        checkpoint=ck, available_now=True,
    )
    build_s = time.perf_counter() - t0
    drain(probe)
    spark.streams.removeListener(probe)
    n_queries = len({q for q, _ in probe.rows})
    ingested = sum(probe.rows.values())

    # incremental epoch: 1% NEW vectors appended as one file on the
    # SAME checkpoint lineage (stable_value_buckets contract: re-embeds
    # arrive as new ids, never as moved keys)
    n_upd = max(n // 100, 1)
    synth(os.path.join(base, "upd"), n_upd, dim, 1, seed=11, id0=n)
    os.rename(
        os.path.join(base, "upd", "b000.parquet"),
        os.path.join(src, f"b{n_files:03d}.parquet"),
    )
    os.utime(
        os.path.join(src, f"b{n_files:03d}.parquet"),
        (1_600_000_000 + n_files, 1_600_000_000 + n_files),
    )
    t0 = time.perf_counter()
    run_fanout(
        stream(), [lambda b, e: sink(lsh_index(b), e)],
        checkpoint=ck, available_now=True,
    )
    update_s = time.perf_counter() - t0

    # the rebuild alternative the incremental epoch replaces: index the
    # FULL corpus again as one batch pass (write the same keyed table)
    rebuild_sink = sink_cls(
        spark,
        os.path.join(base, "idx_rebuild"),
        key_cols=["vec_id"],
        n_buckets=64,
        bucket_cols=["bucket"],
        stable_value_buckets=True,
    )
    corpus = spark.read.parquet(src)
    t0 = time.perf_counter()
    rebuild_sink(lsh_index(corpus), 0)
    rebuild_s = time.perf_counter() - t0

    # append channel only: the read-side rent and its paydown — probe
    # the accumulated epoch dirs, compact, probe again
    compact_s = pre_compact_probe_s = None
    if channel == "append":
        idx0 = sink.read().select("vec_id", "bucket", "embedding")
        t0 = time.perf_counter()
        lsh_topk_from_index(idx0, idx0.where("vec_id < 20"), k=3).count()
        pre_compact_probe_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        sink.compact()
        compact_s = time.perf_counter() - t0

    # read side: top-3 for 20 queries from the converged index
    idx = sink.read().select("vec_id", "bucket", "embedding")
    t0 = time.perf_counter()
    got = lsh_topk_from_index(idx, idx.where("vec_id < 20"), k=3).count()
    probe_s = time.perf_counter() - t0

    out = {
        "channel": channel,
        "n_vectors": n,
        "dim": dim,
        "n_files": n_files,
        "streaming_queries": n_queries,
        "rows_ingested": ingested,
        "scan_multiple": round(ingested / n, 3),
        "build_s": round(build_s, 2),
        "append_1pct_s": round(update_s, 2),
        "rebuild_full_s": round(rebuild_s, 2),
        "index_rows": idx.count(),
        "probe_topk_s": round(probe_s, 2),
        "topk_rows": got,
    }
    if channel == "append":
        out["pre_compact_probe_s"] = round(pre_compact_probe_s, 2)
        out["compact_s"] = round(compact_s, 2)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
