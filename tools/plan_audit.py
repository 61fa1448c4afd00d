#!/usr/bin/env python
"""Whole-catalog physical-plan census -> PLAN_AUDIT.json (committed).

tests/test_plans.py::test_catalog_wide_plan_audit GATES the hard flags
(no BatchEvalPython, no CartesianProduct) every run; this tool makes
the whole plan SHAPE diffable round-over-round: per batch query it
counts the plan-node classes that matter at 100 TB — shuffles
(Exchange), broadcast vs sort-merge vs nested-loop joins, generators
(explodes), Python eval nodes, whole-stage-codegen spans — so a
regression like "a broadcast join silently became a sort-merge join"
or "an extra shuffle appeared" shows up as a one-line JSON diff in
review, before it shows up as a bench regression.

Streaming queries execute on call, so their micro-batch plans are
censused through a StreamingQueryListener instead (VERDICT r12 #6):
per catalog query the row pins how many streaming queries it starts,
how many micro-batches they run, and the STATE-STORE OPERATOR counts
per run (stateOperators.operatorName from the progress events — the
same channel as the SCALING.md state studies) and the state-partition
counts those operators ran with (stateOperators.numShufflePartitions,
the count streaming/run.stream_shuffle_partitions picks), plus the ordinary
node census of the post-stream batch report plan under "post". A
silently added second stateful operator or a second pipeline now
shows up as a one-line JSON diff, the way batch exchanges do.

r14 (VERDICT r13 #3): the census sees through MATERIALIZATION — with
flink_tutorial_spark.plan_capture armed, every lineage-cutting
boundary (memory-sink/foreachBatch runs, localCheckpoint sites,
scratch-parquet writes, keyed-sink merge jobs) records its
pre-truncation plan; those merge into a per-row "pre" census (+ the
capture labels), so no query presents only a `Scan ExistingRDD` stub.
LIVE queries are detected by BEHAVIOR (stream captures / listener
runs), not the name prefix — cep_* and other memory-sink composites
are censused as streaming now.

Usage: python tools/plan_audit.py [sf_dir]   (default sf0.001)
Writes PLAN_AUDIT.json at the repo root and prints a summary line.
"""

from __future__ import annotations

import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from flink_tutorial_spark import plan_capture, plans  # noqa: E402
from flink_tutorial_spark.session import get_spark  # noqa: E402

COUNTS = {
    "exchange": r"^\(\d+\) Exchange",
    "bhj": r"^\(\d+\) BroadcastHashJoin",
    "smj": r"^\(\d+\) SortMergeJoin",
    "shj": r"^\(\d+\) ShuffledHashJoin",
    "bnlj": r"^\(\d+\) BroadcastNestedLoopJoin",
    "cartesian": r"^\(\d+\) CartesianProduct",
    "python": r"^\(\d+\) BatchEvalPython",
    "arrow": r"^\(\d+\) (?:ArrowEvalPython|MapInPandas|FlatMapGroupsInPandas)",
    "generate": r"^\(\d+\) Generate",
    # whole-token: "Window" must not also count WindowGroupLimit (the
    # Spark 3.5+ top-k pushdown node — censused separately; ADVICE r14)
    "window": r"^\(\d+\) Window(?![A-Za-z])",
    "windowgrouplimit": r"^\(\d+\) WindowGroupLimit",
    "agg": r"^\(\d+\) (?:HashAggregate|SortAggregate|ObjectHashAggregate)",
}


#: node names counted in TREE-format plans (StreamingQuery.explainInternal
#: — the executed micro-batch plan captured by plan_capture): one node per
#: line, prefixed by tree glyphs and optional codegen stars
TREE_NODES = {
    "exchange": ("Exchange",),
    "bhj": ("BroadcastHashJoin",),
    "smj": ("SortMergeJoin",),
    "shj": ("ShuffledHashJoin",),
    "bnlj": ("BroadcastNestedLoopJoin",),
    "cartesian": ("CartesianProduct",),
    "python": ("BatchEvalPython",),
    "arrow": (
        "ArrowEvalPython",
        "MapInPandas",
        "FlatMapGroupsInPandasWithState",
        "FlatMapGroupsInPandas",
    ),
    "generate": ("Generate",),
    "window": ("Window",),
    "windowgrouplimit": ("WindowGroupLimit",),
    "agg": ("HashAggregate", "SortAggregate", "ObjectHashAggregate"),
    "state": (
        "StateStoreSave",
        "StateStoreRestore",
        "SessionWindowStateStoreSave",
        "SessionWindowStateStoreRestore",
    ),
}

#: node-token -> census key, inverted from TREE_NODES for whole-token
#: lookup (prefix matching counted WindowGroupLimit as Window; ADVICE r14)
_TREE_TOKEN = {n: k for k, names in TREE_NODES.items() for n in names}


def audit(plan: str) -> dict:
    row = {k: len(re.findall(p, plan, re.M)) for k, p in COUNTS.items()}
    # formatted mode prints codegen membership as `[codegen id : N]`
    # (the r13 `WholeStageCodegen (N)` regex never matched — dead column)
    row["wscg_spans"] = len(set(re.findall(r"\[codegen id : (\d+)\]", plan)))
    return {k: v for k, v in row.items() if v}


def audit_tree(plan: str) -> dict:
    """Census of a TREE-format plan (simple/explainInternal mode):
    strip the tree glyphs / codegen star per line, then match the node's
    WHOLE first token (not a prefix) against the census names."""
    row: dict[str, int] = {}
    wscg = set(re.findall(r"\*\((\d+)\)", plan))
    for line in plan.splitlines():
        node = re.sub(r"^[\s:+\-]*(?:\*\(\d+\)\s*)?", "", line)
        m = re.match(r"[A-Za-z]+", node)
        k = _TREE_TOKEN.get(m.group(0)) if m else None
        if k:
            row[k] = row.get(k, 0) + 1
    if wscg:
        row["wscg_spans"] = len(wscg)
    return row


def audit_any(plan: str) -> dict:
    """Dispatch on plan format: formatted (numbered detail lines) vs
    tree (explainInternal captures)."""
    if re.search(r"^\(\d+\) ", plan, re.M):
        return audit(plan)
    return audit_tree(plan)


def _plan_str(spark, df) -> str:
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


class _StreamProbe:
    """Per-run micro-batch count, state-operator instance counts and
    state-partition counts."""

    def __init__(self):
        from pyspark.sql.streaming import StreamingQueryListener

        probe = self

        class L(StreamingQueryListener):
            def __init__(self):
                self.batches: dict[str, set] = {}
                self.ops: dict[str, dict] = {}
                self.partitions: dict[str, set] = {}

            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                run = str(p.runId)
                self.batches.setdefault(run, set()).add(p.batchId)
                names = sorted(
                    so.operatorName for so in p.stateOperators or []
                )
                if names:  # per-batch instance counts; stable per run
                    counts: dict = {}
                    for n in names:
                        counts[n] = counts.get(n, 0) + 1
                    self.ops[run] = counts
                    self.partitions.setdefault(run, set()).update(
                        so.numShufflePartitions for so in p.stateOperators
                    )

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = L()
        assert probe is self


def _snapshot(listener) -> dict:
    """Copy the listener's run->batches map without tripping over the
    listener thread mutating it mid-iteration (dict/set comprehensions
    over live structures raise RuntimeError exactly when stragglers —
    the thing being waited for — arrive). Retries are BOUNDED (ADVICE
    r15: an unbounded loop could spin forever against a pathologically
    chatty listener); after the cap, fall back to a best-effort copy —
    _settle_listener's stability loop re-snapshots anyway, so a torn
    copy only delays settling by one tick, never corrupts the result."""
    for _ in range(512):
        try:
            return {r: frozenset(b) for r, b in list(listener.batches.items())}
        except RuntimeError:  # changed size during iteration — go again
            continue
    try:
        keys = list(listener.batches)  # can tear under the same mutation
    except RuntimeError:
        return {}  # fully torn — an empty copy just forces a re-tick
    out = {}
    for r in keys:
        try:
            out[r] = frozenset(listener.batches.get(r, ()))
        except RuntimeError:  # this key torn too — empty forces a re-tick
            out[r] = frozenset()
    return out


def _settle_listener(listener, timeout: float = 8.0) -> None:
    """Wait until the async listener's run/batch snapshot goes stable —
    called before snapshotting prior_runs after a query that went live
    (ADVICE r14: a straggler progress event from the PREVIOUS query
    landing after the snapshot misclassifies the next batch query as
    streaming and hands it the other query's runs/state_ops)."""
    import time

    last = None
    deadline = time.time() + timeout
    while time.time() < deadline:
        cur = _snapshot(listener)
        if cur == last:
            return
        last = cur
        time.sleep(0.3)


def main() -> None:
    import time

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("planaudit", cpus=8)
    out: dict[str, dict] = {}
    errs = []
    probe = _StreamProbe()
    spark.streams.addListener(probe.listener)
    plan_capture.enable()
    prev_live = False
    try:
        _audit_loop(spark, sf_dir, out, errs, probe, prev_live)
    finally:
        # an unexpected error must not leave capture armed (unbounded
        # accumulation in a long-lived process) or the listener attached
        plan_capture.disable()
        spark.streams.removeListener(probe.listener)
    path = os.path.join(REPO, "PLAN_AUDIT.json")
    with open(path, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    n_stream = sum(1 for r in out.values() if "streaming_queries" in r)
    tot = {
        k: sum(r.get(k, 0) for r in out.values() if "streaming_queries" not in r)
        for k in COUNTS
    }
    print(
        json.dumps(
            {
                "n_batch_queries": len(out) - n_stream,
                "n_streaming_queries": n_stream,
                "errors": errs,
                "totals": tot,
            }
        )
    )


def _audit_loop(spark, sf_dir, out, errs, probe, prev_live) -> None:
    import time

    for name in sorted(plans.REGISTRY):
        if prev_live:  # drain the previous live query's stragglers first
            _settle_listener(probe.listener)
        prior_runs = set(probe.listener.batches)
        plan_capture.drain()  # isolate this query's captures
        try:
            df = plans.REGISTRY[name].fn(spark, sf_dir)
            plan = _plan_str(spark, df)
        except Exception as e:
            errs.append((name, str(e)[:120]))
            prev_live = True  # a failed fn() may still have gone live
            continue
        captures = plan_capture.drain()
        # LIVE detection is by behavior, not name prefix (r13 blind spot:
        # cep_* run streams too): the runners capture every started
        # query's executed plan synchronously, so stream captures — or
        # already-visible listener runs — mean this query went live.
        streaming = any(lbl.startswith("stream:") for lbl, _ in captures) or any(
            r not in prior_runs for r in probe.listener.batches
        )
        prev_live = streaming
        # full-lineage census: merge the final plan with every captured
        # pre-truncation plan (localCheckpoint bodies, scratch writes,
        # sink merges, executed micro-batch plans)
        pre: dict[str, int] = {}
        for _, cplan in captures:
            for k, v in audit_any(cplan).items():
                pre[k] = pre.get(k, 0) + v
        row_extra = {}
        if captures:
            row_extra = {
                "pre": pre,
                # a stream's label carries its per-run query name or id
                "capture_labels": sorted(
                    {re.sub(r"^stream:.*", "stream:*", lbl) for lbl, _ in captures}
                ),
            }
        if not streaming:
            out[name] = dict(audit(plan), **row_extra)
            continue
        # streaming: the query already ran to completion inside fn();
        # listener events are async — wait until a NON-EMPTY snapshot
        # attributable to THIS query goes stable (ADVICE r13 #2: two
        # equal empty/stale snapshots must not end the drain early)
        deadline, last = time.time() + 20, None
        while time.time() < deadline:
            cur = _snapshot(probe.listener)
            if cur == last and any(r not in prior_runs for r in cur):
                break
            last = cur
            time.sleep(1.0)
        runs = [r for r in probe.listener.batches if r not in prior_runs]
        if not runs:
            errs.append((name, "live query produced no progress events"))
        state_ops: dict[str, int] = {}
        state_partitions: set[int] = set()
        for r in runs:
            for op, c in probe.listener.ops.get(r, {}).items():
                state_ops[op] = state_ops.get(op, 0) + c
            state_partitions |= probe.listener.partitions.get(r, set())
        out[name] = dict(
            {
                "streaming_queries": len(runs),
                "micro_batches": sum(
                    len(probe.listener.batches[r]) for r in runs
                ),
                "state_ops": state_ops,
                "state_partitions": sorted(state_partitions),
                "post": audit(plan),
            },
            **row_extra,
        )


if __name__ == "__main__":
    main()
