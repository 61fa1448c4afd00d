"""Per-layer tracing from outside the engine.

The tracer times the benchmark's calls into each layer and reads what
Spark already records about them. It edits no engine code:

- `plans`: wall time inside the query's `fn()`, the jobs launched there
  and Catalyst's own phase timings (a QueryExecutionListener).
- `operators`: the noop write's wall time plus the job/stage status
  store (task time, CPU, GC, shuffle, spill, skew) and the SQL
  execution store (Python worker time and bytes), for every job tagged
  with the query's `plans` or `write` job group; cached blocks are read
  from the block manager before the query's caches are released.
- `streaming`: StreamingQueryProgress events from a
  StreamingQueryListener, attributed by runId; Spark tags each stream's
  jobs with its runId, so their SQL metrics split out too.
- `sinks`: the foreachBatch callables handed to `run_fanout` are
  wrapped to time them and tag their jobs with a `sinks` job group;
  written files and bytes come from the SQL execution store.

Status stores and listeners are fed asynchronously, so `finish()`
waits for each stream's terminated event and for the listener bus to
drain before it reads them.
"""

from __future__ import annotations

import json
import threading
import time
from collections import defaultdict

from pyspark.sql.streaming import StreamingQueryListener

from perfbench.clock import Stopwatch

#: local properties Spark uses for a job group
_GROUP_PROPS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")

_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40,
}
_MB = 2.0**20

#: SQL metric name -> (layer metric suffix, scale to the layer's unit)
_PYTHON_METRICS = {
    "time to run Python workers": ("python_s", 1.0),
    "time to start Python workers": ("python_start_s", 1.0),
    "time to initialize Python workers": ("python_start_s", 1.0),
    "data sent to Python workers": ("python_mb", 1 / _MB),
    "data returned from Python workers": ("python_mb", 1 / _MB),
}
_WRITE_METRICS = {
    "written output": ("written_mb", 1 / _MB),
    "number of written files": ("files_written", 1.0),
}

#: every per-layer metric a traced run reports, with its unit
LAYER_METRICS = {
    "session.start_s": "s",
    "session.warm_s": "s",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "plans.catalyst_s": "s",
    "operators.exec_s": "s",
    "operators.task_s": "s",
    "operators.cpu_s": "s",
    "operators.gc_s": "s",
    "operators.tasks": "count",
    "operators.stages": "count",
    "operators.shuffle_write_mb": "MB",
    "operators.shuffle_read_mb": "MB",
    "operators.spill_mb": "MB",
    "operators.task_skew": "ratio",
    "operators.python_s": "s",
    "operators.python_start_s": "s",
    "operators.python_mb": "MB",
    "operators.cache_mb": "MB",
    "streaming.batches": "count",
    "streaming.nodata_batches": "count",
    "streaming.trigger_s": "s",
    "streaming.add_batch_s": "s",
    "streaming.offsets_s": "s",
    "streaming.log_s": "s",
    "streaming.planning_s": "s",
    "streaming.nodata_s": "s",
    "streaming.lifecycle_s": "s",
    "streaming.state_commit_s": "s",
    "streaming.state_rows": "count",
    "streaming.state_mb": "MB",
    "streaming.watermark_dropped_rows": "count",
    "streaming.python_s": "s",
    "streaming.input_rows_per_s": "1/s",
    "sinks.add_batch_s": "s",
    "sinks.jobs": "count",
    "sinks.written_mb": "MB",
    "sinks.files_written": "count",
    "trace.pass_s": "s",
    "trace.untraced_pass_s": "s",
    "trace.overhead_share": "share",
}
#: the per-layer metrics a traced pass sums over its queries
PASS_METRICS = [k for k in LAYER_METRICS if not k.startswith(("session.", "trace."))]


def metric_total(text: str) -> float:
    """The total of a formatted SQL metric value: '1,976', '18.5 KiB',
    or 'total (min, med, max ...)\\n37 ms (15 ms, ...)'."""
    head = text.strip().split("\n")[-1].split(" (")[0].split()
    value = float(head[0].replace(",", ""))
    return value * _UNITS[head[1]] if len(head) > 1 else value


def combine(layers: list[dict[str, float]]) -> dict[str, float]:
    """Sum per-query layer numbers into one pass; the two ratios are
    recomputed from their parts rather than summed."""
    out: dict[str, float] = defaultdict(float)
    for q in layers:
        for k, v in q.items():
            out[k] += v
    skew_max, skew_med = out.pop("_skew_max", 0.0), out.pop("_skew_med", 0.0)
    out["operators.task_skew"] = skew_max / skew_med if skew_med else 0.0
    rows, trig = out.pop("_input_rows", 0.0), out["streaming.trigger_s"]
    out["streaming.input_rows_per_s"] = rows / trig if trig else 0.0
    return {k: out.get(k, 0.0) for k in PASS_METRICS}


class _StreamListener(StreamingQueryListener):
    def __init__(self, tracer: "Tracer"):
        self.tracer = tracer

    def onQueryStarted(self, event):
        self.tracer._stream_started(str(event.runId))

    def onQueryProgress(self, event):
        self.tracer._stream_progress(event.progress.json)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        self.tracer._stream_terminated(str(event.runId))


class _PlanningListener:
    """QueryExecutionListener (via py4j) summing Catalyst's analysis,
    optimization and planning phases of every batch action."""

    def __init__(self, tracer: "Tracer"):
        self.tracer = tracer

    def onSuccess(self, func_name, qe, duration_ns):
        phases = qe.tracker().phases()
        ms = 0
        for phase in ("analysis", "optimization", "planning"):
            summary = phases.get(phase)
            if summary.isDefined():
                ms += summary.get().durationMs()
        self.tracer._planning(ms / 1000)

    def onFailure(self, func_name, qe, exception):
        pass

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class Tracer:
    def __init__(self, spark):
        from pyspark.java_gateway import ensure_callback_server_started

        self.spark = spark
        self.sc = spark.sparkContext
        jvm = self.sc._jvm
        ensure_callback_server_started(self.sc._gateway)
        self._jsc = self.sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._json = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._json.registerModule(getattr(scala_module, "MODULE$"))
        self._quantiles = self.sc._gateway.new_array(jvm.double, 2)
        self._quantiles[0], self._quantiles[1] = 0.5, 1.0
        self._lock = threading.Lock()
        self._stream_listener = _StreamListener(self)
        self._planning_listener = _PlanningListener(self)
        self._qid = 0
        self._runs: dict[str, threading.Event] = {}
        self._progress: dict[str, list[dict]] = defaultdict(list)
        self._planning_s = 0.0
        self._sinks_s = 0.0
        self._orig_fanout = None

    # -- on/off per pass -------------------------------------------------
    def enable(self) -> None:
        import flink_tutorial_spark.streaming.run as srun

        self.spark.streams.addListener(self._stream_listener)
        self.spark._jsparkSession.listenerManager().register(self._planning_listener)
        self._orig_fanout = orig = srun.run_fanout

        def traced_fanout(out, sinks, *args, **kwargs):
            return orig(out, [self._wrap_sink(s) for s in sinks], *args, **kwargs)

        srun.run_fanout = traced_fanout

    def disable(self) -> None:
        import flink_tutorial_spark.streaming.run as srun

        srun.run_fanout = self._orig_fanout
        self.spark._jsparkSession.listenerManager().unregister(self._planning_listener)
        self.spark.streams.removeListener(self._stream_listener)

    # -- listener callbacks ----------------------------------------------
    def _stream_started(self, run_id: str) -> None:
        with self._lock:
            self._runs[run_id] = threading.Event()

    def _stream_progress(self, progress_json: str) -> None:
        p = json.loads(progress_json)
        with self._lock:
            self._progress[p["runId"]].append(p)

    def _stream_terminated(self, run_id: str) -> None:
        with self._lock:
            ev = self._runs.get(run_id)
        if ev is not None:
            ev.set()

    def _planning(self, seconds: float) -> None:
        with self._lock:
            self._planning_s += seconds

    def _wrap_sink(self, sink):
        def traced_sink(batch_df, epoch_id):
            saved = {k: self.sc.getLocalProperty(k) for k in _GROUP_PROPS}
            self.sc.setJobGroup(self._group("sinks"), "perfbench sinks")
            t0 = time.perf_counter()
            try:
                sink(batch_df, epoch_id)
            finally:
                dt = time.perf_counter() - t0
                for k, v in saved.items():
                    self.sc.setLocalProperty(k, v)
                with self._lock:
                    self._sinks_s += dt

        return traced_sink

    def _group(self, layer: str) -> str:
        return f"perfbench-{self._qid}-{layer}"

    # -- one query ---------------------------------------------------------
    def run(self, fn, sf_dir: str) -> tuple[float, dict[str, float]]:
        """Run one query traced; returns (seconds net of steal, layer
        numbers)."""
        self._qid += 1
        with self._lock:
            self._runs.clear()
            self._progress.clear()
            self._planning_s = self._sinks_s = 0.0
        self.sc.setJobGroup(self._group("plans"), "perfbench plans")
        watch = Stopwatch()
        t0 = time.perf_counter()
        df = fn(self.spark, sf_dir)
        t1 = time.perf_counter()
        self.sc.setJobGroup(self._group("write"), "perfbench write")
        df.write.format("noop").mode("overwrite").save()
        t2 = time.perf_counter()
        wall = watch.elapsed()
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        return wall, self._finish(t1 - t0, t2 - t1)

    def _finish(self, build_s: float, exec_s: float) -> dict[str, float]:
        with self._lock:
            runs = dict(self._runs)
        for ev in runs.values():
            ev.wait(30)
        self._jsc.listenerBus().waitUntilEmpty()
        with self._lock:
            progress = {r: list(self._progress.get(r, ())) for r in runs}
            out: dict[str, float] = defaultdict(float)
            out["plans.catalyst_s"] = self._planning_s
            out["sinks.add_batch_s"] = self._sinks_s
        out["plans.build_s"] = build_s
        out["operators.exec_s"] = exec_s
        out["operators.cache_mb"] = sum(
            (r.memSize() + r.diskSize()) for r in self._jsc.getRDDStorageInfo()
        ) / _MB

        layer_of = {self._group(k): k for k in ("plans", "write", "sinks")}
        layer_of.update({r: "streaming" for r in runs})
        tracker = self.sc.statusTracker()
        executions: dict[int, str] = {}
        for group, layer in layer_of.items():
            for job_id in tracker.getJobIdsForGroup(group):
                if layer == "plans":
                    out["plans.build_jobs"] += 1
                elif layer == "sinks":
                    out["sinks.jobs"] += 1
                sql = self._store.jobWithAssociatedSql(job_id)._2()
                if sql.isDefined():
                    executions[sql.get()] = layer
                if layer in ("plans", "write"):
                    info = tracker.getJobInfo(job_id)
                    for stage_id in info.stageIds if info else ():
                        self._add_stage(stage_id, out)
        for exec_id, layer in executions.items():
            self._add_execution(exec_id, layer, out)
        self._add_progress(progress, build_s, out)
        return dict(out)

    def _add_stage(self, stage_id: int, out: dict[str, float]) -> None:
        try:
            attempts = json.loads(self._json.writeValueAsString(
                self._store.stageData(stage_id, False, None, True, self._quantiles)
            ))
        except Exception:  # evicted from the store, or never submitted
            return
        for s in attempts:
            if s["status"] == "SKIPPED":
                continue
            out["operators.stages"] += 1
            out["operators.tasks"] += s["numCompleteTasks"]
            out["operators.task_s"] += s["executorRunTime"] / 1e3
            out["operators.cpu_s"] += s["executorCpuTime"] / 1e9
            out["operators.gc_s"] += s["jvmGcTime"] / 1e3
            out["operators.shuffle_write_mb"] += s["shuffleWriteBytes"] / _MB
            out["operators.shuffle_read_mb"] += s["shuffleReadBytes"] / _MB
            out["operators.spill_mb"] += s["diskBytesSpilled"] / _MB
            dist = s.get("taskMetricsDistributions")
            if dist and s["numCompleteTasks"] > 1:
                med, top = dist["executorRunTime"]
                out["_skew_med"] += med
                out["_skew_max"] += top

    def _add_execution(self, exec_id: int, layer: str, out: dict[str, float]) -> None:
        ui = json.loads(self._json.writeValueAsString(self._sql.execution(exec_id)))
        if not ui:
            return
        names = {str(m["accumulatorId"]): m["name"] for m in ui["metrics"]}
        for acc, text in (ui.get("metricValues") or {}).items():
            name = names.get(str(acc))
            if name in _PYTHON_METRICS:
                suffix, scale = _PYTHON_METRICS[name]
                prefix = "streaming" if layer == "streaming" else "operators"
                if prefix == "streaming" and suffix != "python_s":
                    continue
                out[f"{prefix}.{suffix}"] += metric_total(text) * scale
            elif name in _WRITE_METRICS and layer in ("streaming", "sinks"):
                suffix, scale = _WRITE_METRICS[name]
                out[f"sinks.{suffix}"] += metric_total(text) * scale

    @staticmethod
    def _add_progress(progress: dict[str, list[dict]], build_s: float, out: dict[str, float]) -> None:
        trigger_total = 0.0
        for events in progress.values():
            for p in events:
                d = p.get("durationMs", {})
                trig = d.get("triggerExecution", 0) / 1e3
                trigger_total += trig
                out["streaming.batches"] += 1
                out["streaming.trigger_s"] += trig
                out["streaming.add_batch_s"] += d.get("addBatch", 0) / 1e3
                out["streaming.offsets_s"] += (d.get("latestOffset", 0) + d.get("getBatch", 0)) / 1e3
                out["streaming.log_s"] += (d.get("walCommit", 0) + d.get("commitOffsets", 0)) / 1e3
                out["streaming.planning_s"] += d.get("queryPlanning", 0) / 1e3
                out["_input_rows"] += p.get("numInputRows", 0)
                if p.get("numInputRows", 0) == 0:
                    out["streaming.nodata_batches"] += 1
                    out["streaming.nodata_s"] += trig
                for op in p.get("stateOperators", ()):
                    out["streaming.state_commit_s"] += op.get("commitTimeMs", 0) / 1e3
                    out["streaming.watermark_dropped_rows"] += op.get("numRowsDroppedByWatermark", 0)
            if events:
                last = events[-1].get("stateOperators", ())
                out["streaming.state_rows"] += sum(op.get("numRowsTotal", 0) for op in last)
                out["streaming.state_mb"] += max(
                    sum(op.get("memoryUsedBytes", 0) for op in p.get("stateOperators", ()))
                    for p in events
                ) / _MB
        if progress:
            out["streaming.lifecycle_s"] += max(0.0, build_s - trigger_total)
