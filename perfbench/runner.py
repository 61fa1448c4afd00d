"""One benchmark run in one process hosting the Spark session (started
by run.py).

Sequence: generate the seed's data; start the engine session and warm
it with one pass whose results are checked against their DuckDB
oracles (set-up); then timed passes, each running every query of the
workload once, closed-loop, in a seed-permuted order, until the run's
time is used and enough samples are pooled for the tail. Between
queries, outside every timed region, the run releases what the query
left behind: materialize caches and scratch dirs, memory-sink temp
views and temporary stream checkpoints.

With --trace 1, timed passes run untraced and traced in ABBA order;
only the per-layer numbers are reported, with the traced and untraced
pass times that show the tracing overhead.

The result is written as JSON to --out.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import platform
import random
import shutil
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench import datagen, stats  # noqa: E402
from perfbench.clock import Stopwatch  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

CPUS = 4
#: hard stop for the timed passes, far inside the run's time limit
MAX_TIMED_S = 110


class RssSampler(threading.Thread):
    """Summed RSS of this process and all its descendants (the driver
    JVM and the Python workers), sampled from /proc; `take()` returns
    the peak since its last call."""

    def __init__(self, interval: float = 0.25):
        super().__init__(daemon=True)
        self.interval = interval
        self._peak_mb = 0.0
        self._lock = threading.Lock()
        self._halt = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _tree_rss_mb(self) -> float:
        children: dict[int, list[int]] = {}
        for stat in glob.glob("/proc/[0-9]*/stat"):
            try:
                with open(stat) as f:
                    fields = f.read().rsplit(")", 1)[1].split()
                children.setdefault(int(fields[1]), []).append(int(stat.split("/")[2]))
            except (OSError, IndexError, ValueError):
                continue
        pages, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            todo.extend(children.get(pid, ()))
            try:
                with open(f"/proc/{pid}/statm") as f:
                    pages += int(f.read().split()[1])
            except (OSError, IndexError, ValueError):
                continue
        return pages * self._page / 2**20

    def run(self) -> None:
        while not self._halt.is_set():
            rss = self._tree_rss_mb()
            with self._lock:
                self._peak_mb = max(self._peak_mb, rss)
            self._halt.wait(self.interval)

    def take(self) -> float:
        with self._lock:
            peak, self._peak_mb = self._peak_mb, 0.0
        return peak

    def stop(self) -> None:
        self._halt.set()
        self.join()


def machine_profile(spark) -> dict:
    import pyspark

    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    return {
        "nproc": os.cpu_count(),
        "mem_gb": round(mem_kb / 2**20, 1),
        "spark": pyspark.__version__,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
        "local_cpus": CPUS,
        "driver_mem": os.environ.get("SPARK_GRAFT_DRIVER_MEM"),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    repo = os.path.dirname(HERE)
    sys.path.insert(0, os.path.join(repo, "tests"))
    wl = WORKLOADS[args.workload]
    rng = random.Random(args.seed)
    data = os.path.join(args.work, "data")
    tmp = os.environ["TMPDIR"]

    clock = {"begin": time.perf_counter()}
    datagen.generate(wl.sf, args.seed, data)
    clock["data"] = time.perf_counter()

    import oracle_utils
    from pyspark import SparkContext

    from flink_tutorial_spark import plans
    from flink_tutorial_spark.operators.dedup import purge_scratch
    from flink_tutorial_spark.session import get_spark

    def release(spark) -> None:
        purge_scratch()
        for t in spark.catalog.listTables():
            if t.isTemporary and t.name.startswith("mem_"):
                spark.catalog.dropTempView(t.name)
        for d in glob.glob(os.path.join(tmp, "temporary-*")):
            shutil.rmtree(d, ignore_errors=True)

    attempted = failed = 0
    errors: dict[str, str] = {}

    # -- set-up: session start, then the checked warm-up pass ------------
    clock["import"] = time.perf_counter()
    watch = Stopwatch()
    spark = get_spark("perfbench", cpus=CPUS)
    start_s = watch.elapsed()
    warm: dict[str, float] = {}
    con = oracle_utils.duckdb_connect(data)
    for name in rng.sample(wl.queries, len(wl.queries)):
        spec = plans.REGISTRY[name]
        attempted += 1
        watch = Stopwatch()
        try:
            got = spec.fn(spark, data).toPandas()
        except Exception as e:  # counted, reported, and fails the run
            got, problems = None, [f"raised {type(e).__name__}: {e}"]
        warm[name] = watch.elapsed()
        if got is not None:
            problems = oracle_utils.compare_frames(got, con.execute(spec.oracle).fetchdf())
        if problems:
            failed += 1
            errors[name] = problems[0][:300]
        release(spark)
    con.close()
    warm_s = sum(warm.values())

    # -- timed passes ------------------------------------------------------
    tracer = None
    if args.trace:
        from perfbench.trace import Tracer, combine

        tracer = Tracer(spark)
    sampler = RssSampler()
    sampler.start()
    passes: list[dict[str, float]] = []
    pass_rss: list[float] = []
    traced: list[tuple[float, dict[str, float]]] = []
    steal: list[float] = []
    t_start = clock["setup"] = time.perf_counter()
    while True:
        pass_watch = Stopwatch()
        # untraced and traced passes in ABBA order, so that the passes
        # still speeding up as the JIT warms do not bias the overhead
        trace_this = tracer is not None and (len(passes) + len(traced)) % 4 in (1, 2)
        if trace_this:
            tracer.enable()
        times: dict[str, float] = {}
        layers: list[dict[str, float]] = []
        for name in rng.sample(wl.queries, len(wl.queries)):
            fn = plans.REGISTRY[name].fn
            attempted += 1
            try:
                if trace_this:
                    dt, q_layers = tracer.run(fn, data)
                    layers.append(q_layers)
                else:
                    watch = Stopwatch()
                    fn(spark, data).write.format("noop").mode("overwrite").save()
                    dt = watch.elapsed()
                times[name] = dt
            except Exception as e:
                failed += 1
                errors[name] = f"raised {type(e).__name__}: {e}"[:300]
            release(spark)
        if trace_this:
            tracer.disable()
            traced.append((sum(times.values()), combine(layers)))
        else:
            passes.append(times)
            pass_rss.append(sampler.take())
            steal.append(pass_watch.steal_share())
        elapsed = time.perf_counter() - t_start
        if tracer is not None:
            done = elapsed >= args.seconds and len(passes) == len(traced) >= 2
        else:
            done = elapsed >= args.seconds and len(stats.pool(passes)) >= stats.MIN_SAMPLES
        if done or elapsed >= MAX_TIMED_S:
            break
    sampler.stop()
    clock["timed"] = time.perf_counter()
    profile = machine_profile(spark)
    spark.stop()
    # end the driver JVM before this process exits, so its shutdown
    # hooks run while the work dir is still there
    gateway = SparkContext._gateway
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(60)
    clock["stop"] = time.perf_counter()

    pass_times = [sum(p.values()) for p in passes]
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "sf": wl.sf,
        "warmup": {k: round(v, 3) for k, v in warm.items()},
        "passes": [round(t, 4) for t in pass_times],
        "query_passes": {
            n: [round(p[n], 3) for p in passes if n in p] for n in wl.queries
        },
        "pass_peak_rss_mb": [round(r) for r in pass_rss],
        "pass_steal_share": [round(x, 4) for x in steal],
        "drift_per_pass": round(stats.drift(pass_times), 4),
        "failed_share": failed / attempted,
        "errors": errors,
        "machine": profile,
        "phases_s": {k: round(clock[k] - clock[p], 2) for p, k in zip(clock, list(clock)[1:])},
    }
    if tracer is None:
        samples = stats.pool(passes)
        p50 = statistics.median(samples)
        tail, pct, beyond = stats.tail(samples)
        if tail < p50:
            raise SystemExit(f"query_tail_s {tail} < query_p50_s {p50}")
        detail.update(samples=len(samples), tail_percentile=pct, tail_beyond=beyond)
        metrics = {
            "pass_s": (statistics.median(pass_times), "s"),
            "query_p50_s": (p50, "s"),
            "query_tail_s": (tail, "s"),
            "setup_s": (start_s + warm_s, "s"),
            "peak_rss_mb": (statistics.median(pass_rss), "MB"),
        }
    else:
        from perfbench.trace import LAYER_METRICS

        traced_pass = statistics.median(t for t, _ in traced)
        untraced_pass = statistics.median(pass_times)
        values = {k: statistics.mean(layer[k] for _, layer in traced) for k in traced[0][1]}
        values.update({
            "session.start_s": start_s,
            "session.warm_s": warm_s,
            "trace.pass_s": traced_pass,
            "trace.untraced_pass_s": untraced_pass,
            "trace.overhead_share": traced_pass / untraced_pass - 1,
        })
        metrics = {k: (values[k], unit) for k, unit in LAYER_METRICS.items()}
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        "detail": detail,
    }
    with open(args.out, "w") as f:
        json.dump(result, f)


if __name__ == "__main__":
    main()
