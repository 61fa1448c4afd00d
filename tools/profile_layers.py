#!/usr/bin/env python
"""Per-layer profile of catalog queries, traced from outside the engine.

    python tools/profile_layers.py --sf DIR [--runs N] [--out FILE]
                                   [--conf KEY=VALUE ...] name-or-glob ...

Names are catalog names or `fnmatch` globs over `plans.REGISTRY`. Each
query runs once untimed, then N times under perfbench's tracer, each
run followed by the release step of perfbench's runner. Its record
holds the run times (wall net of steal), their median and IQR, and the
per-key median of the runs' layer numbers, keyed exactly by
`perfbench.trace.PASS_METRICS`; a query that raises is recorded with
its error. `--conf` sets a Spark SQL conf before the first query; the
session runs on `local[$SPARK_GRAFT_CPUS]` (default 32), and a stderr
warning names the gap when that differs from the machine's CPU count.
Run it alone on the machine for timings: other load on the cores moves
them. It deletes nothing outside its own queries' scratch: Spark
removes a stream's temporary checkpoint when the stream stops cleanly
(a stream that fails keeps its `temporary-*` dir under the JVM's
`java.io.tmpdir`).
"""

from __future__ import annotations

import argparse
import fnmatch
import json
import os
import re
import statistics
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from perfbench.clock import Stopwatch  # noqa: E402
from perfbench.trace import PASS_METRICS, Tracer, combine  # noqa: E402

from flink_tutorial_spark import plans  # noqa: E402
from flink_tutorial_spark.operators.dedup import purge_scratch  # noqa: E402


def resolve(patterns: list[str]) -> list[str]:
    """The catalog names the names and globs match, in pattern order;
    a pattern that matches nothing raises ValueError naming it."""
    names: list[str] = []
    for pat in patterns:
        hits = sorted(fnmatch.filter(plans.REGISTRY, pat))
        if not hits:
            raise ValueError(f"no registered query matches {pat!r}")
        names += [n for n in hits if n not in names]
    return names


def release(spark) -> None:
    """Drop what a query leaves behind: materialize caches and scratch
    dirs and memory-sink temp views; then drain the listener bus, so no
    late event reaches the next run."""
    purge_scratch()
    for t in spark.catalog.listTables():
        if t.isTemporary and t.name.startswith("mem_"):
            spark.catalog.dropTempView(t.name)
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def summarize(times: list[float], layers: list[dict[str, float]]) -> dict:
    q1, _, q3 = statistics.quantiles(times, n=4, method="inclusive") if len(times) > 1 else times * 3
    per_run = [combine([lay]) for lay in layers]
    return {
        "runs": [round(t, 4) for t in times],
        "median": round(statistics.median(times), 4),
        "iqr": round(q3 - q1, 4),
        "layers": {k: round(statistics.median(r[k] for r in per_run), 6) for k in PASS_METRICS},
    }


def profile(spark, names: list[str], sf_dir: str, runs: int) -> dict:
    """{query: record} for the queries `names` matches."""
    names, out, tracer = resolve(names), {}, Tracer(spark)
    for name in names:
        fn, times, layers = plans.REGISTRY[name].fn, [], []
        try:
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            release(spark)
            tracer.enable()
            try:
                for _ in range(runs):
                    dt, lay = tracer.run(fn, sf_dir)
                    release(spark)
                    times.append(dt)
                    layers.append(lay)
            finally:
                tracer.disable()
            out[name] = summarize(times, layers)
        except Exception as e:  # recorded, not dropped
            release(spark)
            out[name] = {"error": f"{type(e).__name__}: {e}"[:500]}
        print(name, out[name].get("median", "error"), file=sys.stderr, flush=True)
    return out


def core_mismatch(master: str, cpus: int | None) -> str | None:
    """A warning when a `local[N]` master's N differs from the
    machine's CPU count (timings on oversubscribed or idle cores do not
    compare across hosts); None otherwise."""
    m = re.fullmatch(r"local\[(\d+)\]", master)
    if m is None or cpus is None or int(m.group(1)) == cpus:
        return None
    return (
        f"warning: session runs on {master} but this machine has {cpus} CPUs; "
        "set SPARK_GRAFT_CPUS to match"
    )


def conf_pair(text: str) -> tuple[str, str]:
    key, sep, value = text.partition("=")
    if not (key and sep):
        raise argparse.ArgumentTypeError(f"want KEY=VALUE, got {text!r}")
    return key, value


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("names", nargs="+")
    ap.add_argument("--sf", required=True)
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--out")
    ap.add_argument("--conf", action="append", default=[], type=conf_pair)
    args = ap.parse_args()
    resolve(args.names)  # a bad pattern fails before the JVM starts
    from flink_tutorial_spark.session import get_spark

    spark = get_spark("profile")
    warning = core_mismatch(spark.sparkContext.master, os.cpu_count())
    if warning:
        print(warning, file=sys.stderr, flush=True)
    confs = dict(args.conf)
    for k, v in confs.items():
        spark.conf.set(k, v)
    watch, t0 = Stopwatch(), time.perf_counter()
    queries = profile(spark, args.names, args.sf, args.runs)
    result = {
        "sf": os.path.basename(os.path.normpath(args.sf)),
        "master": spark.sparkContext.master,
        "runs": args.runs,
        "conf": confs,
        "commit": subprocess.run(["git", "describe", "--always", "--dirty"], cwd=REPO,
                                 capture_output=True, text=True).stdout.strip(),
        "wall_s": round(time.perf_counter() - t0, 1),
        "steal_share": round(watch.steal_share(), 4),
        "errors": {n: r["error"] for n, r in queries.items() if "error" in r},
        "queries": queries,
    }
    spark.stop()
    text = json.dumps(result, indent=1, sort_keys=True) + "\n"
    if args.out:
        with open(args.out, "w") as f:
            f.write(text)
    else:
        sys.stdout.write(text)


if __name__ == "__main__":
    main()
