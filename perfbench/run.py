#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload batch --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. It pins the machine profile (4 local
task threads, a 1 GB driver heap, temp and Spark local dirs inside the
checkout, PYTHONPATH for the pandas-UDF workers), runs one workload in
a child process (perfbench/runner.py) that hosts the Spark session,
stops every process that child started, and prints two lines: a
`perfbench-detail` JSON line (pass times, drift, tail percentile and
sample count, failed share, machine profile) and, last, the result:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones.
It exits non-zero without a result if the engine is missing, the run
fails or it overruns its time limit.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, REPO)

from perfbench.workloads import WORKLOADS  # noqa: E402

#: the run's hard limit, inside the 180 s a run may take
TIMEOUT_S = 165
#: files of the engine the benchmark drives; without them it cannot run
REQUIRED = (
    "flink_tutorial_spark/__init__.py",
    "flink_tutorial_spark/plans/__init__.py",
    "tools/gen_sf.py",
    "tests/oracle_utils.py",
)


def stop_group(child: subprocess.Popen) -> None:
    """Terminate every process of the child's session and wait until
    none is left."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(child.pid, sig)
        except ProcessLookupError:
            return
        deadline = time.monotonic() + 10
        while time.monotonic() < deadline:
            child.poll()  # reap the child itself, or it keeps the group alive
            try:
                os.killpg(child.pid, 0)
            except ProcessLookupError:
                return
            time.sleep(0.1)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; have {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    missing = [p for p in REQUIRED if not os.path.isfile(os.path.join(REPO, p))]
    if missing:
        print(f"engine sources missing: {missing}", file=sys.stderr)
        return 2

    work = os.path.join(REPO, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp, local = os.path.join(work, "tmp"), os.path.join(work, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    out = os.path.join(work, "result.json")
    env = dict(os.environ)
    env.update(
        SPARK_GRAFT_CPUS="4",
        SPARK_GRAFT_DRIVER_MEM="1g",
        PYTHONPATH=os.pathsep.join(filter(None, [REPO, env.get("PYTHONPATH")])),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=local,
        PYSPARK_SUBMIT_ARGS=" ".join([
            "--driver-java-options", shlex.quote(f"-Djava.io.tmpdir={tmp}"),
            "--conf", "spark.ui.showConsoleProgress=false",
            "--conf", shlex.quote(f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}"),
            "pyspark-shell",
        ]),
    )
    cmd = [
        sys.executable, os.path.join(HERE, "runner.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", work, "--out", out,
    ]
    child = subprocess.Popen(
        cmd, cwd=work, env=env, stdin=subprocess.DEVNULL,
        stdout=sys.stderr, stderr=sys.stderr, start_new_session=True,
    )
    # a SIGTERM to this process still stops the child's processes
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    rc, result = None, None
    try:
        rc = child.wait(timeout=TIMEOUT_S)
        with open(out) as f:
            result = json.load(f)
    except subprocess.TimeoutExpired:
        print(f"run exceeded {TIMEOUT_S} s", file=sys.stderr)
    except (OSError, ValueError):
        pass
    finally:
        stop_group(child)
        child.wait()
        shutil.rmtree(work, ignore_errors=True)
    if rc != 0 or result is None:
        print(f"benchmark run failed (exit {rc})", file=sys.stderr)
        return 1
    detail = result.pop("detail")
    print("perfbench-detail " + json.dumps(detail, sort_keys=True))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
