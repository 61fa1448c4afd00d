#!/usr/bin/env python
"""Print a catalog query's .explain("formatted") plan (the round-19 and
round-20 before/after dumps it wrote are in git: `git show
82690a6:plans/r20/<query>_after.txt`).

Batch queries print the pre-execution formatted plan. Queries that
materialize mid-flight (memory-sink streaming runs, localCheckpoint,
scratch writes) additionally print every pre-truncation plan recorded
by flink_tutorial_spark.plan_capture, so the real work is visible, not
just a memory-scan stub.

Usage: python tools/explain_query.py query [query ...]  [> out.txt]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

from flink_tutorial_spark import plan_capture, plans  # noqa: E402
from flink_tutorial_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    names = sys.argv[1:]
    if not names:
        print("usage: explain_query.py query [query ...]", file=sys.stderr)
        sys.exit(2)
    spark = get_spark("explain_query", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    for name in names:
        plan_capture.enable()
        df = plans.REGISTRY[name].fn(spark, SF_DIR)
        print(f"==== {name} @ {SF_DIR} ====")
        print(
            df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
            )
        )
        for label, plan in plan_capture.disable():
            print(f"---- captured boundary: {label} ----")
            print(plan)


if __name__ == "__main__":
    main()
