#!/usr/bin/env python
"""Benchmark harness: times every catalog query at $SPARK_GRAFT_SF_DIR
(default: the generated sf0.1 data) with `tools/profile_layers.measure()`,
on the session `get_spark` builds (local[$SPARK_GRAFT_CPUS], default
32; stderr warns when that differs from the machine's CPU count).

The 20 HEADLINE queries run 5 times and the rest once, each after an
untimed warm-up run at sf0.001 (when that scale sits next to
$SPARK_GRAFT_SF_DIR). The whole artifact (every query's runs, median,
IQR and layers) is written to BENCH_FULL_local.json; the last stdout
line is the contract line, under 1,900 chars:

  {"metric": "headline_queries_total_sec", "value": <sum of headline
   medians>, "unit": "sec", "queries": {name: median, ...}, "sf": <sf>,
   "n_queries": ..., "catalog_total_sec": ..., "staleness": {...}}

A query that fails is kept in the artifact's `errors`; the bench then
exits non-zero naming it and prints no contract line.
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

from flink_tutorial_spark import plans  # noqa: E402
from tools.profile_layers import measure, resolve, session  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
#: each query's untimed warm-up reads the smallest generated scale next
#: to SF_DIR when there is one: a warm-up at SF_DIR would add a whole
#: untimed catalog pass to the wall
WARM_DIR = os.path.join(os.path.dirname(os.path.normpath(SF_DIR)), "sf0.001")

#: headline set: scan-agg, multi-join, windowed topn, sessionization,
#: interval join, CEP, dedup (exact + minhash), similarity, text,
#: plus one live Structured Streaming query.
HEADLINE = [
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier_volume",
    "hot_items_topn",
    "session_window_gap",
    "keyed_sum",
    "interval_join",
    "login_fail_detect",
    "pv_uv_daily",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "similarity_topk",
    "similarity_ann_lsh",
    "text_quality",
    "window_join_inner",
    "tx_match_full_outer",
    "rollup_revenue",
    "streaming_running_sum",
    "streaming_count_window",
]
HEADLINE_RUNS = 5
#: the bench's reader keeps only the tail of stdout and parses its last line
MAX_LINE = 1900
STALENESS_KEYS = ("as_of_round", "floor_gap_rounds", "max_gap_rounds", "median_gap_rounds")


def final_line(artifact: dict, staleness: dict) -> str:
    """The contract line for a `measure()` artifact. Raises ValueError
    naming every failed query: a failure must not leave a plausible
    `value`. The headline map is dropped if the line would overflow."""
    queries = artifact["queries"]
    failed = sorted(n for n, r in queries.items() if "error" in r)
    if failed:
        raise ValueError(f"{len(failed)} queries failed: {', '.join(failed)}")
    headline = {n: queries[n]["median"] for n in HEADLINE}
    summary = {
        "metric": "headline_queries_total_sec",
        "value": round(sum(headline.values()), 3),
        "unit": "sec",
        "queries": headline,
        "sf": float(artifact["sf"].rsplit("sf", 1)[-1]),
        "n_queries": len(queries),
        "catalog_total_sec": round(sum(r["median"] for r in queries.values()), 3),
        "staleness": {k: staleness.get(k) for k in STALENESS_KEYS},
    }
    line = json.dumps(summary, separators=(",", ":"))
    if len(line) > MAX_LINE:
        del summary["queries"]
        line = json.dumps(summary, separators=(",", ":"))
    return line


def main() -> None:
    resolve(HEADLINE)  # an unregistered headline name fails before the JVM starts
    rest = [n for n in plans.REGISTRY if n not in HEADLINE]
    spark = session("bench")
    warm_dir = WARM_DIR if os.path.isdir(WARM_DIR) else None
    artifact = measure(spark, SF_DIR, [(rest, 1), (HEADLINE, HEADLINE_RUNS)], warm_dir=warm_dir)
    spark.stop()
    with open(os.path.join(REPO, "BENCH_FULL_local.json"), "w") as f:
        json.dump(artifact, f, indent=1, sort_keys=True)
        f.write("\n")
    try:
        from tools.staleness_report import staleness_summary

        staleness = staleness_summary()
    except Exception as e:  # never fail the bench over the report
        print(f"bench: no staleness report: {e!r}", file=sys.stderr)
        staleness = {}
    try:
        line = final_line(artifact, staleness)
    except ValueError as e:
        sys.exit(f"bench: {e}; see `errors` in BENCH_FULL_local.json")
    print(line)


if __name__ == "__main__":
    main()
