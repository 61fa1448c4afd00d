"""Unit tests for the tracer's parsing and aggregation, and for the
agreement between BENCHMARK.json and the benchmark code (no Spark)."""

from __future__ import annotations

import json
import os
from collections import defaultdict

import pytest

from perfbench import trace
from perfbench.workloads import WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.parametrize(
    "text, value",
    [
        ("1,976", 1976.0),
        ("0.0 B", 0.0),
        ("18.5 KiB", 18.5 * 1024),
        ("821 ms", 0.821),
        ("1.3 s", 1.3),
        ("2.5 m", 150.0),
        ("total (min, med, max (stageId: taskId))\n37 ms (15 ms, 22 ms, 22 ms (stage 45.0: task 120))", 0.037),
        ("total (min, med, max (stageId: taskId))\n1.2 MiB (0.1 MiB, 0.3 MiB, 0.5 MiB (stage 3.0: task 9))", 1.2 * 2**20),
    ],
)
def test_metric_total(text, value):
    assert trace.metric_total(text) == pytest.approx(value)


def test_combine_sums_queries_and_recomputes_ratios():
    q1 = {"operators.task_s": 1.0, "_skew_max": 3.0, "_skew_med": 1.0,
          "streaming.trigger_s": 2.0, "_input_rows": 100.0}
    q2 = {"operators.task_s": 0.5, "_skew_max": 1.0, "_skew_med": 1.0,
          "streaming.trigger_s": 3.0, "_input_rows": 400.0}
    out = trace.combine([q1, q2])
    assert set(out) == set(trace.PASS_METRICS)
    assert out["operators.task_s"] == 1.5
    assert out["operators.task_skew"] == 2.0
    assert out["streaming.input_rows_per_s"] == 100.0
    assert out["sinks.jobs"] == 0.0


def test_combine_of_idle_layers_reads_zero():
    out = trace.combine([{"plans.build_s": 0.4}])
    assert out["operators.task_skew"] == 0.0
    assert out["streaming.input_rows_per_s"] == 0.0


def test_progress_phases_and_lifecycle():
    out: dict[str, float] = defaultdict(float)
    data = {"durationMs": {"triggerExecution": 800, "addBatch": 500, "latestOffset": 20,
                           "getBatch": 10, "walCommit": 30, "commitOffsets": 40,
                           "queryPlanning": 60},
            "numInputRows": 1000,
            "stateOperators": [{"numRowsTotal": 7, "memoryUsedBytes": 2**20,
                                "commitTimeMs": 100, "numRowsDroppedByWatermark": 3}]}
    nodata = {"durationMs": {"triggerExecution": 200}, "numInputRows": 0,
              "stateOperators": [{"numRowsTotal": 5, "memoryUsedBytes": 2**19,
                                  "commitTimeMs": 50, "numRowsDroppedByWatermark": 0}]}
    trace.Tracer._add_progress({"run": [data, nodata]}, 1.5, out)
    assert out["streaming.batches"] == 2
    assert out["streaming.nodata_batches"] == 1
    assert out["streaming.trigger_s"] == pytest.approx(1.0)
    assert out["streaming.nodata_s"] == pytest.approx(0.2)
    assert out["streaming.offsets_s"] == pytest.approx(0.03)
    assert out["streaming.log_s"] == pytest.approx(0.07)
    assert out["streaming.state_commit_s"] == pytest.approx(0.15)
    assert out["streaming.state_rows"] == 5
    assert out["streaming.state_mb"] == pytest.approx(1.0)
    assert out["streaming.watermark_dropped_rows"] == 3
    assert out["streaming.lifecycle_s"] == pytest.approx(0.5)


def test_benchmark_json_matches_the_code():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)
    assert [m["name"] for m in bench["per_layer"]] == list(trace.LAYER_METRICS)
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == trace.LAYER_METRICS
    names = {m["name"] for m in bench["end_to_end"]}
    assert names == {"pass_s", "query_p50_s", "query_tail_s", "setup_s", "peak_rss_mb"}
    setup = next(m for m in bench["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in bench["end_to_end"])
