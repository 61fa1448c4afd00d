"""tools/profile_layers.py: per-query run times, spread and layer
numbers from perfbench's tracer, on one batch and one streaming query."""

from __future__ import annotations

import dataclasses

import pytest

import bench
from flink_tutorial_spark import plans
from perfbench.trace import PASS_METRICS
from tools.profile_layers import core_mismatch, measure, profile

BATCH, STREAM = "tpch_q6_forecast_revenue", "streaming_running_sum"


def test_profile_reports_runs_spread_and_every_layer(spark, sf_dir):
    listeners = spark._jsparkSession.listenerManager().listListeners
    before = len(listeners())
    views = {t.name for t in spark.catalog.listTables() if t.isTemporary}
    out = profile(spark, [BATCH, STREAM], sf_dir, runs=2)
    # the tracer's Catalyst listener outlives `disable`: one per call at
    # most, never one per query
    assert len(listeners()) - before <= 1
    # the stream's memory-sink views are released
    assert {t.name for t in spark.catalog.listTables() if t.isTemporary} <= views
    assert sorted(out) == [STREAM, BATCH]
    for name, rec in out.items():
        assert "error" not in rec, (name, rec)
        assert len(rec["runs"]) == 2
        assert min(rec["runs"]) <= rec["median"] <= max(rec["runs"])
        assert rec["iqr"] >= 0
        assert list(rec["layers"]) == PASS_METRICS
    assert out[STREAM]["layers"]["streaming.batches"] >= 1
    assert out[BATCH]["layers"]["streaming.batches"] == 0


def test_unmatched_pattern_raises_before_any_spark_call(sf_dir):
    # no session at all: any Spark call before the check would raise
    # AttributeError, not the ValueError naming the pattern
    with pytest.raises(ValueError, match=r"'no_such_query_\*'"):
        profile(None, [BATCH, "no_such_query_*"], sf_dir, runs=1)


def test_core_mismatch_warns_only_on_a_differing_local_count():
    assert "local[32]" in core_mismatch("local[32]", 4)
    assert core_mismatch("local[4]", 4) is None
    assert core_mismatch("local[*]", 4) is None
    assert core_mismatch("local[4]", None) is None


def test_measure_keeps_a_failed_query_and_the_bench_refuses_it(spark, sf_dir, monkeypatch):
    def broken(spark, sf_dir):
        raise RuntimeError("planted failure")

    monkeypatch.setitem(plans.REGISTRY, STREAM, dataclasses.replace(plans.REGISTRY[STREAM], fn=broken))
    art = measure(spark, sf_dir, [([BATCH], 2), ([STREAM], 1)])
    assert art["runs"] == {"2": 1}
    assert art["errors"] == {STREAM: "RuntimeError: planted failure"}
    assert len(art["queries"][BATCH]["runs"]) == 2
    with pytest.raises(ValueError, match=STREAM):
        bench.final_line(art, {})
