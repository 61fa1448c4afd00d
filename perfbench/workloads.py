"""The benchmark's workloads: catalog queries run closed-loop, one at a
time, each pass running every query once in a seed-permuted order. Why
each workload exists is stated in BENCHMARK.json."""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    sf: float
    queries: tuple[str, ...]


WORKLOADS = {
    "batch": Workload(
        sf=0.01,
        queries=(
            # TPC-H: JVM scans, joins and aggregates, no Python worker
            "tpch_q1_pricing_summary",
            "tpch_q3_shipping_priority",
            "tpch_q6_forecast_revenue",
            "tpch_q18_large_volume_customer",
            # data pipeline: materialize cache, Arrow/pandas boundary,
            # explode-heavy shuffles
            "dedup_minhash_lsh",
            "similarity_topk",
            "similarity_ann_lsh",
            "text_bm25_topk",
        ),
    ),
    "stream": Workload(
        sf=0.01,
        queries=(
            # memory sink: a stateless stream (micro-batch fixed cost),
            # dedup state under a watermark, applyInPandasWithState
            "streaming_quality_gate",
            "streaming_dedup_within_watermark",
            "streaming_ema",
            # foreachBatch fan-out into a MergeAggSink
            "streaming_dedup_registry_onepass",
        ),
    ),
}
