"""bench.py's contract line, built from fake profile records: no Spark."""

from __future__ import annotations

import json

import pytest

import bench


def artifact(names: list[str], error: str | None = None) -> dict:
    queries = {n: {"runs": [1.0 + i / 100], "median": 1.0 + i / 100, "iqr": 0.0, "layers": {}}
               for i, n in enumerate(names)}
    if error:
        queries[error] = {"error": "RuntimeError: boom"}
    return {"sf": "sf0.1", "queries": queries}


CATALOG = bench.HEADLINE + [f"catalog_query_{i:03d}" for i in range(184)]
STALENESS = {"as_of_round": 20, "floor_gap_rounds": 5, "max_gap_rounds": 5,
             "median_gap_rounds": 3, "stalest": {"x": 5}}


def test_line_carries_the_contract_keys_and_the_headline_median_sum():
    art = artifact(CATALOG)
    line = bench.final_line(art, STALENESS)
    out = json.loads(line)
    assert len(line) <= bench.MAX_LINE
    assert set(out) == {"metric", "value", "unit", "queries", "sf", "n_queries",
                        "catalog_total_sec", "staleness"}
    medians = {n: art["queries"][n]["median"] for n in bench.HEADLINE}
    assert out["queries"] == medians
    assert out["value"] == round(sum(medians.values()), 3)
    assert out["metric"] == "headline_queries_total_sec"
    assert (out["sf"], out["n_queries"]) == (0.1, 204)
    assert out["catalog_total_sec"] == round(sum(r["median"] for r in art["queries"].values()), 3)
    assert out["staleness"] == {k: STALENESS[k] for k in bench.STALENESS_KEYS}


def test_headline_map_is_dropped_rather_than_overflow(monkeypatch):
    long_names = [f"a_rather_long_catalog_query_name_{i:03d}" for i in range(204)]
    monkeypatch.setattr(bench, "HEADLINE", long_names)
    line = bench.final_line(artifact(long_names), STALENESS)
    out = json.loads(line)
    assert len(line) <= bench.MAX_LINE
    assert "queries" not in out
    assert out["value"] == round(sum(1.0 + i / 100 for i in range(204)), 3)


@pytest.mark.parametrize("failed", ["dedup_minhash_lsh", "catalog_query_007"])
def test_a_failed_query_fails_the_bench_naming_it(failed):
    with pytest.raises(ValueError, match=failed):
        bench.final_line(artifact(CATALOG, error=failed), STALENESS)
