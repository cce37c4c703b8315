"""bench.py's stdout line stays one parseable JSON line within its budget."""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import STDOUT_BUDGET, _stdout_line  # noqa: E402


def _out(timings: dict) -> dict:
    return {
        "metric": "tpch_like_median_total",
        "value": round(sum(timings.values()), 4),
        "unit": "sec",
        "queries": {q: round(t, 3) for q, t in timings.items()},
        "sf": 0.1,
    }


def test_57_long_named_queries_fit_the_budget():
    timings = {
        f"query_with_a_deliberately_long_registry_name_{i:02d}": 12.3456 + i
        for i in range(57)
    }
    line = _stdout_line(_out(timings), timings)
    assert STDOUT_BUDGET <= 1900
    assert len(line) <= STDOUT_BUDGET
    assert "\n" not in line
    parsed = json.loads(line)
    assert parsed["queries_in_detail_only"] is True
    assert "queries" not in parsed
    assert set(parsed) == {"metric", "value", "unit", "sf", "queries_in_detail_only"}
    assert parsed["value"] == round(sum(timings.values()), 4)


def test_small_map_keeps_3dp_queries():
    timings = {"tpch_q01": 1.23456, "tpch_q06": 0.5, "sensql_knn_federated": 0.0444}
    out = _out(timings)
    parsed = json.loads(_stdout_line(out, timings))
    assert parsed == out
    assert parsed["queries"] == {
        "tpch_q01": 1.235,
        "tpch_q06": 0.5,
        "sensql_knn_federated": 0.044,
    }
