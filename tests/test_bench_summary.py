"""bench.py's last stdout line must always parse and fit the driver's
tail window, however many headline queries the summary carries."""

from __future__ import annotations

import json


def _summary(n_queries: int) -> dict:
    queries = {f"q_headline_{i:03d}": 1.234 for i in range(n_queries)}
    return {
        "metric": "headline_suite_warm_total",
        "value": 12.3,
        "unit": "sec",
        "queries": queries,
        "queries_unit": "sec",
        "worst5_warm_ratio_vs_duckdb": {f"q_headline_{i:03d}": 9.9 for i in range(5)},
        "serving": {f"s_{i}": 0.01 for i in range(10)},
        "sf": "sf0.1",
        "n_queries": n_queries,
    }


def test_summary_line_sheds_detail_to_fit():
    from bench import summary_line

    small = _summary(5)
    assert json.loads(summary_line(small)) == small
    # serving alone goes first
    mid = summary_line(_summary(50), limit=1500)
    got = json.loads(mid)
    assert len(mid) < 1500 and "serving" not in got and len(got["queries"]) == 50
    # then the per-query seconds; the worst-5 ratios stay
    big = summary_line(_summary(200))
    got = json.loads(big)
    assert len(big) < 1950 and "queries" not in got and "serving" not in got
    assert len(got["worst5_warm_ratio_vs_duckdb"]) == 5
