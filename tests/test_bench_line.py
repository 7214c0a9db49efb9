"""bench.py's contract line stays under the driver's tail buffer."""

from __future__ import annotations

import json

import bench


def _compact(n_queries: int, n_contaminated: int) -> dict:
    names = [f"q_headline_entry_with_a_long_name_{i:03d}"
             for i in range(max(n_queries, n_contaminated))]
    return {
        "metric": "headline_queries_total", "value": 12.5, "unit": "sec",
        "queries": {n: 0.1 + i / 1000
                    for i, n in enumerate(names[:n_queries])},
        "exo": {n: 0.5 for n in names[:10]},
        "retries": {n: 2 for n in names[:10]},
        "contaminated": names[:n_contaminated],
        "sf": "/data/sf0.1",
    }


def test_fit_line_keeps_a_short_line_whole():
    assert json.loads(bench.fit_line(_compact(5, 2))) == _compact(5, 2)


def test_fit_line_counts_contaminated_before_dropping_queries():
    # the contaminated list alone is over budget; the queries are not
    line = bench.fit_line(_compact(20, 60))
    assert len(line) <= 1900
    out = json.loads(line)
    assert out["exo"] == {} and out["retries"] == {}
    assert out["contaminated"] == 60
    assert len(out["queries"]) == 20 and "queries_omitted" not in out
