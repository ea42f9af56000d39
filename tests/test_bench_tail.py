"""The benchmark's final JSON line: a byte-capped summary that must
keep both the query map and the "real" drift verdicts."""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402


def _inputs(n_queries=283, n_real=30, n_noise=21):
    timings = {f"query_number_{i:03d}": 1.0 + i / 7 for i in range(n_queries)}
    order = sorted(timings, key=lambda q: -timings[q])
    drift = {f"query_number_{i:03d}": {"verdict": "noise"} for i in range(n_noise)}
    drift.update(
        {f"query_number_{200 + i:03d}": {"verdict": "real"} for i in range(n_real)}
    )
    base = {"metric": "registry_queries_total_wall", "value": 1.0,
            "queries": {}, "tail_drift": {}}
    return base, order, timings, drift


def test_many_drifts_keep_real_verdicts_and_queries_within_budget():
    base, order, timings, drift = _inputs()
    line = bench._tail_line(base, order, timings, drift)
    assert len(line) <= bench._TAIL_BUDGET
    out = json.loads(line)
    assert out["queries"], "the query map must never be squeezed out"
    assert out["tail_drift"], "a reserved share keeps verdicts on the line"
    assert set(out["tail_drift"].values()) == {"real"}  # real first
    assert out["tail_drift_omitted"] == len(drift) - len(out["tail_drift"])


def test_omitted_count_is_sized_into_the_line():
    for n_queries in (0, 5, 60, 283):
        for n_real in (0, 1, 5, 9, 30, 120):
            for n_noise in (0, 3, 40):
                base, order, timings, drift = _inputs(n_queries, n_real, n_noise)
                line = bench._tail_line(base, order, timings, drift)
                assert len(line) <= bench._TAIL_BUDGET
                out = json.loads(line)
                omitted = out.get("tail_drift_omitted", 0)
                assert len(out["tail_drift"]) + omitted == len(drift)


def test_no_drift_leaves_the_whole_budget_to_queries():
    base, order, timings, _ = _inputs()
    with_drift = json.loads(bench._tail_line(base, order, timings, _inputs()[3]))
    out = json.loads(bench._tail_line(base, order, timings, {}))
    assert out["tail_drift"] == {} and "tail_drift_omitted" not in out
    assert len(out["queries"]) > len(with_drift["queries"])
