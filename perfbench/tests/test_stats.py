"""Percentile helper, metric names, the result printer and BENCHMARK.json."""

from __future__ import annotations

import json
import os
import statistics

import pytest

from perfbench import stats

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_percentile_interpolates_between_ranks():
    xs = [4.0, 1.0, 3.0, 2.0]
    assert stats.percentile(xs, 0) == 1.0
    assert stats.percentile(xs, 100) == 4.0
    assert stats.percentile(xs, 50) == 2.5
    assert stats.percentile([7.0], 90) == 7.0
    with pytest.raises(ValueError):
        stats.percentile([], 50)


@pytest.mark.parametrize(
    "n, want",
    [(10, None), (19, None), (20, 50.0), (40, 75.0), (100, 90.0), (1000, 99.0), (10000, 99.9)],
)
def test_tail_is_highest_percentile_with_ten_beyond(n, want):
    assert stats.tail_percentile(n) == want
    if want is not None:
        assert stats.samples_beyond(n, want) >= 10
        higher = [p for p in stats.TAIL_LADDER if p > want]
        assert all(stats.samples_beyond(n, p) < 10 for p in higher)


def test_tail_rule_holds_for_every_sample_count():
    for n in range(1, 400):
        p = stats.tail_percentile(n)
        ok = [q for q in stats.TAIL_LADDER if stats.samples_beyond(n, q) >= 10]
        assert p == (max(ok) if ok else None)


def test_latency_summary_takes_tail_from_the_ladder():
    s = stats.latency_summary([float(i) for i in range(1, 41)])
    assert s["n"] == 40 and s["p50"] == 20.5
    assert s["tail_pct"] == 75.0 and s["tail"] == pytest.approx(30.25)
    assert s["beyond_tail"] == 10
    small = stats.latency_summary([1.0, 2.0, 3.0])
    assert small["n"] == 3 and small["tail_pct"] is None and small["tail"] is None


def test_kind_geomean_moves_with_any_kind():
    samples = [("a", 1.0), ("b", 4.0), ("a", 3.0), ("b", 4.0), ("c", 0.5)]
    kinds = stats.kind_medians(samples)
    assert kinds == {"a": 2.0, "b": 4.0, "c": 0.5}
    assert statistics.geometric_mean(kinds.values()) == pytest.approx(4 ** (1 / 3))
    # doubling the fastest kind moves it as much as doubling the slowest,
    # while the overall median of the samples stays put
    for kind in kinds:
        slower = dict(kinds, **{kind: 2 * kinds[kind]})
        assert statistics.geometric_mean(slower.values()) == pytest.approx(2.0)


@pytest.mark.parametrize("name", ["setup_s", "exec.tasks", "python.bytes_sent", "a-b.c_1", "9x"])
def test_valid_metric_names(name):
    assert stats.valid_metric_name(name)


@pytest.mark.parametrize("name", ["", "_x", ".x", "a b", "a/b", "x" * 65, "lat(ms)"])
def test_invalid_metric_names(name):
    assert not stats.valid_metric_name(name)


DECLARED = [{"name": "latency_p50_s", "unit": "s"}, {"name": "ops_per_s", "unit": "1/s"}]


def test_result_line_prints_every_metric_with_unit():
    line = stats.result_line(DECLARED, {"latency_p50_s": 0.25, "ops_per_s": 3}, True, 7, 0)
    out = json.loads(line)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["metrics"] == {"latency_p50_s": {"value": 0.25, "unit": "s"},
                              "ops_per_s": {"value": 3, "unit": "1/s"}}
    assert out["correct"] is True and out["attempted"] == 7 and out["failed"] == 0


@pytest.mark.parametrize(
    "values",
    [{"latency_p50_s": 0.25}, {"latency_p50_s": 0.25, "ops_per_s": 1.0, "extra": 1.0},
     {"latency_p50_s": float("nan"), "ops_per_s": 1.0}, {"latency_p50_s": None, "ops_per_s": 1.0}],
)
def test_result_line_rejects_missing_extra_or_non_numeric(values):
    with pytest.raises(ValueError):
        stats.result_line(DECLARED, values, True, 1, 0)


def test_benchmark_json_meets_contract():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert set(spec) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert spec["command"][:2] == ["python3", "perfbench/run.py"]
    assert 1 <= spec["run_seconds"] <= 60 and isinstance(spec["run_seconds"], int)
    assert 2 <= len(spec["workloads"]) <= 8
    names = [w["name"] for w in spec["workloads"]]
    for w in spec["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200 and "\n" not in w["why"]
    for m in spec["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"} and 0 < m["bound"] <= 0.25
    for m in spec["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
    names += [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert len(names) == len(set(names)) and all(stats.valid_metric_name(n) for n in names)
    setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"]
    assert setup == [{"name": "setup_s", "unit": "s", "better": "lower",
                      "bound": max(m["bound"] for m in spec["end_to_end"])}]
    stats.load_spec(os.path.join(ROOT, "BENCHMARK.json"))
