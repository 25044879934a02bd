"""Unit tests for the benchmark's statistics and naming rules.

    python3 -m pytest perfbench/tests -q
"""

import os
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from stats import check_metrics, lag_slope, median, percentile, tail, tail_percentile  # noqa: E402


def test_percentile_interpolates_like_numpy():
    xs = [1.0, 2.0, 3.0, 4.0]
    assert percentile(xs, 50) == 2.5
    assert percentile(xs, 0) == 1.0
    assert percentile(xs, 100) == 4.0
    assert median([5.0, 1.0, 3.0]) == 3.0


def test_tail_needs_ten_samples_beyond():
    assert tail_percentile(200) == 95  # 10 beyond p95
    assert tail_percentile(199) == 90
    assert tail_percentile(1000) == 99
    assert tail_percentile(100) == 90
    assert tail_percentile(40) == 75
    assert tail_percentile(20) == 50
    assert tail_percentile(19) is None


def test_tail_reports_its_count():
    xs = [float(i) for i in range(200)]
    pct, value, n = tail(xs)
    assert (pct, n) == (95, 200)
    assert value == pytest.approx(percentile(xs, 95))
    assert tail([1.0] * 5) == (None, None, 5)


def test_lag_slope_on_synthetic_series():
    t = [float(i) for i in range(20)]
    assert lag_slope(t, [300.0 + 50.0 * x for x in t]) == pytest.approx(50.0)
    assert lag_slope(t, [400.0] * 20) == pytest.approx(0.0)
    # a sawtooth around a flat mean: sustainable load reads about zero
    saw = [200.0 + (100.0 if i % 2 else -100.0) for i in range(20)]
    assert abs(lag_slope(t, saw)) < 10.0
    assert lag_slope([1.0], [5.0]) == 0.0
    assert lag_slope([2.0, 2.0], [1.0, 9.0]) == 0.0


def test_metric_names_and_units():
    ok = {"latency_ms": {"value": 1.5, "unit": "ms"},
          "plans.q_tpch_q3.build_s": {"value": 0.2, "unit": "s"},
          "throughput_per_s": {"value": 3, "unit": "1/s"}}
    assert check_metrics(ok) == []
    assert check_metrics({"bad name": {"value": 1, "unit": "s"}})
    assert check_metrics({"_lead": {"value": 1, "unit": "s"}})
    assert check_metrics({"x" * 65: {"value": 1, "unit": "s"}})
    assert check_metrics({"no_unit": {"value": 1}})
    assert check_metrics({"bad_unit": {"value": 1, "unit": "m s"}})
    assert check_metrics({"nan": {"value": float("nan"), "unit": "s"}})
    assert check_metrics({"flag": {"value": True, "unit": "count"}})


def test_every_declared_metric_is_well_formed():
    import json

    root = os.path.join(os.path.dirname(__file__), "..", "..")
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    declared = bench["end_to_end"] + bench["per_layer"]
    assert check_metrics({m["name"]: {"value": 0, "unit": m["unit"]} for m in declared}) == []
    assert len({m["name"] for m in declared}) == len(declared)


def test_result_line_carries_exactly_the_declared_metrics():
    import json

    import run

    root = os.path.join(os.path.dirname(__file__), "..", "..")
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    live = {"setup_s": 1.0, "latency_ms": [5.0] * 30, "cpu_ms_per_op": 420.0,
            "store_ms": [2.0] * 30, "get_spark_s": 1.0, "peak_rss_mb": 100.0}
    batch = {"setup_s": 1.0, "latency_ms": [5000.0], "queries_run": 16, "pass_s": 5.0, "cpu_ms_per_op": 3100.0,
             "get_spark_s": 1.0, "peak_rss_mb": 100.0, "plans": {}}
    for workload, rec in (("live-ref", live), ("batch-mix", batch)):
        e2e = run.end_to_end(rec)
        layer = run.per_layer(rec, workload, 0, 0)
        assert set(e2e) == {m["name"] for m in bench["end_to_end"]}
        assert set(layer) == {m["name"] for m in bench["per_layer"]}
        for declared in bench["end_to_end"] + bench["per_layer"]:
            got = (e2e | layer)[declared["name"]]
            assert got["unit"] == declared["unit"], declared["name"]
    assert {w["name"] for w in bench["workloads"]} <= set(run.WORKLOADS)


def _live_record(**changes):
    rec = {"setup_s": 15.0, "latency_ms": [6000.0] * 70, "latency_censor_ms": 21000.0,
           "cpu_ms_per_op": 440.0, "triggers": 8, "failed_triggers": 0, "frames": 7,
           "frame_errors": 0, "missed_frames": 0, "checks": 1, "checks_failed": 0,
           "window_exception": None}
    rec.update(changes)
    return rec


def test_a_healthy_live_run_is_correct():
    import run

    assert run.outcome(_live_record()) == (True, 8 + 7 + 1 + 1, 0)
    assert run.end_to_end(_live_record())["latency_ms"]["value"] == 6000.0


def test_no_latency_sample_fails_and_never_reads_fast():
    import run

    rec = _live_record(latency_ms=[], frames=0, missed_frames=3)
    correct, attempted, failed = run.outcome(rec)
    assert not correct
    assert failed == 3 + 1
    assert attempted == 8 + 3 + 1 + 1
    assert run.end_to_end(rec)["latency_ms"]["value"] == 21000.0


def test_a_query_that_dies_in_the_window_fails_the_run():
    import run

    correct, _, failed = run.outcome(_live_record(window_exception="StreamingQueryException: boom"))
    assert not correct and failed == 1
