"""The recount oracle on tiny hand-built inputs."""

import os
import sys
from collections import Counter

import numpy as np

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

import recount  # noqa: E402


def test_projection_is_deterministic_and_in_range():
    v = np.arange(1000, dtype=np.int64)
    p1, d1 = recount.project(v, seed=7, pages=2)
    p2, d2 = recount.project(v, seed=7, pages=2)
    assert (p1 == p2).all() and (d1 == d2).all()
    assert set(p1.tolist()) == {0, 1}
    assert d1.min() >= 10 and d1.max() <= 10009
    _, d3 = recount.project(v, seed=8, pages=2)
    assert (d1 != d3).any()


def test_recount_by_hand():
    v = np.arange(6, dtype=np.int64)
    ts = np.array([0, 1000, 4999, 5000, 9999, 10000], dtype=np.int64)
    page, dur = recount.project(v, seed=3, pages=2)
    want = Counter()
    for i in range(6):
        if dur[i] > 100:
            want[(recount.page_name(int(page[i]), 2), (int(ts[i]) // 5000) * 5000)] += 1
    assert recount.recount(v, ts, seed=3, pages=2) == want


def test_recount_drops_short_durations():
    # find offsets whose duration is at most 100 and check they vanish
    v = np.arange(50_000, dtype=np.int64)
    _, dur = recount.project(v, seed=1, pages=2)
    short = v[dur <= 100][:3]
    assert len(short) == 3
    assert recount.recount(short, np.zeros(3, dtype=np.int64), seed=1, pages=2) == Counter()


def test_compare_closed_windows_only():
    expected = Counter({("P1", 0): 3, ("P2", 0): 1, ("P1", 5000): 2, ("P1", 10000): 9})
    store = {("P1", 0): 3, ("P2", 0): 1, ("P1", 5000): 2, ("P1", 10000): 4}
    # the 10 s window is still open at 12 s, so its partial count is fine
    assert recount.compare_closed(store, expected, closed_before_ms=12_000) == []
    store[("P2", 0)] = 2
    assert recount.compare_closed(store, expected, closed_before_ms=12_000)
    # windows the store already evicted are not held against it
    evicted = {("P1", 5000): 2, ("P1", 10000): 4}
    assert recount.compare_closed(evicted, expected, closed_before_ms=12_000) == []
    assert recount.compare_closed({}, expected, 12_000) == ["store is empty"]


def test_spark_projection_matches_numpy():
    import pytest

    pytest.importorskip("pyspark")
    from pyspark.sql import SparkSession

    spark = SparkSession.builder.master("local[1]").config("spark.ui.enabled", "false").getOrCreate()
    try:
        raw = spark.range(0, 2000).withColumnRenamed("id", "value").selectExpr(
            "value", "timestamp_millis(value * 200) AS timestamp")
        for pages in (2, 20_000):
            rows = recount.spark_projection(raw, 11, pages).collect()
            page, dur = recount.project(np.arange(2000, dtype=np.int64), 11, pages)
            assert [r["event_type"] for r in rows] == [recount.page_name(int(p), pages) for p in page]
            assert [r["value"] for r in rows] == dur.tolist()
    finally:
        spark.stop()
