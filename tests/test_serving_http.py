"""The HTTP/SSE serving shell (V1/S1/Q1 web surface): publish ingest,
SSE analytics stream, and the index page — driven over real sockets
with urllib against an ephemeral port, backed by the live streaming
CountStore exactly as the reference's controller sits on its window
store (reference: controllers/PageEventController.java:34-58)."""

from __future__ import annotations

import json
import statistics
import time
import urllib.request
from datetime import datetime

from kafka_streams_spring_cloud_stream_tp1_spark.schemas import EVENTS_SCHEMA
from kafka_streams_spring_cloud_stream_tp1_spark.serving import AnalyticsServer
from kafka_streams_spring_cloud_stream_tp1_spark.streaming import CountStore

from .test_streaming import _event, _write_batch


def test_publish_analytics_and_index(spark, tmp_path):
    stream_dir = tmp_path / "in"
    stream_dir.mkdir()
    events = spark.readStream.schema(EVENTS_SCHEMA).json(str(stream_dir))
    store = CountStore.start(
        spark, events, window="5 seconds", watermark="10 seconds", retention_seconds=None
    )

    published: list[tuple[str, str | None]] = []

    def publish(name: str, topic: str | None) -> dict:
        # S1 analog: "send to the caller-chosen topic" = append one
        # qualifying event to the stream's ingest directory
        published.append((name, topic))
        _write_batch(str(stream_dir), f"pub{len(published)}", [_event(100, 1.0, name, 500.0)])
        return {"name": name, "topic": topic, "duration": 500}

    srv = AnalyticsServer.for_store(
        store,
        anchor=datetime(2024, 1, 1, 0, 0, 4),  # fixed anchor: data is at 2024-01-01
        publish=publish,
        interval=0.05,
    ).start()
    try:
        # S1: publish echoes the event and lands it in the stream
        with urllib.request.urlopen(f"{srv.url}/publish?name=P7&topic=T2", timeout=10) as r:
            echoed = json.loads(r.read())
        assert echoed["name"] == "P7" and published == [("P7", "T2")]
        store.process_all()

        # Q1 over SSE: first event frame carries the windowed count
        req = urllib.request.Request(f"{srv.url}/analytics?n=2")
        with urllib.request.urlopen(req, timeout=10) as r:
            assert r.headers["Content-Type"] == "text/event-stream"
            frames = [
                json.loads(line[len(b"data: ") :])
                for line in r.read().splitlines()
                if line.startswith(b"data: ")
            ]
        assert len(frames) == 2
        assert frames[-1] == {"P7": 1}

        # V1: index page subscribes to /analytics
        with urllib.request.urlopen(f"{srv.url}/", timeout=10) as r:
            page = r.read().decode()
        assert "EventSource" in page and "/analytics" in page

        # unknown route -> 404, publish without hook -> 503
        try:
            urllib.request.urlopen(f"{srv.url}/nope", timeout=10)
            assert False, "expected 404"
        except urllib.error.HTTPError as e:
            assert e.code == 404
    finally:
        srv.stop()
        store.stop()


def test_publish_unconfigured_returns_503(spark):
    srv = AnalyticsServer(fetch=lambda: {}).start()
    try:
        try:
            urllib.request.urlopen(f"{srv.url}/publish?name=x", timeout=10)
            assert False, "expected 503"
        except urllib.error.HTTPError as e:
            assert e.code == 503
    finally:
        srv.stop()


def test_sse_cadence_is_fixed_rate():
    """Frames start on the t0 + k·interval grid like the reference's
    Flux.interval: a fetch taking 0.6 × interval must not stretch the
    gap between frames to interval + fetch."""
    starts: list[float] = []

    def slow_fetch() -> dict:
        starts.append(time.monotonic())
        time.sleep(0.12)
        return {"P1": len(starts)}

    srv = AnalyticsServer(fetch=slow_fetch, interval=0.2).start()
    try:
        with urllib.request.urlopen(f"{srv.url}/analytics?n=8", timeout=10) as r:
            frames = [
                json.loads(line[len(b"data: ") :])
                for line in r.read().splitlines()
                if line.startswith(b"data: ")
            ]
    finally:
        srv.stop()
    assert frames == [{"P1": k} for k in range(1, 9)]
    gap = statistics.median(b - a for a, b in zip(starts, starts[1:]))
    assert abs(gap - 0.2) < 0.04, gap  # sleep-after-fetch would give ~0.32 s
