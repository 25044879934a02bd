"""End-to-end live demo of the reference's whole loop, self-contained:

    rate source (5 PageEvents/s, the reference supplier cadence)
      → filter(duration > 100) → re-key(page) → 5 s tumbling count
      → queryable count-store (update mode, 1 s trigger)
      → 1 Hz analytics snapshots (the reference's SSE endpoint body)

Run:  python examples/streaming_demo.py [seconds]

This is the reference's README demo (Smoothie.js live chart fed by
`/analytics` SSE). A real SSE endpoint + live page is served too
(serving/http.py — open the printed URL while the demo runs); the
printed snapshots are the same payloads for terminal-only runs.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kafka_streams_spring_cloud_stream_tp1_spark.session import get_spark
from kafka_streams_spring_cloud_stream_tp1_spark.sources.generators import page_event_stream
from kafka_streams_spring_cloud_stream_tp1_spark.streaming import CountStore


def main(seconds: float = 12.0) -> None:
    spark = get_spark(app_name="streaming-demo")
    spark.sparkContext.setLogLevel("ERROR")

    events = page_event_stream(spark, rows_per_second=5).selectExpr(
        "name AS event_type", "user AS user_id", "date AS ts", "duration AS value"
    )
    store = CountStore.start(
        spark, events, window="5 seconds", watermark="10 seconds", trigger_seconds=1.0,
    )
    from kafka_streams_spring_cloud_stream_tp1_spark.serving import AnalyticsServer

    srv = AnalyticsServer.for_store(store).start()
    print(f"live chart: {srv.url}/  (SSE: {srv.url}/analytics)")
    print(f"streaming 5 events/s; polling the count-store at 1 Hz for {seconds:.0f}s …")
    try:
        deadline = time.monotonic() + seconds
        while time.monotonic() < deadline:
            print("analytics:", store.range_fetch(), flush=True)
            time.sleep(1.0)
    finally:
        srv.stop()
        store.stop()
        spark.stop()


if __name__ == "__main__":
    main(float(sys.argv[1]) if len(sys.argv) > 1 else 12.0)
