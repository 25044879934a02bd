"""Streaming sinks: the KV store behind the queryable count-store and
the partitioned-parquet ingest.

`CountStore` (pipeline.py) upserts the changelog into a key-value
store via foreachBatch — every micro-batch arrives as a normal
DataFrame plus an epoch id, so any batch writer (JDBC, Cassandra,
Redis, Delta) becomes a streaming sink with exactly-once semantics
when the write is idempotent (upsert by key) and the checkpoint tracks
the epoch.

`DictKVStore` here is the in-process stand-in for that external KV —
a real deployment swaps `upsert` for the store's batch-write call;
everything else (update-mode changelog, checkpointing, recovery) is
the production wiring, exercised by tests/test_checkpoint_recovery.py.

`start_stateful` starts every stateful stream in the package with one
state-store partition per task slot instead of the batch shuffle width.
"""

from __future__ import annotations

import threading
from datetime import timedelta

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

_START_LOCK = threading.Lock()


def start_stateful(writer: DataStreamWriter, spark: SparkSession) -> StreamingQuery:
    """``writer.start()`` with one state-store partition per task slot.

    A stateful stream's shuffle width is its state-store partition
    count, and every partition pays a RocksDB load and commit on every
    trigger however few rows it holds; at the batch width (32) a live
    stream spends most of each trigger on empty partitions. The query
    clones the session conf when it starts, so the session value is
    restored right after; the lock keeps two starts from interleaving,
    so neither restores the other's override. Spark records the count in
    the checkpoint's offset log and reads it back on restart, so an
    existing checkpoint keeps the count it was created with."""
    key = "spark.sql.shuffle.partitions"
    with _START_LOCK:
        session_value = spark.conf.get(key)
        spark.conf.set(key, str(spark.sparkContext.defaultParallelism))
        try:
            return writer.start()
        finally:
            spark.conf.set(key, session_value)


class DictKVStore:
    """Thread-safe (key → value) upsert store, the external-KV stand-in.
    Keys are (name, window_start, window_end); upserts are idempotent, so
    epoch replays after recovery converge to the same state
    (exactly-once effect from at-least-once delivery).

    ``retention_seconds`` bounds store size for long-running streams:
    after each upsert, windows starting more than the retention horizon
    behind the NEWEST window seen are evicted — the Kafka Streams
    window-store retention rule (windowSize + grace), keyed off stream
    time rather than wall clock so replays stay deterministic. None
    keeps everything (bounded tests / changelog audits)."""

    def __init__(self, retention_seconds: float | None = None) -> None:
        self._data: dict[tuple, int] = {}
        self._lock = threading.Lock()
        self._retention = retention_seconds

    def upsert(self, rows: list[tuple], epoch_id: int) -> None:
        # epoch_id is the foreachBatch contract; key-idempotent writes
        # make a replayed epoch harmless, so the dict needs no epoch log
        with self._lock:
            for key, cnt in rows:
                self._data[key] = cnt
            if self._retention is not None and self._data:
                high = max(k[1] for k in self._data)
                horizon = high - timedelta(seconds=self._retention)
                for k in [k for k in self._data if k[1] < horizon]:
                    del self._data[k]

    def snapshot(self) -> dict[tuple, int]:
        with self._lock:
            return dict(self._data)


def start_parquet_ingest(
    events: DataFrame,
    path: str,
    checkpoint: str,
    partition_cols: list[str] | None = None,
    trigger_seconds: float | None = None,
):
    """Streaming → partitioned parquet (the lakehouse ingest pattern):
    each micro-batch appends files under ``path``, directory-
    partitioned for downstream pruning; the checkpoint makes the
    append exactly-once (a replayed epoch is skipped, not re-written).
    At scale, pair with periodic compaction — micro-batch appends
    produce one file per partition-dir per trigger."""
    writer = (
        events.writeStream.outputMode("append")
        .format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
    )
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    if trigger_seconds is not None:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()
