"""Kafka source/sink wrappers (S3 / K2 / K1).

The reference consumes topic T2 as JSON PageEvents and produces the
(page, count) changelog to T4 with String/Long serdes (reference:
application.properties:12,21,26-27; config.txt:6). Spark equivalents:
`format("kafka")` with `from_json`/`to_json` on the value column.

These wrappers are pure plan builders — no broker required to
construct them; running them needs the spark-sql-kafka connector jar
and a broker, neither of which exists in this container, so tests
cover the parse/format expressions on static DataFrames and gate the
live path behind availability (`kafka_available`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import PAGE_EVENT_SCHEMA
from .sinks import start_stateful


def kafka_available(spark: SparkSession) -> bool:
    """True when the Kafka connector is on the classpath."""
    try:
        spark.readStream.format("kafka").option(
            "kafka.bootstrap.servers", "none:9092"
        ).option("subscribe", "probe").load()
        return True
    except Exception:
        return False


def parse_page_events(raw: DataFrame) -> DataFrame:
    """Kafka wire bytes -> typed PageEvent rows (S3).

    `raw` has the Kafka source schema (key/value binary, topic,
    partition, offset, timestamp...). JSON value parse per the
    reference's application/json content-type; the Kafka record
    timestamp is carried as `kafka_ts` because the reference windows on
    record time, not the embedded date (SURVEY.md §1.3).
    """
    return raw.select(
        F.col("key").cast("string").alias("kafka_key"),
        F.col("timestamp").alias("kafka_ts"),
        F.from_json(F.col("value").cast("string"), PAGE_EVENT_SCHEMA).alias("event"),
    ).select("kafka_key", "kafka_ts", "event.*")


def read_page_events_kafka(
    spark: SparkSession, topic: str = "T2", bootstrap: str = "localhost:9092"
) -> DataFrame:
    """S3 — streaming Kafka source for a PageEvent topic."""
    raw = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap)
        .option("subscribe", topic)
        .load()
    )
    return parse_page_events(raw)


def format_count_changelog(counts: DataFrame) -> DataFrame:
    """(name, cnt) -> Kafka key/value columns (K2): key = page name
    string, value = stringified count (the reference uses a Long serde;
    string-encoding the number is the Spark-side convention, and
    config.txt:6's LongDeserializer reads either from the console)."""
    return counts.select(
        F.col("name").cast("string").alias("key"),
        F.col("cnt").cast("string").alias("value"),
    )


def write_count_changelog_kafka(
    counts: DataFrame,
    topic: str = "T4",
    bootstrap: str = "localhost:9092",
    checkpoint: str | None = None,
):
    """K2 — stream the (page, count) changelog to a Kafka topic."""
    writer = (
        format_count_changelog(counts)
        .writeStream.outputMode("update")
        .format("kafka")
        .option("kafka.bootstrap.servers", bootstrap)
        .option("topic", topic)
    )
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return start_stateful(writer, counts.sparkSession)


def write_page_events_kafka(events: DataFrame, topic: str, bootstrap: str) -> None:
    """Batch-produce PageEvent rows as JSON (S1's streamBridge.send)."""
    (
        events.select(
            F.col("name").cast("string").alias("key"),
            F.to_json(F.struct("name", "user", "date", "duration")).alias("value"),
        )
        .write.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap)
        .option("topic", topic)
        .save()
    )


def console_sink(events: DataFrame, banner: bool = True):
    """K1 — the reference's console consumer prints each record between
    ****** banners (PageEventHandler.java:26-33). foreachBatch gives the
    same per-record formatting without a row-at-a-time Python UDF."""

    def _print_batch(batch: DataFrame, epoch_id: int) -> None:
        for row in batch.toLocalIterator():
            if banner:
                print("*" * 12)
            print(row.asDict())
            if banner:
                print("*" * 12)

    return events.writeStream.outputMode("append").foreachBatch(_print_batch).start()
