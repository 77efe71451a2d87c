"""Structured Streaming surface (SURVEY §2.9).

The reference is bounded-batch only; its incremental semantics map to
checkpointed batch (sources/checkpoint.py). This module covers the case
the north star leaves open — the same aggregations running over an
unbounded events source: watermarked tumbling-window rollups and
streaming sessionization. For local verification a bounded parquet
directory drives the stream to completion via the memory sink.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# watermarks require TIMESTAMP (tz-aware); the session TZ is pinned UTC
# so naive parquet values read as UTC instants
EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


def read_events_stream(spark: SparkSession, path: str) -> DataFrame:
    return (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )


def windowed_rollup(events: DataFrame) -> DataFrame:
    """Watermarked tumbling-window per-type rollup — the streaming form
    of A5/A9; decimal sums keep totals order-exact."""
    return (
        events.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "5 minutes"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(28,6)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("window.start").alias("w_start"),
            F.col("window.end").alias("w_end"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def session_windows(events: DataFrame) -> DataFrame:
    """Streaming sessionization via session_window — the unbounded twin
    of reports.events_sessions."""
    return (
        events.withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("session_window.start").alias("s_start"),
            F.col("session_window.end").alias("s_end"),
            "user_id",
            "n_events",
        )
    )


def run_bounded(stream_df: DataFrame, name: str) -> DataFrame:
    """Drive a bounded streaming query to completion via the memory sink
    and return the result table (test/verification harness)."""
    q = (
        stream_df.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return stream_df.sparkSession.sql(f"SELECT * FROM {name}")
