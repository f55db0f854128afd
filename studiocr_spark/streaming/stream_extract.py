"""Structured Streaming windowed rollups.

The reference's work queue (/root/reference/StudiOCR/OcrWorker.py:60-68)
maps to batch-with-checkpoints (incremental.py); the extract itself is a
batch job. The one streaming shape here is a watermarked event-time
windowed aggregation over an events stream (late data dropped after the
watermark), driven to completion into a memory table; the
``stream_window_counts`` entry serves it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def windowed_event_counts(events_stream: DataFrame) -> DataFrame:
    """Watermarked event-time rollup in one-hour tumbling windows (data
    more than 10 minutes late is dropped). Returns the aggregation
    plan; attach any sink."""
    return (
        events_stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("value").alias("total_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "event_type",
            "n",
            "total_value",
        )
    )


def run_stream_to_memory(
    agg: DataFrame, name: str, spark: SparkSession
) -> DataFrame:
    """Drive a (finite) streaming aggregation to completion synchronously
    into an in-memory table — the smoke-test harness shape."""
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return spark.table(name)
