"""Structured Streaming: watermarked windowed rollups."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from studiocr_spark.streaming.stream_extract import (
    run_stream_to_memory,
    windowed_event_counts,
)

from .conftest import sf_dir


def test_windowed_event_counts(spark, tmp_path):
    # the file stream source requires a directory, not a single file
    ev_dir = str(tmp_path / "events")
    spark.read.parquet(
        os.path.join(sf_dir("0.001"), "events.parquet")
    ).write.mode("overwrite").parquet(ev_dir)
    ev_stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string"
        )
        .parquet(ev_dir)
    )
    agg = windowed_event_counts(ev_stream)
    out = run_stream_to_memory(agg, "win_counts", spark)
    rows = out.collect()
    assert len(rows) > 0
    # cross-check against the batch computation of the same rollup
    batch = (
        spark.read.parquet(os.path.join(sf_dir("0.001"), "events.parquet"))
        .groupBy(F.window(F.col("ts").cast("timestamp"), "1 hour"), "event_type")
        .agg(F.count("*").alias("n"))
    )
    got_total = sum(r.n for r in rows)
    assert got_total == sum(r.n for r in batch.collect())
