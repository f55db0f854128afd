"""Checkpointed, resumable extract: write-audit-publish over url buckets.

The reference's incremental runtime is an unbounded work queue + progress
pipe (/root/reference/StudiOCR/OcrWorker.py:60-93). At 10^12 documents the
equivalent is batch-with-checkpoints (north_rule): the corpus is split
into ``n_buckets`` url-hash buckets; each run

1. reads the completion manifest (if any),
2. anti-joins to find PENDING buckets,
3. extracts only those buckets, writing outputs ``partitionBy(bucket)``
   with dynamic partition overwrite, set per write so the session keeps
   its own mode — re-processing a bucket after a crash REPLACES its
   partition instead of duplicating it (idempotent retry),
4. appends one manifest row per completed bucket: counts, wall seconds,
   docs/sec, min/max url (lineage), completion timestamp — the audit +
   publish step. The manifest is only written after the data commit, so
   a crash between the two reprocesses work but never loses or dupes it.

The manifest holds about one row per bucket (reruns under another
``n_buckets`` add rows; see :func:`completed_buckets`), so its
bookkeeping stays on the driver: it is built as a pandas frame (an
Arrow local relation, not a pickled Python RDD) and read back with its
declared schema (no schema-inference job).
"""

from __future__ import annotations

import os
import time
from datetime import datetime, timezone

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.extract import blocks_from_raw, extract_raw

MANIFEST_TABLE = "manifest"
MANIFEST_SCHEMA = (
    "bucket int, n_urls long, n_pages long, n_blocks long, "
    "wall_sec double, docs_per_sec double, min_url string, "
    "max_url string, completed_ts timestamp"
)
MANIFEST_COLUMNS = [field.split()[0] for field in MANIFEST_SCHEMA.split(", ")]


def with_bucket(pages: DataFrame, n_buckets: int) -> DataFrame:
    """Stable url-hash bucket — the checkpoint/lineage unit."""
    return pages.withColumn(
        "bucket", F.pmod(F.xxhash64("url"), F.lit(n_buckets)).cast("int")
    )


def read_manifest(spark: SparkSession, out_root: str) -> DataFrame | None:
    """The completion manifest under ``out_root``; None when no run has
    written one yet. The path is checked through its Hadoop FileSystem,
    so any other failure (an unknown scheme, a denied read) raises
    instead of reading as "nothing completed"."""
    path = os.path.join(out_root, MANIFEST_TABLE)
    hpath = spark._jvm.org.apache.hadoop.fs.Path(path)  # noqa: SLF001
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())  # noqa: SLF001
    if not fs.exists(hpath):
        return None
    return spark.read.schema(MANIFEST_SCHEMA).parquet(path)


def completed_buckets(spark: SparkSession, out_root: str) -> set[int]:
    """Every bucket in the manifest, whatever ``n_buckets`` completed it.
    One scan of about one row per bucket; the set dedups on the driver."""
    manifest = read_manifest(spark, out_root)
    if manifest is None:
        return set()
    return {r.bucket for r in manifest.select("bucket").collect()}


def pending_buckets(
    spark: SparkSession, out_root: str, n_buckets: int
) -> list[int]:
    """All buckets minus completed ones (anti-join semantics, driver-side
    because bucket ids are tiny: <= n_buckets integers)."""
    done = completed_buckets(spark, out_root)
    return [b for b in range(n_buckets) if b not in done]


def run_checkpointed_extract(
    spark: SparkSession,
    pages: DataFrame,
    out_root: str,
    n_buckets: int = 16,
    backend: str = "bitmap",
    fail_after_buckets: int | None = None,
) -> DataFrame | None:
    """One resumable run; returns the manifest rows appended (None if
    nothing was pending). ``fail_after_buckets`` is a test hook that
    simulates a crash after N buckets to exercise resume.
    """
    pending = pending_buckets(spark, out_root, n_buckets)
    if fail_after_buckets is not None:
        pending = pending[:fail_after_buckets]
    if not pending:
        return None

    bucketed = with_bucket(pages, n_buckets).filter(
        F.col("bucket").isin(pending)
    )

    t0 = time.time()
    # bucket is a pure function of url — recompute instead of joining, so
    # the image-carrying extract output never shuffles
    raw = with_bucket(extract_raw(bucketed, backend=backend), n_buckets)
    # single materialization: pages+stats and blocks share the cached raw
    raw = raw.cache()
    ok = raw.filter(F.col("error").isNull())
    ocr_pages = ok.select(
        "url", "page_no", "image", "page_text", "page_stats", "bucket"
    )
    ocr_pages.write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy("bucket").parquet(os.path.join(out_root, "ocr_pages"))
    blocks = with_bucket(blocks_from_raw(ok.drop("bucket")), n_buckets)
    blocks.write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy("bucket").parquet(os.path.join(out_root, "ocr_blocks"))
    wall = time.time() - t0

    # audit: per-bucket counts + lineage, computed from the cached raw
    per_bucket = (
        ok.groupBy("bucket")
        .agg(
            F.count_distinct("url").alias("n_urls"),
            F.count("*").alias("n_pages"),
            F.sum(F.size("raw")).alias("n_blocks"),
            F.min("url").alias("min_url"),
            F.max("url").alias("max_url"),
        )
        .collect()
    )
    raw.unpersist()
    now = datetime.now(timezone.utc)
    rows = [
        {
            "bucket": r.bucket,
            "n_urls": r.n_urls,
            "n_pages": r.n_pages,
            "n_blocks": r.n_blocks,
            "wall_sec": wall,
            "docs_per_sec": r.n_urls / wall,
            "min_url": r.min_url,
            "max_url": r.max_url,
            "completed_ts": now,
        }
        for r in per_bucket
    ]
    # publish: buckets with zero rows still count as completed
    seen = {r.bucket for r in per_bucket}
    rows += [
        {
            "bucket": b, "n_urls": 0, "n_pages": 0, "n_blocks": 0,
            "wall_sec": wall, "docs_per_sec": 0.0,
            "min_url": None, "max_url": None, "completed_ts": now,
        }
        for b in pending
        if b not in seen
    ]
    # a pandas frame crosses as Arrow into a local relation: the append
    # below skips the pickled-RDD round trip, and collect() on the result
    # runs no Spark job
    manifest_df = spark.createDataFrame(
        pd.DataFrame(rows, columns=MANIFEST_COLUMNS), MANIFEST_SCHEMA
    )
    manifest_df.coalesce(1).write.mode("append").parquet(
        os.path.join(out_root, MANIFEST_TABLE)
    )
    return manifest_df
