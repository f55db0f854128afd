"""Checkpoint/resume: crash mid-run, resume, no loss, no dupes."""

from __future__ import annotations

import contextlib
import glob
import io
import json
from datetime import datetime, timezone

import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from studiocr_spark.streaming.incremental import (
    MANIFEST_SCHEMA,
    pending_buckets,
    read_manifest,
    run_checkpointed_extract,
)

N_BUCKETS = 8


def test_resume_after_crash(spark, pages_df, tmp_path):
    out = str(tmp_path / "ckpt")
    # run 1 "crashes" after 3 buckets
    m1 = run_checkpointed_extract(
        spark, pages_df, out, n_buckets=N_BUCKETS, fail_after_buckets=3
    )
    assert m1 is not None and m1.count() == 3
    pending = pending_buckets(spark, out, N_BUCKETS)
    assert len(pending) == N_BUCKETS - 3

    # run 2 completes the rest
    m2 = run_checkpointed_extract(spark, pages_df, out, n_buckets=N_BUCKETS)
    assert m2.count() == N_BUCKETS - 3
    assert pending_buckets(spark, out, N_BUCKETS) == []

    # run 3 is a no-op
    assert run_checkpointed_extract(spark, pages_df, out, n_buckets=N_BUCKETS) is None

    # outputs: every url exactly once per page, no dupes, full coverage
    pages_out = spark.read.parquet(f"{out}/ocr_pages")
    assert pages_out.groupBy("url", "page_no").count().filter("count > 1").count() == 0
    assert pages_out.select("url").distinct().count() == pages_df.count()

    blocks_out = spark.read.parquet(f"{out}/ocr_blocks")
    assert (
        blocks_out.groupBy("url", "page_no", "block_no").count()
        .filter("count > 1").count() == 0
    )

    # manifest lineage is sane
    manifest = spark.read.parquet(f"{out}/manifest")
    row = manifest.agg(
        F.sum("n_urls").alias("u"), F.sum("n_pages").alias("p")
    ).collect()[0]
    assert row.u == pages_df.count()
    assert row.p == pages_out.count()
    assert manifest.filter(F.col("docs_per_sec") < 0).count() == 0


def test_reprocessing_is_idempotent(spark, pages_df, tmp_path):
    """Crash AFTER data write but BEFORE manifest: rerun must not dupe."""
    out = str(tmp_path / "ckpt2")
    run_checkpointed_extract(
        spark, pages_df, out, n_buckets=4, fail_after_buckets=2
    )
    # simulate the lost-manifest crash: wipe the manifest, keep the data
    import shutil

    shutil.rmtree(f"{out}/manifest")
    run_checkpointed_extract(spark, pages_df, out, n_buckets=4)
    pages_out = spark.read.parquet(f"{out}/ocr_pages")
    assert pages_out.groupBy("url", "page_no").count().filter("count > 1").count() == 0
    assert pages_out.select("url").distinct().count() == pages_df.count()


def test_extract_leaves_session_overwrite_mode_static(spark, pages_df, tmp_path):
    """The extract's dynamic partition overwrite is a per-write option:
    after a run the session still overwrites statically, so a later
    ``mode("overwrite").partitionBy(...)`` write in the same session
    drops the partitions it does not rewrite."""
    key = "spark.sql.sources.partitionOverwriteMode"
    run_checkpointed_extract(
        spark, pages_df, str(tmp_path / "ckpt"), n_buckets=4,
        fail_after_buckets=1,
    )
    assert spark.conf.get(key).upper() == "STATIC"

    path = str(tmp_path / "static")
    both = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    both.write.mode("overwrite").partitionBy("k").parquet(path)
    both.filter("k = 1").write.mode("overwrite").partitionBy("k").parquet(
        path
    )
    assert [r.k for r in spark.read.parquet(path).collect()] == [1]


def test_resume_over_manifest_part_from_python_rows(spark, pages_df, tmp_path):
    """A manifest part appended the earlier way, by ``createDataFrame``
    over Python dicts, stays readable and counts as done after the
    manifest moved to pandas/Arrow appends."""
    out = str(tmp_path / "ckpt3")
    old_rows = [
        {
            "bucket": b, "n_urls": 0, "n_pages": 0, "n_blocks": 0,
            "wall_sec": 1.0, "docs_per_sec": 0.0, "min_url": None,
            "max_url": None, "completed_ts": datetime.now(timezone.utc),
        }
        for b in (0, 1)
    ]
    spark.createDataFrame(old_rows, MANIFEST_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(f"{out}/manifest")
    assert pending_buckets(spark, out, N_BUCKETS) == list(range(2, N_BUCKETS))

    m = run_checkpointed_extract(spark, pages_df, out, n_buckets=N_BUCKETS)
    assert sorted(r.bucket for r in m.collect()) == list(range(2, N_BUCKETS))
    assert pending_buckets(spark, out, N_BUCKETS) == []

    manifest = read_manifest(spark, out)
    assert manifest.schema == StructType.fromDDL(MANIFEST_SCHEMA)
    rows = manifest.collect()
    assert sorted(r.bucket for r in rows) == list(range(N_BUCKETS))
    assert {r.bucket: r.wall_sec for r in rows if r.bucket < 2} == {0: 1.0, 1: 1.0}
    assert all(isinstance(r.completed_ts, datetime) for r in rows)
    # both parts carry the same parquet schema, completed_ts included
    parts = glob.glob(f"{out}/manifest/*.parquet")
    assert len(parts) == 2
    assert pq.read_schema(parts[0]) == pq.read_schema(parts[1])


def test_read_manifest_absent_is_none_other_errors_raise(spark, tmp_path):
    """A fresh output root has no manifest (None); a root whose
    filesystem cannot even be resolved raises instead of reading as
    "nothing completed"."""
    import pytest

    assert read_manifest(spark, str(tmp_path / "fresh")) is None
    with pytest.raises(Exception, match="nosuchfs"):
        read_manifest(spark, "nosuchfs://b/out")


def test_warm_submit_job_count_and_summary(spark, extract_job, tmp_path):
    """A warm ``extract_submit --build-index`` run launches a pinned number
    of Spark jobs, and its summary line equals the manifest totals."""
    from studiocr_spark.gen import generate_pages

    inp = str(tmp_path / "pages")
    generate_pages(spark, 40, partitions=2).write.parquet(inp)
    argv = [
        "--input", inp, "--backend", "bitmap", "--n-buckets", "4",
        "--build-index", "--term-buckets", "2", "--master", "local[4]",
    ]
    assert extract_job.main(argv + ["--output", str(tmp_path / "cold")]) == 0

    sc = spark.sparkContext
    out = str(tmp_path / "warm")
    buf = io.StringIO()
    sc.setJobGroup("warm-submit", "warm extract_submit run")
    try:
        with contextlib.redirect_stdout(buf):
            assert extract_job.main(argv + ["--output", out]) == 0
        n_jobs = len(sc.statusTracker().getJobIdsForGroup("warm-submit"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)

    summary = next(
        line for line in map(json.loads, buf.getvalue().splitlines())
        if "n_urls" in line
    )
    totals = read_manifest(spark, out).agg(
        F.sum("n_urls"), F.sum("n_pages"), F.sum("n_blocks")
    ).first()
    assert (summary["n_urls"], summary["n_pages"], summary["n_blocks"]) == tuple(totals)
    assert summary["n_urls"] == 40
    assert summary["completed_buckets"] == 4
    assert summary["pending_buckets"] == 0
    # input schema, the two data writes, the per-bucket audit (3 with
    # AQE), the manifest append, the one manifest read, the blocks schema
    # and the postings segment (8); the manifest itself needs no schema
    # inference, no distinct and no job for the summary
    assert n_jobs <= 17, n_jobs
