"""Segmented postings store: incremental index maintenance.

A full rebuild after every incremental extract converts a 0.1% delta
append into a 100% index job at corpus scale; segments make index cost
proportional to the delta. These tests pin the invariant that matters:
the union of per-run segments is EXACTLY the index a full rebuild would
produce — before and after compaction — and search results agree.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from studiocr_spark.operators.index import (
    _write_segment_dir,
    build_postings,
    compact_postings,
    list_segments,
    read_postings,
    vacuum_segments,
    write_postings_segment,
)


def _canon(df):
    return sorted(
        tuple(r) for r in df.select(
            "term", "url", "page_no", "block_no"
        ).collect()
    )


def test_incremental_segments_equal_full_rebuild(spark, extracted, tmp_path):
    """Two per-delta segments (split by url bucket, the extract job's
    checkpoint unit) must read back identical to one full build, and
    compaction must preserve every row while dropping old segments."""
    _, _, ocr_blocks = extracted
    blocks = ocr_blocks.withColumn(
        "bucket", F.pmod(F.xxhash64("url"), F.lit(2)).cast("int")
    )
    root = str(tmp_path / "postings_seg")
    full = str(tmp_path / "postings_full")

    # run 1 completes bucket 0, run 2 bucket 1 — mirror the job's
    # per-run delta indexing
    for b in (0, 1):
        delta = build_postings(
            blocks.filter(F.col("bucket") == b).drop("bucket")
        )
        write_postings_segment(delta, root, term_buckets=4)
    assert len(list_segments(root)) == 2

    write_postings_segment(build_postings(ocr_blocks), full, term_buckets=4)
    expected = _canon(read_postings(spark, full))
    assert _canon(read_postings(spark, root)) == expected

    # search parity over the segmented index
    from studiocr_spark.operators.search import bm25_search

    seg_hits = bm25_search(read_postings(spark, root), "cat dog")
    full_hits = bm25_search(read_postings(spark, full), "cat dog")
    assert sorted((r.url, r.score) for r in seg_hits.collect()) == sorted(
        (r.url, r.score) for r in full_hits.collect()
    )

    # compact: one live segment, same rows, old dirs vacuumable
    compact_postings(spark, root, term_buckets=4)
    assert len(list_segments(root)) == 1
    assert _canon(read_postings(spark, root)) == expected
    # age-gated vacuum (round-4): fresh replaced dirs survive the
    # default grace window for in-flight readers, then a zero-age
    # vacuum (test/teardown mode) removes them
    assert vacuum_segments(root) == 0
    assert vacuum_segments(root, min_age_seconds=0) == 2
    assert _canon(read_postings(spark, root)) == expected


def test_unpublished_segment_is_invisible(spark, extracted, tmp_path):
    """Write-audit-publish: a segment dir written but not yet listed in
    SEGMENTS (crash before publish) must not appear to readers, and
    vacuum must remove it."""
    _, _, ocr_blocks = extracted
    root = str(tmp_path / "postings_wap")
    p = build_postings(ocr_blocks)
    write_postings_segment(p.limit(10), root, term_buckets=2)
    # simulate a crashed writer: data written, publish never happened
    _write_segment_dir(p.limit(5), f"{root}/seg_orphan", term_buckets=2)
    assert read_postings(spark, root).count() == 10
    assert vacuum_segments(root, min_age_seconds=0) == 1
    assert read_postings(spark, root).count() == 10


def test_segment_coverage_and_writer_lock(spark, extracted, tmp_path):
    """Round-4: segments record their extract-bucket coverage; the
    SEGMENTS read-modify-write is single-writer via a lock file."""
    import os

    import pytest

    from studiocr_spark.operators.index import (
        SEGMENTS_FILE,
        segment_coverage,
        segments_writer_lock,
    )

    _, _, ocr_blocks = extracted
    p = build_postings(ocr_blocks)

    root = str(tmp_path / "cov")
    write_postings_segment(p.limit(5), root, term_buckets=2, buckets=[0, 1])
    write_postings_segment(p.limit(5), root, term_buckets=2, buckets=[2])
    assert segment_coverage(root) == {0, 1, 2}
    # compaction merges explicit coverage (lock held across RMW)
    compact_postings(spark, root, term_buckets=2)
    assert len(list_segments(root)) == 1
    assert segment_coverage(root) == {0, 1, 2}
    # an ALL segment (full build) makes total coverage
    # unknown-but-complete
    write_postings_segment(p.limit(5), root, term_buckets=2)  # default ALL
    assert segment_coverage(root) is None
    compact_postings(spark, root, term_buckets=2)
    assert segment_coverage(root) is None  # ALL propagates

    # a held lock makes a concurrent publisher fail fast, not lose data
    root2 = str(tmp_path / "lock")
    with segments_writer_lock(root2):
        with pytest.raises(RuntimeError, match="writer lock"):
            write_postings_segment(
                p.limit(3), root2, term_buckets=2, buckets=[9]
            )
    # lock released -> publish works again
    write_postings_segment(p.limit(3), root2, term_buckets=2, buckets=[9])
    assert segment_coverage(root2) == {9}
    # every publish writes a segment's coverage on its SEGMENTS line, so
    # a line without it is damage, never "covers every bucket"
    seg = list_segments(root2)[0]
    with open(os.path.join(root2, SEGMENTS_FILE), "w") as f:
        f.write(f"{seg}\n")
    with pytest.raises(ValueError, match=seg):
        segment_coverage(root2)


def test_writer_lock_dies_with_its_holder(spark, extracted, tmp_path):
    """The writer lock is a kernel flock: a holder killed with SIGKILL
    leaves nothing to reclaim, a leftover lock file's content never
    blocks, and a held lock makes a publisher fail fast without
    touching SEGMENTS."""
    import fcntl
    import os
    import signal
    import subprocess
    import sys

    import pytest

    from studiocr_spark.operators.index import LOCK_FILE, SEGMENTS_FILE

    _, _, ocr_blocks = extracted
    p = build_postings(ocr_blocks).limit(3)
    root = str(tmp_path / "flock")
    os.makedirs(root)
    lock = os.path.join(root, LOCK_FILE)

    # a child takes the lock through the real code path and is killed
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    child = subprocess.Popen(
        [sys.executable, "-c",
         "import sys, time\n"
         "from studiocr_spark.operators.index import segments_writer_lock\n"
         "with segments_writer_lock(sys.argv[1]):\n"
         "    print('held', flush=True)\n"
         "    time.sleep(600)\n",
         root],
        cwd=repo, stdout=subprocess.PIPE, text=True,
    )
    try:
        assert child.stdout.readline().strip() == "held"
        with pytest.raises(RuntimeError, match="writer lock"):
            write_postings_segment(p, root, term_buckets=2, buckets=[0])
    finally:
        child.send_signal(signal.SIGKILL)
        child.wait()
        child.stdout.close()
    seg = write_postings_segment(p, root, term_buckets=2, buckets=[0])
    assert list_segments(root) == [seg]

    # a leftover lock file from another machine does not block
    with open(lock, "w") as f:
        f.write("host=elsewhere\n")
    seg2 = write_postings_segment(p, root, term_buckets=2, buckets=[1])
    assert list_segments(root) == [seg, seg2]
    assert os.path.exists(lock)  # never unlinked

    # another open of the lock holds it: the publisher fails fast,
    # SEGMENTS is untouched and the unpublished dir waits for vacuum
    with open(os.path.join(root, SEGMENTS_FILE), "rb") as f:
        before = f.read()
    with open(lock, "a") as holder:
        fcntl.flock(holder, fcntl.LOCK_EX | fcntl.LOCK_NB)
        with pytest.raises(RuntimeError, match="writer lock"):
            write_postings_segment(p, root, term_buckets=2, buckets=[2])
    with open(os.path.join(root, SEGMENTS_FILE), "rb") as f:
        assert f.read() == before
    # the two refused publishes each left one unlisted dir
    assert vacuum_segments(root, min_age_seconds=0) == 2
    assert list_segments(root) == [seg, seg2]


def test_publish_overwrites_a_leftover_temp_manifest(
    spark, extracted, tmp_path
):
    """A crash between the temp manifest write and its rename leaves
    ``.SEGMENTS.tmp``; the next publish overwrites it, so no temp
    manifest outlives a publish."""
    import glob
    import os

    from studiocr_spark.operators.index import segment_coverage

    _, _, ocr_blocks = extracted
    p = build_postings(ocr_blocks).limit(3)
    root = str(tmp_path / "tmp_manifest")
    seg = write_postings_segment(p, root, term_buckets=2, buckets=[0])
    with open(os.path.join(root, ".SEGMENTS.tmp"), "w") as f:
        f.write("junk junk junk\nseg_missing\n" * 100)
    seg2 = write_postings_segment(p, root, term_buckets=2, buckets=[3, 1])
    assert glob.glob(os.path.join(root, ".SEGMENTS*")) == []
    assert list_segments(root) == [seg, seg2]
    assert segment_coverage(root) == {0, 1, 3}


def test_vacuum_ages_from_unlisting_not_creation(spark, extracted, tmp_path):
    """Round-5 ADVICE fix (medium): the vacuum grace window must start
    when a segment is UNLISTED, not when it was created — an hour-old
    segment replaced by compaction seconds ago is exactly the dir an
    in-flight reader may still be scanning."""
    import os
    import time

    from studiocr_spark.operators.index import vacuum_segments

    _, _, ocr_blocks = extracted
    p = build_postings(ocr_blocks)
    root = str(tmp_path / "age")
    seg = write_postings_segment(p.limit(5), root, term_buckets=2)
    # backdate the segment dir: created 2h ago
    old = time.time() - 7200
    os.utime(os.path.join(root, seg), (old, old))
    # compaction unlists it NOW; _publish_segments stamps the unlist time
    compact_postings(spark, root, term_buckets=2)
    assert seg not in list_segments(root)
    # a 1h grace window must keep the just-unlisted dir...
    assert vacuum_segments(root, min_age_seconds=3600) == 0
    assert os.path.isdir(os.path.join(root, seg))
    # ...and min_age=0 still removes it for teardown
    assert vacuum_segments(root, min_age_seconds=0) == 1
    assert not os.path.isdir(os.path.join(root, seg))


def test_build_index_reconciles_coverage_gaps(spark, extract_job, tmp_path):
    """Round-4 ADVICE (medium) fix end-to-end: --build-index indexes
    every manifest-complete bucket NOT covered by a live segment — the
    pre-fix code printed 'up_to_date' whenever a segment existed and
    nothing was newly completed, leaving a permanent index gap for
    buckets completed by runs without --build-index (or by a run that
    crashed between manifest append and segment publish)."""
    from studiocr_spark.gen import generate_pages
    from studiocr_spark.operators.index import segment_coverage
    from studiocr_spark.streaming.incremental import read_manifest

    job = extract_job
    inp = str(tmp_path / "pages")
    out = str(tmp_path / "ocr")
    generate_pages(spark, 30, partitions=2).write.parquet(inp)
    # run 1: corpus completes WITHOUT --build-index
    assert job.main([
        "--input", inp, "--output", out, "--backend", "bitmap",
        "--n-buckets", "4", "--master", "local[4]",
    ]) == 0
    # a partial segment exists (e.g. an earlier indexer die mid-corpus):
    # covers bucket 0 only
    blocks = spark.read.parquet(f"{out}/ocr_blocks")
    write_postings_segment(
        build_postings(blocks.filter(F.col("bucket") == 0)),
        f"{out}/postings", term_buckets=2, buckets=[0],
    )
    # run 2 with --build-index: nothing newly completed, but coverage
    # reconciliation must index the remaining buckets
    assert job.main([
        "--input", inp, "--output", out, "--backend", "bitmap",
        "--n-buckets", "4", "--build-index", "--term-buckets", "2",
        "--master", "local[4]",
    ]) == 0
    completed = {
        r.bucket
        for r in read_manifest(spark, out).select("bucket").distinct().collect()
    }
    assert segment_coverage(f"{out}/postings") == completed
    got = _canon(read_postings(spark, f"{out}/postings"))
    assert got == _canon(build_postings(blocks))
    # idempotent: a third run adds nothing
    assert job.main([
        "--input", inp, "--output", out, "--backend", "bitmap",
        "--n-buckets", "4", "--build-index", "--term-buckets", "2",
        "--master", "local[4]",
    ]) == 0
    assert len(list_segments(f"{out}/postings")) == 2


def test_build_index_on_file_uri_output(spark, extract_job, tmp_path):
    """--build-index on a ``file://`` output runs to the end and indexes
    the same hits as a plain-path output (the segment store's local
    file I/O once failed on the URI after the extract had committed);
    a remote scheme with --build-index stops before Spark starts."""
    import pytest

    from studiocr_spark.gen import generate_pages
    from studiocr_spark.operators.search import bm25_search

    inp = str(tmp_path / "pages")
    generate_pages(spark, 20, partitions=2).write.parquet(inp)
    argv = [
        "--input", inp, "--backend", "bitmap", "--n-buckets", "2",
        "--build-index", "--term-buckets", "2", "--master", "local[4]",
    ]
    plain, uri = tmp_path / "plain", tmp_path / "uri"
    assert extract_job.main(argv + ["--output", str(plain)]) == 0
    assert extract_job.main(argv + ["--output", uri.as_uri()]) == 0

    def hits(root):
        df = bm25_search(read_postings(spark, f"{root}/postings"), "cat dog")
        return sorted(map(tuple, df.collect()))

    assert hits(uri) == hits(plain) != []
    with pytest.raises(SystemExit) as stop:
        extract_job.main(argv + ["--output", "s3://bucket/ocr"])
    assert stop.value.code == 2
