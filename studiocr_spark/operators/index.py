"""Inverted index over ocr_blocks — the scale path for keyword search.

Replaces the reference's O(docs x pages x blocks x words) nested-loop scan
(/root/reference/StudiOCR/ListDocuments.py:206-221) with term tables:

- ``postings(term, url, page_no, block_no, left, top, width, height,
  conf)`` — FLAT rows, one per (term, block): equi-joinable, and hot
  terms ("the") spread across partitions naturally instead of forming
  one giant array per term (SURVEY §1.2's array view); AQE skew-join
  splits any residual hot partition.
- ``term_stats(term, url, tf)`` and ``doc_lens(url, dl)`` — BM25's
  serving aggregates, written beside the postings in each segment.

The segment store below is the only layout: a ``SEGMENTS`` manifest
lists immutable segment dirs and the extract buckets each covers; a dir
holds its postings and its ``_aux/`` serving tables. One ``flock`` on
``SEGMENTS.lock`` keeps out a second writer. Every reader goes through
the manifest; a directory without one is not a store.

Terms are lowercased block texts (the reference lowercases both sides of
its search, ListDocuments.py:207,215). Substring queries are served by a
dictionary scan over DISTINCT terms (tiny vs the corpus) followed by a
postings equi-join — see operators/search.py.
"""

from __future__ import annotations

from contextlib import contextmanager as _contextmanager

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

POSTING_COLS = [
    "url", "page_no", "block_no", "left", "top", "width", "height", "conf"
]


def build_postings(ocr_blocks: DataFrame) -> DataFrame:
    """Flat postings table from ocr_blocks (narrow: project + filter only).

    Empty-text structural rows are indexed under the empty term '' —
    harmless (no query produces an empty search word after split()) and
    keeps the index a faithful projection of the block table.
    """
    return ocr_blocks.select(
        F.lower(F.col("text")).alias("term"), *POSTING_COLS
    )


def build_term_stats(postings: DataFrame) -> DataFrame:
    """(term, url, tf): per-document term frequencies — the BM25 serving
    table, aggregated ONCE at index-build time so query plans skip the
    corpus-wide groupBy (round-4 verdict task 6)."""
    return postings.groupBy("term", "url").agg(
        F.count("*").cast("long").alias("tf")
    )


def build_doc_lens(postings: DataFrame) -> DataFrame:
    """(url, dl): document lengths in tokens — BM25's normalizer,
    aggregated once at index-build time."""
    return postings.groupBy("url").agg(F.count("*").cast("long").alias("dl"))


# aux datasets live INSIDE the segment dir under an _-prefixed subdir:
# Spark/Hadoop scans of the segment root skip _-paths (same convention
# as _SUCCESS), so the postings scan never sees them, while a direct
# read of the subdir works. Extract buckets partition urls disjointly
# across segments, so (term, url) and (url) rows never split across
# segments — the union of per-segment aux tables IS the corpus table,
# no re-aggregation on read.
AUX_DIR = "_aux"
TERM_STATS = "term_stats"
DOC_LENS = "doc_lens"


def _write_segment_dir(
    postings: DataFrame, path: str, term_buckets: int
) -> None:
    """Persist one segment dir: the postings partition-clustered by term
    hash, plus the BM25 serving tables under ``path/_aux/``.

    Parquet fallback for the sandbox; production DDL (Iceberg) is
    ``PARTITIONED BY (bucket(N, term))`` so search joins are
    storage-partitioned (shuffle-free). We emulate with repartition on a
    term-hash bucket column so files are term-clustered and min/max
    stats prune scans.

    The aux tables (:func:`build_term_stats`, :func:`build_doc_lens`)
    pay the two corpus aggregations once per build instead of once per
    query. They read the JUST-WRITTEN parquet rather than the input
    plan (round-6 ADVICE fix: a computed ``postings`` subplan — e.g. an
    extraction chain — used to execute three times per build, once per
    reference); the re-read also prunes to the two columns the
    aggregations touch and guarantees the aux tables describe exactly
    what was persisted.

    A bare dir is not a store: readers only see it once
    :func:`write_postings_segment` or :func:`compact_postings` lists it
    in SEGMENTS.
    """
    import os

    (
        postings.withColumn(
            "term_bucket", F.pmod(F.xxhash64("term"), F.lit(term_buckets))
        )
        .repartition(term_buckets, "term_bucket")
        .sortWithinPartitions("term")
        .write.mode("overwrite")
        .parquet(path)
    )
    written = postings.sparkSession.read.parquet(path).select("term", "url")
    # term-clustered like the postings themselves, so a query's pushed
    # IN(term, ...) filter prunes row groups by min/max
    (
        build_term_stats(written)
        .repartition(term_buckets, "term")
        .sortWithinPartitions("term")
        .write.mode("overwrite")
        .parquet(os.path.join(path, AUX_DIR, TERM_STATS))
    )
    build_doc_lens(written).write.mode("overwrite").parquet(
        os.path.join(path, AUX_DIR, DOC_LENS)
    )


# ---------------------------------------------------------------------------
# Segmented postings store: incremental index maintenance.
#
# A full index rebuild after every incremental extract run re-reads the
# ENTIRE blocks corpus — at 10^12 documents that converts a 0.1% delta
# append into a 100% index job. Lucene-style segments fix the shape: each
# incremental run writes its delta as a new immutable segment dir, an
# atomically-replaced SEGMENTS manifest lists the live segments, readers
# union the listed segments, and an explicit compaction merges them back
# to one. Write-audit-publish: a crash mid-segment-write leaves an
# unlisted (invisible) dir; a crash before publish loses no committed
# data; vacuum removes unlisted dirs.
# ---------------------------------------------------------------------------

SEGMENTS_FILE = "SEGMENTS"
LOCK_FILE = "SEGMENTS.lock"


def _manifest(root: str) -> list[tuple[str, str]]:
    """``(segment, coverage)`` per SEGMENTS line, in publish order ([]
    when none). ``coverage`` is ``ALL`` or comma-joined sorted extract
    bucket ids; a line without it raises ``ValueError``."""
    import os

    path = os.path.join(root, SEGMENTS_FILE)
    if not os.path.exists(path):
        return []
    entries = []
    with open(path) as f:
        for fields in (line.split() for line in f):
            if len(fields) == 1:
                raise ValueError(
                    f"{path}: segment {fields[0]} has no coverage field"
                )
            if fields:
                entries.append((fields[0], fields[1]))
    return entries


def list_segments(root: str) -> list[str]:
    """Live segment dir names, in publish order ([] when none)."""
    return [seg for seg, _ in _manifest(root)]


def _coverage_field(buckets: list[int] | str) -> str:
    return (
        "ALL" if buckets == "ALL"
        else ",".join(str(b) for b in sorted(set(buckets)))
    )


@_contextmanager
def segments_writer_lock(root: str):
    """Single-writer lock for SEGMENTS mutations: the read-modify-write
    (append a segment; compaction's read-merge-publish) can lose a
    segment under two concurrent publishers, so a second writer fails
    fast instead.

    An exclusive non-blocking ``flock`` on ``root/SEGMENTS.lock``, the
    way SQLite keeps out a second writer. The kernel drops it when the
    holder's file closes, kill -9 and OOM included: a crashed writer
    leaves nothing to reclaim, and the file's content means nothing."""
    import fcntl
    import os

    os.makedirs(root, exist_ok=True)
    lock = os.path.join(root, LOCK_FILE)
    # Never unlink the lock file: a writer that opened the old inode and
    # one that created a new file at the path would both hold "the" lock.
    with open(lock, "a") as f:
        try:
            fcntl.flock(f, fcntl.LOCK_EX | fcntl.LOCK_NB)
        except BlockingIOError:
            raise RuntimeError(
                f"segments writer lock held ({lock}) — single-writer "
                f"protocol; another writer is publishing"
            ) from None
        yield


def _publish_segments(root: str, entries: list[tuple[str, str]]) -> None:
    """Atomically replace the SEGMENTS manifest with ``(segment,
    coverage)`` entries: a segment and its coverage go live in one
    ``os.replace``. Callers hold :func:`segments_writer_lock`.

    Segments dropped by this publish (live before, unlisted after —
    i.e. compaction victims) get their dir mtime touched to NOW, so
    :func:`vacuum_segments`' age gate measures time-since-UNLISTING,
    not time-since-creation (round-5 ADVICE fix: an hour-old segment
    replaced seconds ago must survive the grace window for in-flight
    readers holding the previous manifest)."""
    import os

    previously_live = set(list_segments(root))
    # one fixed name: the lock admits one publisher, and the next
    # publish overwrites whatever a crash left here
    tmp = os.path.join(root, ".SEGMENTS.tmp")
    with open(tmp, "w") as f:
        f.write("".join(f"{seg} {cov}\n" for seg, cov in entries))
    os.replace(tmp, os.path.join(root, SEGMENTS_FILE))  # atomic commit
    for seg in previously_live - {seg for seg, _ in entries}:
        try:
            os.utime(os.path.join(root, seg))  # stamp the unlist time
        except OSError:
            pass  # already gone — nothing for vacuum to age-gate


def segment_coverage(root: str) -> set[int] | None:
    """Union of extract buckets covered by the LIVE segments.

    ``None`` means every bucket is covered: at least one live segment is
    marked ALL (full build / compaction of an ALL store). Every publish
    writes a segment's coverage on its SEGMENTS line, so a line without
    it raises ``ValueError`` instead of passing for ALL. Callers diff
    the completion manifest against this to find buckets that were
    completed but never indexed (a crash between manifest append and
    segment publish, or a run without --build-index)."""
    covered: set[int] = set()
    for _, cov in _manifest(root):
        if cov == "ALL":
            return None
        covered.update(int(b) for b in cov.split(","))
    return covered


def write_postings_segment(
    postings: DataFrame,
    root: str,
    term_buckets: int,
    buckets: list[int] | str = "ALL",
) -> str:
    """Write ``postings`` as a new segment under ``root`` and publish it.

    Additive: existing segments are untouched and stay readable
    throughout. ``buckets`` records the segment's extract-bucket
    coverage (see :func:`segment_coverage`); incremental callers pass
    the bucket ids they indexed. Returns the segment dir name.
    """
    import os
    import uuid

    seg = f"seg_{uuid.uuid4().hex[:12]}"
    _write_segment_dir(
        postings, os.path.join(root, seg), term_buckets=term_buckets
    )
    with segments_writer_lock(root):
        _publish_segments(
            root, _manifest(root) + [(seg, _coverage_field(buckets))]
        )
    return seg


def read_postings(spark, root: str) -> DataFrame:
    """Union of all live segments (single multi-path parquet scan)."""
    return spark.read.parquet(*_segment_paths(root))


def _segment_paths(root: str, *sub: str) -> list[str]:
    """``root/<seg>/<sub...>`` for every live segment; a dir without a
    SEGMENTS manifest is not a store and fails here."""
    import os

    segs = list_segments(root)
    if not segs:
        raise FileNotFoundError(
            f"no postings store at {root}: no {SEGMENTS_FILE} manifest"
        )
    return [os.path.join(root, s, *sub) for s in segs]


def read_term_stats(spark, root: str) -> DataFrame:
    """(term, url, tf) for the live index: the union of every segment's
    materialized aux table."""
    return spark.read.parquet(*_segment_paths(root, AUX_DIR, TERM_STATS))


def read_doc_lens(spark, root: str) -> DataFrame:
    """(url, dl) for the live index: the union of every segment's
    materialized aux table."""
    return spark.read.parquet(*_segment_paths(root, AUX_DIR, DOC_LENS))


def compact_postings(spark, root: str, term_buckets: int) -> str:
    """Merge every live segment into one and publish it as the only
    segment. Old segment dirs are left on disk for in-flight readers /
    time travel until :func:`vacuum_segments`. Returns the new name.

    Run this when the segment count makes the multi-path scan's file
    listing or small-file overhead noticeable (hundreds of segments),
    or on a schedule — the same economics as Iceberg table compaction.

    The writer lock is held across read-merge-publish: a segment
    published by a concurrent appender between compaction's read and
    its publish would otherwise be dropped from the manifest (the
    round-4 ADVICE race) — with the lock, that appender fails fast
    instead.
    """
    import os
    import uuid

    with segments_writer_lock(root):
        merged = read_postings(spark, root)
        coverage = segment_coverage(root)
        seg = f"seg_compacted_{uuid.uuid4().hex[:12]}"
        _write_segment_dir(
            merged, os.path.join(root, seg), term_buckets=term_buckets
        )
        cov = _coverage_field("ALL" if coverage is None else coverage)
        _publish_segments(root, [(seg, cov)])
    return seg


def vacuum_segments(root: str, min_age_seconds: float = 3600.0) -> int:
    """Delete UNLISTED segment dirs older than ``min_age_seconds``;
    returns the count removed.

    The age floor (round-4 ADVICE fix) is what makes "old dirs are left
    for in-flight readers" true: an immediate vacuum after compaction
    deleted dirs a reader holding the previous SEGMENTS was still
    scanning. The clock starts at UNLISTING, not creation —
    :func:`_publish_segments` touches each dir it drops from the
    manifest (round-5 ADVICE fix), so a segment that lived for a day
    and was compacted away a minute ago still gets the full grace
    window. Never-published dirs (crash mid-write) age from their
    last write, which is the correct bound for them. Run vacuum on a
    delay/schedule; ``min_age_seconds=0`` restores the immediate
    behavior for tests and teardown."""
    import os
    import shutil
    import time

    live = set(list_segments(root))
    now = time.time()
    dropped = 0
    for d in os.listdir(root):
        full = os.path.join(root, d)
        if (
            d.startswith("seg_")
            and d not in live
            and os.path.isdir(full)
            and now - os.path.getmtime(full) >= min_age_seconds
        ):
            shutil.rmtree(full)
            dropped += 1
    return dropped
