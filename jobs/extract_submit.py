"""Production entrypoint for the extraction job.

Submit::

    spark-submit --master yarn \
      --py-files studiocr_spark.zip \
      --conf spark.sql.adaptive.enabled=true \
      --conf spark.executorEnv.OMP_THREAD_LIMIT=1 \
      jobs/extract_submit.py \
      --input s3://bucket/pages --output s3://bucket/ocr \
      --n-buckets 4096 --backend tesseract

Build the zip with ``python -c "from studiocr_spark.session import
build_pyfiles_zip; print(build_pyfiles_zip('studiocr_spark.zip'))"``.

The job is resumable: re-submitting with the same --output continues from
the completion manifest (streaming/incremental.py); crashed buckets are
reprocessed idempotently via dynamic partition overwrite.

With --build-index the postings index is maintained INCREMENTALLY: each
run writes only the buckets it completed as a new immutable segment
(operators/index.py segmented store, atomic SEGMENTS publish), so index
cost is proportional to the delta, not the corpus. Query through
``read_postings(spark, out + "/postings")``. Run --compact-index
periodically to merge segments and vacuum the replaced dirs.

The segment store keeps its SEGMENTS manifest (segments and their
bucket coverage) and its flock writer lock with local file I/O, so
--build-index and --compact-index need a local --output: a plain path
or a ``file://`` URI (the job turns the latter into a plain path). Any
other scheme with either flag stops the job before Spark starts.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
from urllib.parse import urlparse

# under spark-submit, --py-files puts the package on the driver path; for
# a bare `python jobs/extract_submit.py` run, the repo root does
try:
    import studiocr_spark  # noqa: F401
except ImportError:
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="studiocr_spark extract job")
    ap.add_argument("--input", required=True, help="pages table path")
    ap.add_argument("--output", required=True, help="output root")
    ap.add_argument("--backend", default="tesseract",
                    choices=["tesseract", "bitmap"])
    ap.add_argument("--n-buckets", type=int, default=1024,
                    help="checkpoint/lineage buckets (>= 10 x executors)")
    ap.add_argument("--build-index", action="store_true",
                    help="also maintain the postings inverted index "
                         "(incremental: each run indexes only the "
                         "buckets it completed, as a new segment)")
    ap.add_argument("--compact-index", action="store_true",
                    help="merge all postings segments into one and "
                         "vacuum the old ones")
    ap.add_argument("--term-buckets", type=int, default=256)
    ap.add_argument("--vacuum-age-seconds", type=float, default=3600.0,
                    help="only vacuum replaced segment dirs older than "
                         "this (grace window for in-flight readers)")
    ap.add_argument("--master", default=None,
                    help="override master (default: from spark-submit)")
    args = ap.parse_args(argv)
    out = urlparse(args.output)
    if out.scheme == "file":
        args.output = out.path
    elif out.scheme and (args.build_index or args.compact_index):
        ap.error(
            "--build-index and --compact-index need a local --output (a "
            f"plain path or file://), got {out.scheme}://: the index "
            "store writes its files with local file I/O"
        )

    from pyspark.sql import functions as F

    from studiocr_spark.operators.index import (
        build_postings,
        compact_postings,
        list_segments,
        segment_coverage,
        vacuum_segments,
        write_postings_segment,
    )
    from studiocr_spark.session import get_spark
    from studiocr_spark.streaming.incremental import (
        completed_buckets,
        run_checkpointed_extract,
    )

    spark = get_spark(app_name="studiocr-extract", master=args.master)
    pages = spark.read.parquet(args.input)

    manifest = run_checkpointed_extract(
        spark, pages, args.output,
        n_buckets=args.n_buckets, backend=args.backend,
    )
    # the one manifest read after the run: it serves both the pending
    # count and the --build-index reconciliation below
    completed = completed_buckets(spark, args.output)
    still_pending = set(range(args.n_buckets)) - completed
    if manifest is not None:
        # the appended rows are a local relation: collecting them runs no job
        rows = manifest.collect()
        print(json.dumps({
            "completed_buckets": len(rows),
            "n_urls": sum(r.n_urls for r in rows),
            "n_pages": sum(r.n_pages for r in rows),
            "n_blocks": sum(r.n_blocks for r in rows),
            "pending_buckets": len(still_pending),
        }))
    else:
        print(json.dumps({"completed_buckets": 0,
                          "pending_buckets": len(still_pending),
                          "note": "nothing pending; already complete"}))

    index_root = f"{args.output}/postings"
    if args.build_index:
        # incremental with COVERAGE reconciliation (round-4 ADVICE fix):
        # index every manifest-complete bucket not covered by a live
        # segment — not merely this run's completions. That closes the
        # two permanent-gap paths: a crash between the manifest append
        # and the segment publish, and buckets completed by runs
        # invoked without --build-index. The blocks table is
        # partitionBy(bucket), so the isin filter prunes at the scan
        # and a 0.1% delta still never re-reads the whole corpus.
        # ``completed`` is every manifest bucket, so buckets an earlier
        # run completed under a larger --n-buckets are indexed too.
        covered = segment_coverage(index_root)
        # None: a live ALL segment covers everything
        to_index = set() if covered is None else completed - covered
        if to_index:
            blocks = spark.read.parquet(f"{args.output}/ocr_blocks").filter(
                F.col("bucket").isin(sorted(to_index))
            )
            seg = write_postings_segment(
                build_postings(blocks), index_root,
                term_buckets=args.term_buckets,
                buckets=sorted(to_index),
            )
            print(json.dumps({
                "postings": "segment_added", "segment": seg,
                "buckets_indexed": len(to_index),
                "segments_live": len(list_segments(index_root)),
            }))
        else:
            print(json.dumps({
                "postings": "up_to_date",
                "segments_live": len(list_segments(index_root)),
            }))
    if args.compact_index:
        seg = compact_postings(spark, index_root,
                               term_buckets=args.term_buckets)
        # vacuum is age-gated and SEPARATE from compaction: the dirs
        # compaction replaced stay readable for in-flight readers until
        # they age past --vacuum-age-seconds (0 = immediate, teardown)
        dropped = vacuum_segments(
            index_root, min_age_seconds=args.vacuum_age_seconds
        )
        print(json.dumps({
            "postings": "compacted", "segment": seg,
            "segments_vacuumed": dropped,
            "vacuum_age_seconds": args.vacuum_age_seconds,
        }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
