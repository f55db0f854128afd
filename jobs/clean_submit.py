"""Production entrypoint for the corpus-cleaning pipeline.

documents(doc_id, text, ...) -> cleaned docs + training shards::

    spark-submit --master yarn --py-files studiocr_spark.zip \
      jobs/clean_submit.py \
      --input s3://bucket/documents --output s3://bucket/clean \
      --lang en --min-quality 0.55 --sample 0.5 \
      --shard-budget 1000000 --shard-buckets 4096

Stages (all declarative, one submitted plan per sink):
  0. OPTIONAL --line-dedup-min-df: cross-document duplicate-line strip
     (line_dedup; digest-keyed shuffles) with text replaced by the
     cleaned lines
  1. language-ID + quality scoring — pure column projections
     (with_lang_id / with_quality), zero shuffles; OPTIONAL --gopher
     adds the passes_gopher conjunction as another pure projection
  2. filter to --lang above --min-quality (and passing Gopher, if on)
  3. exact dedup as min-id window over the content digest: the ONLY
     exchange before the sample filter
  4. OPTIONAL --max-per-source: deterministic per-domain contribution
     cap (top_n_per_group)
  5. deterministic --sample downsample (salted hash of doc_id —
     re-runs and retries keep the identical row set)
  6. OPTIONAL --decontam-eval PATH: drop docs sharing n-grams with the
     eval table (broadcast-guarded)
  7. token-budget shard assignment (hash-bucketed running sums)

Every stage is the same operator the driver gate oracle-checks
(entries clean_corpus / line_dedup / gopher_quality / dedup_exact /
sample_top_n_per_source / sample_stratified / decontaminate_corpus /
pack_shards).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

try:
    import studiocr_spark  # noqa: F401
except ImportError:
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="studiocr_spark corpus clean job")
    ap.add_argument("--input", required=True, help="documents table path")
    ap.add_argument("--output", required=True, help="output root")
    ap.add_argument("--lang", default="en")
    ap.add_argument("--min-quality", type=float, default=0.55)
    ap.add_argument("--sample", type=float, default=1.0,
                    help="deterministic keep fraction after dedup")
    ap.add_argument("--shard-budget", type=int, default=1_000_000,
                    help="tokens per training shard")
    ap.add_argument("--shard-buckets", type=int, default=1024,
                    help="parallel packing buckets (>= executors)")
    ap.add_argument("--line-dedup-min-df", type=int, default=0,
                    help="strip lines appearing in >= N distinct docs "
                         "(0 = off)")
    ap.add_argument("--gopher", action="store_true",
                    help="also require the Gopher quality rules")
    ap.add_argument("--max-per-source", type=int, default=0,
                    help="deterministic per-source contribution cap "
                         "(0 = off)")
    ap.add_argument("--decontam-eval", default=None,
                    help="eval-set parquet to decontaminate against")
    ap.add_argument("--master", default=None)
    args = ap.parse_args(argv)

    from pyspark.sql import functions as F

    from studiocr_spark.operators.dedup import keep_canonical, line_dedup
    from studiocr_spark.operators.sampling import (
        hash_unit,
        pack_sequences,
        top_n_per_group,
    )
    from studiocr_spark.operators.textstats import (
        with_gopher,
        with_lang_id,
        with_quality,
    )
    from studiocr_spark.session import get_spark

    spark = get_spark(app_name="studiocr-clean", master=args.master)
    docs = spark.read.parquet(args.input)

    if args.line_dedup_min_df > 0:
        cleaned_lines = line_dedup(
            docs, min_doc_freq=args.line_dedup_min_df
        ).select("doc_id", F.col("clean_text"))
        docs = (
            docs.drop("text")
            .join(cleaned_lines, "doc_id")
            .withColumnRenamed("clean_text", "text")
        )

    # lang/quality attach as pure projections (no self-joins); the
    # canonical keep is one digest-keyed window — the output here keeps
    # the full document, so text rides that single exchange once
    kept = with_quality(with_lang_id(docs)).filter(
        (F.col("pred_lang") == args.lang)
        & (F.col("quality") >= args.min_quality)
    )
    if args.gopher:
        kept = with_gopher(kept).filter("passes_gopher").drop(
            "passes_gopher"
        )
    canon = keep_canonical(kept).select(
        *docs.columns, "pred_lang", "quality"
    )
    if args.max_per_source > 0:
        canon = top_n_per_group(canon, n=args.max_per_source)
    if args.sample < 1.0:
        canon = canon.filter(hash_unit(F.col("doc_id"), "clean") < args.sample)
    if args.decontam_eval:
        from studiocr_spark.operators.decontam import decontaminate

        ev = spark.read.parquet(args.decontam_eval)
        if "eval_id" not in ev.columns:
            ev = ev.withColumnRenamed("doc_id", "eval_id")
        canon = decontaminate(canon, ev)

    out_docs = f"{args.output}/clean_docs"
    canon.write.mode("overwrite").parquet(out_docs)
    cleaned = spark.read.parquet(out_docs)

    shards = pack_sequences(
        cleaned, budget=args.shard_budget, n_buckets=args.shard_buckets
    )
    shards.write.mode("overwrite").parquet(f"{args.output}/shards")

    n_in = docs.count()
    n_out = cleaned.count()
    shard_stats = shards.agg(
        F.countDistinct("bucket", "shard").alias("n_shards"),
        F.sum("n_tokens").alias("n_tokens"),
    ).first()
    print(
        json.dumps(
            {
                "docs_in": n_in,
                "docs_kept": n_out,
                "keep_rate": round(n_out / max(n_in, 1), 4),
                "n_shards": shard_stats[0],
                "n_tokens": int(shard_stats[1] or 0),
                "output": args.output,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
