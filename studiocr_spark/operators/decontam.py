"""Benchmark decontamination: flag training docs overlapping an eval set.

Standard LLM-corpus hygiene (the n-gram-overlap decontamination used by
GPT-3/Llama-style training pipelines, public method): a training
document is contaminated when it shares at least ``MIN_SHARED`` distinct
word ``NGRAM_N``-grams with any benchmark/eval document.

Scale shape — the part that matters at 100 TB: the EVAL side is small by
nature (benchmarks are thousands of docs, the corpus is billions), so
its shingle table is broadcast and the whole check is a NARROW
broadcast-hash join over the corpus shingle stream + a partial-agg
count: zero shuffles of corpus bytes (plan-pinned in
tests/test_decontam.py). The corpus side reuses the Arrow shingler from
the dedup family (one pass, no per-row Python). The broadcast is
GUARDED (round 4): when the eval table exceeds
``MAX_BROADCAST_EVAL_DOCS`` the join falls back to a plain shuffle join
instead of OOM-ing on a benchmark suite that is not actually small.

No reference counterpart (the reference is a desktop OCR app); the
operator belongs to the training-data-pipeline family alongside
dedup/textstats.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import shingle_table

NGRAM_N = 3
MIN_SHARED = 2
# 50k eval docs x a few hundred n-grams each ~= a low-hundreds-MB
# broadcast, the practical ceiling
MAX_BROADCAST_EVAL_DOCS = 50_000


def contamination_pairs(docs: DataFrame, eval_docs: DataFrame) -> DataFrame:
    """(doc_id, eval_id, shared_ngrams): training docs (``doc_id``,
    ``text``) sharing at least ``MIN_SHARED`` distinct word
    ``NGRAM_N``-grams with an eval doc (``eval_id``, ``text``).

    Both sides shingle with the same tokenizer as the dedup family
    (distinct n-grams per doc), so ``shared_ngrams`` counts DISTINCT
    overlapping n-grams — a doc repeating one benchmark phrase ten
    times still counts it once.

    The broadcast guards the scale precondition: it counts
    ``eval_docs`` (a cheap count on the benchmark table — no shingling)
    and broadcasts only when it has at most ``MAX_BROADCAST_EVAL_DOCS``
    rows; past that it falls back to a plain shuffle join instead of
    OOM-ing the driver/executors.
    """
    d = shingle_table(docs, NGRAM_N)
    e = shingle_table(
        eval_docs.select(F.col("eval_id").alias("doc_id"), "text"), NGRAM_N
    ).select(F.col("doc_id").alias("eval_id"), "shingle")
    if eval_docs.count() <= MAX_BROADCAST_EVAL_DOCS:
        e = F.broadcast(e)
    return (
        d.join(e, "shingle")
        .groupBy("doc_id", "eval_id")
        .agg(F.count("*").cast("long").alias("shared_ngrams"))
        .filter(F.col("shared_ngrams") >= MIN_SHARED)
    )


def decontaminate(docs: DataFrame, eval_docs: DataFrame) -> DataFrame:
    """``docs`` minus every contaminated document (left-anti against the
    flagged ids). Keeps all caller columns."""
    flagged = contamination_pairs(docs, eval_docs).select("doc_id").distinct()
    return docs.join(flagged, "doc_id", "left_anti")
