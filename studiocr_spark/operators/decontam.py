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


def contamination_pairs(
    docs: DataFrame,
    eval_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    eval_id_col: str = "eval_id",
) -> DataFrame:
    """(doc_id, eval_id, shared_ngrams): training docs sharing at least
    ``MIN_SHARED`` distinct word ``NGRAM_N``-grams with an eval doc.

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
    d = shingle_table(
        docs.select(F.col(id_col).alias("doc_id"), F.col(text_col)),
        text_col,
        NGRAM_N,
    ).select(F.col("doc_id").alias(id_col), "shingle")
    e = shingle_table(
        eval_docs.select(
            F.col(eval_id_col).alias("doc_id"), F.col(text_col)
        ),
        text_col,
        NGRAM_N,
    ).select(F.col("doc_id").alias(eval_id_col), "shingle")
    if eval_docs.count() <= MAX_BROADCAST_EVAL_DOCS:
        e = F.broadcast(e)
    return (
        d.join(e, "shingle")
        .groupBy(id_col, eval_id_col)
        .agg(F.count("*").cast("long").alias("shared_ngrams"))
        .filter(F.col("shared_ngrams") >= MIN_SHARED)
    )


def decontaminate(
    docs: DataFrame,
    eval_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """``docs`` minus every contaminated document (left-anti against the
    flagged ids). Keeps all caller columns."""
    flagged = contamination_pairs(
        docs, eval_docs, text_col, id_col=id_col
    ).select(id_col).distinct()
    return docs.join(flagged, id_col, "left_anti")
