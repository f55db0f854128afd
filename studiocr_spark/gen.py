"""Deterministic synthetic pages corpus (the sandbox's Common Crawl).

Generates the input table from BASELINE.json's input_hint::

    pages(url string, warc_ts timestamp, html binary, text string, lang string)

- ``html`` is a glyph-grid PNG rendering of ``text`` (single page) or an
  MPDF multi-page container (~10% of docs, 2-4 pages) — decodable byte-
  exactly without tesseract (functions/glyphs.py), so ``text`` is the
  ground-truth byte-identical extraction target per url.
- Generation is keyed on ``doc_id`` only (seeded RNG per doc), so the
  corpus is identical regardless of partitioning/cluster size.
- Host skew is planted deliberately (HOT_HOST_FRACTION of docs on one
  host) to exercise the salting / AQE-skew path the north_rule mandates.

Distributed: ``spark.range(n)`` -> ``mapInPandas`` — generation itself
scales with the cluster.
"""

from __future__ import annotations

import random
from collections.abc import Iterator
from datetime import datetime, timedelta, timezone

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from .functions.glyphs import render_page
from .schemas import PAGES_SCHEMA
from .sources.decode import pack_mpdf

# Mixed-case words, substring pairs (cat/concatenate/catalog — substring
# search semantics, /root/reference/StudiOCR/ListDocuments.py:215-217),
# short words (<=3 chars: the eval fast path, CustomFunctions.py:55-58),
# punctuation-bearing tokens.
VOCAB = [
    "the", "a", "is", "of", "and", "to", "in", "cat", "dog", "Cat",
    "concatenate", "catalog", "scattered", "Spark", "spark", "SPARK",
    "query", "table", "index", "search", "page", "word", "block",
    "extract", "pipeline", "tesseract", "document", "confidence",
    "bounding", "box", "highlight", "filter", "join", "shuffle",
    "partition", "window", "aggregate", "scan,", "merge.", "sort;",
    "(nested)", "O'Brien", "e.g.", "100%", "[42]", "data-set",
]

HOT_HOST_FRACTION = 0.3  # docs landing on the single hot host
N_COLD_HOSTS = 50
MPDF_FRACTION = 0.1
_EPOCH = datetime(2024, 1, 1, tzinfo=timezone.utc)


def make_doc(doc_id: int, min_words: int = 8, max_words: int = 60) -> dict:
    """Deterministic row for one document (pure function of doc_id).

    Word-count bounds are parameters: correctness corpora use small docs
    (fast tests); throughput/scaling corpora use realistic page sizes
    (hundreds of words — Common-Crawl main text is ~100x the default) so
    benchmarks measure extraction compute, not per-row IPC overhead.
    """
    rng = random.Random(0xC0FFEE ^ doc_id)
    n_words = rng.randint(min_words, max_words)
    text = " ".join(rng.choice(VOCAB) for _ in range(n_words))
    host = 0 if rng.random() < HOT_HOST_FRACTION else 1 + rng.randrange(N_COLD_HOSTS)
    url = f"https://host{host}.example/p{doc_id}"
    lang = rng.choices(["en", "es", "de", "zh"], weights=[80, 8, 8, 4])[0]
    if rng.random() < MPDF_FRACTION:
        words = text.split(" ")
        n_pages = rng.randint(2, 4)
        # split at word boundaries; ' '.join of page texts == text exactly
        per = max(1, len(words) // n_pages)
        chunks = [
            " ".join(words[i : i + per]) for i in range(0, len(words), per)
        ]
        html = pack_mpdf([render_page(c) for c in chunks])
    else:
        html = render_page(text)
    return {
        "url": url,
        "warc_ts": _EPOCH + timedelta(seconds=doc_id),
        "html": html,
        "text": text,
        "lang": lang,
    }


def generate_pages(
    spark: SparkSession,
    n_docs: int,
    partitions: int | None = None,
    min_words: int = 8,
    max_words: int = 60,
) -> DataFrame:
    """Distributed corpus build; returns the pages DataFrame."""
    if partitions is None:
        partitions = max(spark.sparkContext.defaultParallelism, 8)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [
                make_doc(int(i), min_words, max_words) for i in pdf["id"]
            ]
            yield pd.DataFrame(
                rows, columns=["url", "warc_ts", "html", "text", "lang"]
            )

    ids = spark.range(0, n_docs, numPartitions=partitions)
    return ids.mapInPandas(gen, schema=PAGES_SCHEMA)

