"""Declared StructTypes shared across modules: the input corpus and the
typed page aggregate.

Schemas are fixed and explicit — never inferred on the hot path. The
other tables declare their shape where they are built: the extract UDF's
output and block rows in operators/extract.py, the manifest in
streaming/incremental.py, the postings projection in operators/index.py.
The data model maps the reference's three SQLite tables + pickled
per-page aggregate (StudiOCR db.py:22-61, OcrPageData.py:38-62) onto
columnar tables keyed by natural keys:

- SQLite autoincrement ids (db.py:23,44,53) are nondeterministic under
  parallel insert; we key by ``url`` (document), ``(url, page_no)`` (page)
  and ``(url, page_no, block_no)`` (block), where ``block_no`` is the
  original tesseract parallel-array index (stable; survives the whitespace
  filter with gaps — intentional, it preserves provenance).
- The pickled ``OcrPageData`` blob (OcrEngine.py:129) becomes the typed
  ``PAGE_STATS`` struct — queryable, prunable, no Python deserialization.
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Input corpus (authoritative shape: BASELINE.json input_hint)
# ---------------------------------------------------------------------------
PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)

# ---------------------------------------------------------------------------
# page_stats — typed replacement of the pickled OcrPageData
# (/root/reference/StudiOCR/OcrPageData.py:38-62). Maps/arrays are
# determinized: sets become sorted arrays (quirk 4/5).
# ---------------------------------------------------------------------------
PAGE_STATS_SCHEMA = T.StructType(
    [
        # Counter over non-whitespace block texts (OcrPageData.py:36-38)
        T.StructField(
            "word_counts", T.MapType(T.StringType(), T.LongType()), True
        ),
        # sorted(counter.keys()) (OcrPageData.py:40)
        T.StructField("unique_texts", T.ArrayType(T.StringType()), True),
        # Counter over ''.join(RAW texts) incl. whitespace-only rows
        # (OcrPageData.py:41-43 — uses the unfiltered input)
        T.StructField(
            "char_counts", T.MapType(T.StringType(), T.LongType()), True
        ),
        T.StructField("unique_chars", T.ArrayType(T.StringType()), True),
        # dense ASCII 32..126 histogram, 95 bins (OcrPageData.py:84-91)
        T.StructField("ascii_histogram", T.ArrayType(T.LongType()), True),
        # text -> sorted distinct confs (set -> sorted array, OcrPageData.py:54-62)
        T.StructField(
            "conf_by_text",
            T.MapType(T.StringType(), T.ArrayType(T.IntegerType())),
            True,
        ),
    ]
)
