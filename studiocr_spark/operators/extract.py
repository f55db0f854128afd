"""The extraction job: pages -> raw OCR rows -> ocr_pages + ocr_blocks.

Spark-first re-expression of the reference's ingest pipeline
(/root/reference/StudiOCR/OcrWorker.py:60-93 + OcrEngine.py:23-136): the
multiprocessing Queue/Pipe/Pool plumbing collapses into ONE logical plan —
a narrow ``mapInPandas`` stage (Arrow-batched, one decode call per page,
zero per-row Python at the Spark layer) followed by declarative explodes/
filters. No shuffle is required to produce blocks or per-page stats; the
only wide operation in the whole job is the optional per-url text
reassembly for multi-page documents.

Scale notes (100 TB):
- decode cost is per-row and embarrassingly parallel: the scan splits
  (``spark.sql.files.maxPartitionBytes``, as bench.py sets it) give the
  parallelism, no repartition shuffle; no key skew exists at this stage
  (skew handling lives where keys do: index build / search joins).
- Arrow batch size is capped (session.ARROW_BATCH_ROWS) because rows carry
  ~10-100 KB binary payloads.
- blocks explode from an array column -> stays in the same stage as the
  UDF output (WholeStageCodegen), lands filtered and column-pruned.

Per-task fixed costs (:func:`_lean_task`): a reused Python worker paid
two costs on every extract task that have nothing to do with the rows.
pyspark's ``setup_spark_files`` calls ``importlib.invalidate_caches()``
at each task start, and on CPython < 3.13 every cached
``zipimport.zipimporter`` re-reads its whole zip directory there
(pyspark.zip, the spark-core jar, py4j: 103-120 ms a call at local[4]);
and the cyclic GC walked the batch's lists and dicts, none of which
form cycles (0.142 s a task). The UDF's generator pauses the GC for its
whole life and, on exit, drops the zip importers from
``sys.path_importer_cache`` so the next task has none to re-read.
"""

from __future__ import annotations

import contextlib
import gc
import sys
import zipimport
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.pagestats import compute_page_stats
from ..schemas import PAGE_STATS_SCHEMA
from ..sources.decode import get_decoder

# one row per *page*: url, page_no, stored image, exact page text, and the
# raw image_to_data rows (UNFILTERED — the whitespace filter is applied
# declaratively downstream so the plan shows it and char-stats can use the
# raw rows, OcrPageData.py:41-43).
RAW_ROW_SCHEMA = T.StructType(
    [
        T.StructField("block_no", T.IntegerType(), False),
        T.StructField("left", T.IntegerType(), True),
        T.StructField("top", T.IntegerType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("conf", T.IntegerType(), True),
        T.StructField("text", T.StringType(), True),
    ]
)
# The UDF emits the tesseract parallel arrays AS parallel primitive
# arrays (Arrow converts list<int>/list<string> ~5x faster than
# list<struct> built from Python dicts); extract_raw() reassembles the
# ergonomic array<struct> "raw" column JVM-side via arrays_zip (free).
_UDF_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("page_no", T.IntegerType(), False),
        T.StructField("image", T.BinaryType(), True),
        T.StructField("page_text", T.StringType(), True),
        T.StructField("raw_left", T.ArrayType(T.IntegerType()), True),
        T.StructField("raw_top", T.ArrayType(T.IntegerType()), True),
        T.StructField("raw_width", T.ArrayType(T.IntegerType()), True),
        T.StructField("raw_height", T.ArrayType(T.IntegerType()), True),
        T.StructField("raw_conf", T.ArrayType(T.IntegerType()), True),
        T.StructField("raw_text", T.ArrayType(T.StringType()), True),
        # typed OcrPageData, computed in-UDF (functions/pagestats.py)
        T.StructField("page_stats", PAGE_STATS_SCHEMA, True),
        # non-null => the payload failed to decode; the row is a quarantine
        # marker (page_no=-1, raw=[]) so one corrupt page can never fail a
        # 100 TB job, and failures stay auditable (see quarantine()).
        T.StructField("error", T.StringType(), True),
    ]
)

# Java-regex equivalent of Python str.isspace() over the chars tesseract
# emits (ASCII + latin-1 NBSP). ``''`` does NOT match -> empty strings are
# KEPT, exactly like ``not text.isspace()`` (OcrEngine.py:131, quirk 1).
WHITESPACE_ONLY_RE = r"^[\s\u0085\u00A0]+$"


def non_whitespace_filter(text_col: Column) -> Column:
    """F1: the reference's block-upload predicate (keeps empty strings)."""
    return ~text_col.rlike(WHITESPACE_ONLY_RE)


@contextlib.contextmanager
def _lean_task() -> Iterator[None]:
    """Cut two per-task costs of a reused pyspark worker (module notes).

    Entered inside the UDF's batch generator, so the cyclic GC stays off
    for the generator's whole life, the ``pandas -> Arrow`` conversion
    between yields included; it is turned back on along every exit path
    (exhaustion, ``close()``, an exception, after which the worker exits
    anyway). On exit the ``zipimporter`` entries leave
    ``sys.path_importer_cache``: a later import builds a fresh importer
    from ``zipimport._zip_directory_cache`` without reading the zip,
    while the next task's ``invalidate_caches()`` finds nothing to
    re-read. Spark never rewrites a shipped file in place, so that
    cached directory stays valid for the worker's life.
    """
    gc.disable()
    try:
        yield
    finally:
        gc.enable()
        cache = sys.path_importer_cache
        for path in [
            p for p, f in cache.items() if isinstance(f, zipimport.zipimporter)
        ]:
            del cache[path]


def extract_raw(pages: DataFrame, backend: str = "bitmap") -> DataFrame:
    """pages -> one row per rasterized page with raw OCR parallel arrays.

    ``backend`` selects the decode chain (sources/decode.py): 'bitmap'
    (deterministic, sandbox) or 'tesseract' (production). 1 input row ->
    N output rows for multi-page payloads (the PdfToImage.py flatMap
    shape). Undecodable payloads become quarantine rows (``error``
    non-null, see :func:`quarantine`), never task failures.
    """
    decoder = get_decoder(backend)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        with _lean_task():
            cols = _UDF_SCHEMA.fieldNames()
            for pdf in batches:
                out: list[tuple] = []
                for url, html in zip(pdf["url"], pdf["html"]):
                    try:
                        if html is None:
                            raise ValueError("null html payload")
                        decoded = decoder(bytes(html))
                        if not decoded:
                            raise ValueError("payload has no pages")
                    except Exception as exc:
                        out.append(
                            (url, -1, None, None, [], [], [], [], [], [], None,
                             f"{type(exc).__name__}: {exc}")
                        )
                        continue
                    for page_no, (png, data, decoded_text) in enumerate(
                        decoded
                    ):
                        # backends with an exact-text notion (bitmap) supply
                        # it directly (byte-identical contract); otherwise
                        # the page text is the non-structural tokens joined.
                        if decoded_text is not None:
                            page_text = decoded_text
                        else:
                            page_text = " ".join(
                                t
                                for t in data["text"]
                                if t and not t.isspace()
                            )
                        # the Decoder contract (sources/decode.py) guarantees
                        # plain Python int lists / str lists — each backend
                        # normalizes at its own boundary, so no per-value
                        # re-coercion here (round-6: the six comprehensions
                        # were ~8% of the per-doc chain)
                        out.append(
                            (
                                url,
                                page_no,
                                png,
                                page_text,
                                data["left"],
                                data["top"],
                                data["width"],
                                data["height"],
                                data["conf"],
                                data["text"],
                                compute_page_stats(data),
                                None,
                            )
                        )
                yield pd.DataFrame(out, columns=cols)

    udf_out = pages.select("url", "html").mapInPandas(run, schema=_UDF_SCHEMA)
    # reassemble the array<struct> view JVM-side (arrays_zip is a zero-copy
    # projection); block_no = array ordinal, preserved through filtering
    raw_struct = F.arrays_zip(
        F.sequence(
            F.lit(0),
            F.greatest(F.size("raw_text") - 1, F.lit(0)),
        ).alias("block_no"),
        F.col("raw_left").alias("left"),
        F.col("raw_top").alias("top"),
        F.col("raw_width").alias("width"),
        F.col("raw_height").alias("height"),
        F.col("raw_conf").alias("conf"),
        F.col("raw_text").alias("text"),
    )
    return udf_out.select(
        "url",
        "page_no",
        "image",
        "page_text",
        F.when(F.size("raw_text") > 0, raw_struct)
        .otherwise(F.array().cast(T.ArrayType(RAW_ROW_SCHEMA)))
        .alias("raw"),
        "page_stats",
        "error",
    )


def blocks_from_raw(raw_df: DataFrame) -> DataFrame:
    """Explode raw rows -> ocr_blocks with the F1 whitespace filter.

    Narrow (no shuffle): generate + filter + project in one codegen stage.
    """
    b = raw_df.select(
        "url", "page_no", F.explode("raw").alias("r")
    ).select(
        "url",
        "page_no",
        F.col("r.block_no").alias("block_no"),
        F.col("r.left").alias("left"),
        F.col("r.top").alias("top"),
        F.col("r.width").alias("width"),
        F.col("r.height").alias("height"),
        F.col("r.conf").alias("conf"),
        F.col("r.text").alias("text"),
    )
    return b.filter(non_whitespace_filter(F.col("text")))


def assemble_doc_text(raw_df: DataFrame) -> DataFrame:
    """(url, extracted_text): page texts joined by one space in page
    order.

    The byte-identical target: for the synthetic corpus,
    ``extracted_text == pages.text`` per url. The only wide op of the
    extract job; partial aggregation applies and pages-per-url is tiny,
    so the shuffle is by far cheaper than the decode stage.
    """
    return (
        raw_df.filter(F.col("error").isNull())
        .groupBy("url")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("page_no", "page_text"))
                    ),
                    lambda s: s["page_text"],
                ),
                " ",
            ).alias("extracted_text"),
            F.count("*").alias("n_pages"),
        )
    )


def quarantine(raw_df: DataFrame) -> DataFrame:
    """Undecodable payloads with their error strings (audit/lineage)."""
    return raw_df.filter(F.col("error").isNotNull()).select("url", "error")
