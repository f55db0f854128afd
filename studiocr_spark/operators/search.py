"""The reference's two search surfaces + highlight classification.

Spark-first rebuilds of:
- J3 global OCR keyword search (/root/reference/StudiOCR/ListDocuments.py:206-221)
- J4 in-document page search (DocWindow.py:347-374) — duplicate-per-word
  preserved
- J5 doc-name substring search (ListDocuments.py:202-205)
- F6 confidence->color classification (DocWindow.py:221-227)
- W4/W5 matched-page navigation (DocWindow.py:278-345)
- S8/W6 first-page thumbnail (ListDocuments.py:60-61)

Query words are split driver-side with Python ``str.split()`` — identical
semantics to the reference (split on whitespace runs, drop empties) — and
enter plans as literals, so Catalyst constant-folds them and partition
pruning on ``url`` still applies.

Scale: the scan paths are a single filter over blocks (predicate-pushed,
whole-stage codegen). The indexed path scans the DISTINCT-term dictionary
for substring hits (orders of magnitude smaller than blocks) and
equi-joins postings on term — broadcast when the hit list is small.
"""

from __future__ import annotations

import functools
import operator

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .index import build_doc_lens, build_term_stats
from .textstats import round6


def split_query(query: str, case_sensitive: bool = False) -> list[str]:
    """Reference query tokenization (ListDocuments.py:207, DocWindow.py:357-360)."""
    return query.split() if case_sensitive else query.lower().split()


def _any_word_contained(text_col: Column, words: list[str]) -> Column:
    """OR of substring containment — substring, not token, semantics:
    query 'cat' matches block 'concatenate' (ListDocuments.py:215-217)."""
    return functools.reduce(
        operator.or_, (text_col.contains(w) for w in words)
    )


def conf_color(conf_col: Column) -> Column:
    """F6: >=80 green, >=40 blue, else red (DocWindow.py:221-227)."""
    return (
        F.when(conf_col >= 80, F.lit("green"))
        .when(conf_col >= 40, F.lit("blue"))
        .otherwise(F.lit("red"))
    )


def global_search(
    ocr_blocks: DataFrame, query: str, documents: DataFrame | None = None
) -> DataFrame:
    """J3: urls whose ANY block text contains ANY query word (ci).

    Returns (url) ordered case-insensitively (ListDocuments.py:111).
    Empty query -> every document (:210-212). ``documents`` (a url dim)
    is required for the empty-query case and, when given, is semi-joined
    so results are proper document rows.
    """
    words = split_query(query)
    if not words:
        if documents is None:
            base = ocr_blocks.select("url").distinct()
        else:
            base = documents.select("url")
        return base.orderBy(F.lower(F.col("url")))
    hits = (
        ocr_blocks.filter(_any_word_contained(F.lower(F.col("text")), words))
        .select("url")
        .distinct()
    )
    if documents is not None:
        hits = documents.select("url").join(hits, "url", "left_semi")
    return hits.orderBy(F.lower(F.col("url")))


def global_search_indexed(
    postings: DataFrame, query: str, documents: DataFrame | None = None
) -> DataFrame:
    """J3 via the inverted index: dictionary scan -> postings semi-join.

    The distinct-term dictionary is derived here; persist it alongside the
    postings table in production to skip the distinct. Substring semantics
    preserved: a term matches if it CONTAINS any query word.
    """
    words = split_query(query)
    if not words:
        base = postings if documents is None else documents
        return base.select("url").distinct().orderBy(F.lower(F.col("url")))
    terms = postings.select("term").distinct()
    matched_terms = terms.filter(_any_word_contained(F.col("term"), words))
    hits = (
        postings.join(F.broadcast(matched_terms), "term", "left_semi")
        .select("url")
        .distinct()
    )
    if documents is not None:
        hits = documents.select("url").join(hits, "url", "left_semi")
    return hits.orderBy(F.lower(F.col("url")))


def in_doc_search(
    ocr_blocks: DataFrame,
    url: str,
    query: str,
    case_sensitive: bool = False,
) -> DataFrame:
    """J4: per-page matched blocks for one document.

    Returns (page_no, matched_blocks array<struct<left,top,width,height,
    conf,text,color>>) ordered by page_no — only pages with >=1 match,
    and a block repeated once PER matching query word in reference
    iteration order (block-major then word, DocWindow.py:364-371 — no
    break, quirk 4). Colors precomputed per F6 so the caller can paint
    highlight boxes directly (DocWindow.py:222-232).
    """
    words = split_query(query, case_sensitive)
    spark = ocr_blocks.sparkSession
    if not words:
        return spark.createDataFrame(
            [],
            "page_no int, matched_blocks array<struct<left:int,top:int,"
            "width:int,height:int,conf:int,text:string,color:string>>",
        )
    words_df = spark.createDataFrame(
        [(i, w) for i, w in enumerate(words)], "word_idx int, word string"
    )
    doc_blocks = ocr_blocks.filter(F.col("url") == F.lit(url))
    text_norm = F.col("text") if case_sensitive else F.lower(F.col("text"))
    matches = doc_blocks.join(
        F.broadcast(words_df), text_norm.contains(F.col("word")), "inner"
    )
    return (
        matches.groupBy("page_no")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            "block_no",
                            "word_idx",
                            F.struct(
                                "left", "top", "width", "height", "conf",
                                "text", conf_color(F.col("conf")).alias("color"),
                            ).alias("b"),
                        )
                    )
                ),
                lambda s: s["b"],
            ).alias("matched_blocks")
        )
        .orderBy("page_no")
    )


def matched_page_navigation(
    matched_pages: DataFrame, current_page: int
) -> DataFrame:
    """W4/W5: (first, next, prev) over the matched page set
    (DocWindow.py:278-345). Input: any DF with a page_no column."""
    return matched_pages.agg(
        F.min("page_no").alias("first"),
        F.min(F.when(F.col("page_no") > current_page, F.col("page_no"))).alias(
            "next"
        ),
        F.max(F.when(F.col("page_no") < current_page, F.col("page_no"))).alias(
            "prev"
        ),
    )


# BM25 free parameters, fixed at the textbook values the DuckDB oracle
# (``bm25_ranked_search``) also uses
BM25_K1 = 1.2
BM25_B = 0.75


def bm25_search(
    postings: DataFrame | None,
    query: str,
    limit: int | None = None,
    term_stats: DataFrame | None = None,
    doc_lens: DataFrame | None = None,
) -> DataFrame:
    """Ranked retrieval over the inverted index: BM25 (Robertson/Spärck
    Jones — public formula), token-match semantics.

    score(d) = Σ_t idf(t) * tf / (tf + k1 * (1 - b + b * len_d / avg_len))
    with idf(t) = ln(1 + (N - df + 0.5) / (df + 0.5)), k1 = ``BM25_K1``
    and b = ``BM25_B``.

    One plan, served from the (term, url, tf) and (url, dl) tables: pass
    them as ``term_stats`` + ``doc_lens`` (the segment store
    materializes both at index-build time; read_term_stats/read_doc_lens
    load them, and ``postings`` may be None), or pass only ``postings``
    and they are derived in-plan with build_term_stats/build_doc_lens.
    The plan is filter-by-term -> df_t mini-agg -> one url equi-join ->
    final per-url sum. On derived tables Catalyst pushes the IN(term)
    filter below the tf aggregate, so the ad-hoc form aggregates only
    the query's terms.

    Per-term df is a tiny broadcast. Doc lengths are a per-url aggregate
    of the WHOLE corpus, so they are NEVER broadcast-hinted: at 10^9
    docs that would be a multi-GB driver broadcast. The tf⋈doc_len join
    stays a shuffle equi-join on url (AQE may still downgrade it to a
    broadcast at runtime when the corpus is genuinely small).
    Deterministic tie-break by url.
    """
    if (term_stats is None) != (doc_lens is None):
        raise ValueError(
            "pass term_stats and doc_lens together (both materialized "
            "at index build) or neither"
        )
    if term_stats is None:
        if postings is None:
            raise ValueError("need postings or (term_stats, doc_lens)")
        term_stats, doc_lens = (
            build_term_stats(postings), build_doc_lens(postings)
        )
    words = split_query(query)
    if not words:
        return term_stats.sparkSession.createDataFrame(
            [], "url string, score double"
        )

    # a static IN-filter (terms are plan-time literals) instead of a
    # join: it pushes into the parquet scan (PushedFilters), so a
    # term-clustered store prunes row groups before any operator
    tf = term_stats.filter(F.col("term").isin(list(set(words))))
    # df per term: count rows of the pre-aggregated (term, url, tf) —
    # already distinct per (term, url), no count_distinct needed
    df_t = tf.groupBy("term").agg(F.count("*").alias("df"))
    # corpus stats stay LAZY: a 1-row broadcast cross-join instead of a
    # driver collect(), so building the query plan never triggers a full
    # postings scan (and the stats job fuses into the one submitted job)
    stats = F.broadcast(
        doc_lens.agg(
            F.count("*").cast("double").alias("n_docs"),
            F.avg("dl").alias("avg_dl"),
        )
    )
    scored = (
        tf.join(F.broadcast(df_t), "term")
        .join(doc_lens, "url")  # corpus-sized side: no broadcast hint
        .crossJoin(stats)
        .withColumn(
            "idf",
            F.log(
                1.0
                + (F.col("n_docs") - F.col("df") + 0.5)
                / (F.col("df") + 0.5)
            ),
        )
        .withColumn(
            "contrib",
            F.col("idf")
            * F.col("tf")
            / (
                F.col("tf")
                + BM25_K1
                * (1 - BM25_B + BM25_B * F.col("dl") / F.col("avg_dl"))
            ),
        )
        .groupBy("url")
        .agg(round6(F.sum("contrib")).alias("score"))
        .orderBy(F.desc("score"), F.asc("url"))
    )
    return scored.limit(limit) if limit else scored


def first_page_per_doc(ocr_pages: DataFrame) -> DataFrame:
    """S8/W6: thumbnail = first page image per doc (ListDocuments.py:60-61).

    min_by avoids a window sort: single hash aggregate, partials apply.
    """
    return ocr_pages.groupBy("url").agg(
        F.min_by("image", "page_no").alias("thumbnail"),
        F.min("page_no").alias("page_no"),
    )
