"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes every SQL-expressible operator from SURVEY.md §2 as
(spark, sf_dir) -> DataFrame, with a matching DuckDB ``oracle_sql()``
entry; genuinely non-SQL ops (the OCR extract UDF chain, LSH ANN whose
recall is algorithm-defined) are rows-only entries. Column names/aliases
match the oracle exactly (the driver hash-compares values by sorted
column name).

The synthetic ``blocks`` relation used by the StudiOCR-parity queries is
documents.text tokenized with ordinal block_no and a deterministic
pseudo-confidence — portable arithmetic reproduced verbatim in SQL:
``conf = (length(word) * 17 + block_no) % 101``.
"""

from __future__ import annotations

import os
import shutil
import sys
from collections.abc import Callable

# module-top import: with `from __future__ import annotations`,
# pandas_udf type hints are strings resolved against MODULE globals
# (repo rule) — a function-local import would UNSUPPORTED_SIGNATURE
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SEARCH_WORDS = ["spark", "filt"]  # 'filt' ⊂ 'filter': substring semantics
NAV_CURRENT = 250  # navigation pivot doc_id


def _r(col, ndigits: int):
    """Portable HALF_UP rounding for hash-compared doubles — the single
    implementation lives in textstats.portable_round; the matching
    oracle SQL must use the same floor(x*1eN+0.5)/1eN formula (never
    bare round())."""
    from studiocr_spark.operators.textstats import portable_round

    return portable_round(col, ndigits)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def _t_wide(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Like _t, but fanned out to core width. The sf tables are single
    small parquet files -> one scan split, which starves CPU-bound
    Arrow-UDF stages (minhash, fingerprints) of parallelism. At the
    100 TB target inputs arrive in thousands of splits, so this
    repartition is a local-harness artifact, not part of the operators
    (which never repartition their inputs)."""
    return _t(spark, sf_dir, name).repartition(
        spark.sparkContext.defaultParallelism
    )


def _blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents -> (doc_id, block_no, text, conf) token table."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.posexplode(F.split("text", " ")).alias("block_no", "text"),
    ).withColumn(
        "conf",
        (F.length("text") * 17 + F.col("block_no")) % 101,
    )


_BLOCKS_SQL = """
    SELECT doc_id,
           generate_subscripts(ws, 1) - 1 AS block_no,
           unnest(ws) AS text,
           (length(unnest(ws)) * 17 + generate_subscripts(ws, 1) - 1) % 101 AS conf
    FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
"""


# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full extract pipeline on a generated corpus + search.

    Generates a deterministic 80-doc pages corpus, runs the Arrow extract
    UDF, verifies the byte-identical contract inline, and returns per-url
    rollups of the produced block table joined with a global keyword
    search hit flag.
    """
    from studiocr_spark.gen import generate_pages
    from studiocr_spark.operators.extract import (
        blocks_from_raw,
        extract_raw,
    )
    from studiocr_spark.operators.search import global_search
    from studiocr_spark.session import ship_package

    from studiocr_spark.operators.extract import assemble_doc_text

    ship_package(spark)
    pages = generate_pages(spark, 80, partitions=8)
    raw = extract_raw(pages, backend="bitmap")
    ok = raw.filter(F.col("error").isNull())
    blocks = blocks_from_raw(ok)
    hits = global_search(blocks, "cat").withColumn("hit", F.lit(True))
    # the headline invariant, surfaced per row: extracted text must be
    # byte-identical to the ground truth for every url
    text_ok = (
        assemble_doc_text(ok)
        .join(pages.select("url", "text"), "url")
        .select(
            "url",
            F.col("extracted_text").eqNullSafe(F.col("text")).alias(
                "byte_identical"
            ),
        )
    )
    return (
        blocks.groupBy("url")
        .agg(
            F.count("*").alias("n_blocks"),
            F.count(F.when(F.col("conf") >= 0, 1)).alias("n_words"),
            F.sum("conf").alias("conf_sum"),
        )
        .join(hits, "url", "left")
        .withColumn("hit", F.coalesce("hit", F.lit(False)))
        .join(text_ok, "url")
        .orderBy("url")
    )


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan + filter + 8-agg groupBy (bench headliner)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").cast("double").alias("sum_qty"),
            F.sum("l_extendedprice").cast("double").alias("sum_base_price"),
            F.sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).cast("double").alias("sum_disc_price"),
            F.sum(
                F.col("l_extendedprice")
                * (1 - F.col("l_discount"))
                * (1 + F.col("l_tax"))
            ).cast("double").alias("sum_charge"),
            _r(F.avg("l_quantity"), 6).alias("avg_qty"),
            _r(F.avg("l_extendedprice"), 6).alias("avg_price"),
            _r(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: 3-way join + agg + top-10 (broadcast dim)."""
    cust = _t(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1995-03-15")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1995-03-15")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
            .cast("double")
            .alias("revenue")
        )
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
        .select(
            "l_orderkey",
            F.col("o_orderdate").cast("string").alias("o_orderdate"),
            _r(F.col("revenue"), 4).alias("revenue"),
        )
    )


def q5_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 5-way join snowflake + regional agg."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
            .cast("double")
            .alias("revenue"),
            F.count("*").alias("n_items"),
        )
        .select("n_name", _r(F.col("revenue"), 4).alias("revenue"), "n_items")
        .orderBy(F.desc("revenue"))
    )


def topk_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders by price per customer (window row_number <= k)."""
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        orders.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rank")
    )


def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: lag + gap>30min cumsum; per-session rollup."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # ts is TIMESTAMP_NTZ; session TZ is pinned UTC so the NTZ->TZ cast is
    # identity and epoch seconds agree with DuckDB's epoch()
    epoch = F.col("ts").cast("timestamp").cast("long")
    gapped = ev.withColumn(
        "new_session",
        F.when(epoch - F.lag(epoch).over(w) > 1800, 1).otherwise(0),
    ).withColumn(
        "session_no",
        F.sum("new_session").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    return (
        gapped.groupBy("user_id", "session_no")
        .agg(
            F.count("*").alias("n_events"),
            _r(F.sum("value"), 4).alias("session_value"),
        )
    )


# -- StudiOCR parity over the documents token table -------------------------

def a1_word_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: word frequency per doc (OcrPageData.py:36-38 shape)."""
    return (
        _blocks(spark, sf_dir)
        .groupBy("doc_id", "text")
        .agg(F.count("*").alias("n"))
    )


def a2_unique_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: sorted distinct words per doc, joined for portability."""
    return (
        _blocks(spark, sf_dir)
        .groupBy("doc_id")
        .agg(
            F.array_join(F.array_sort(F.collect_set("text")), ",").alias(
                "unique_words"
            ),
            F.count_distinct("text").alias("n_unique"),
        )
    )


def a5_ascii_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5: corpus-wide dense ASCII 32-126 histogram (zero-filled bins)."""
    docs = _t(spark, sf_dir, "documents")
    counts = (
        docs.select(F.explode(F.split("text", "")).alias("ch"))
        .filter(F.col("ch") != "")
        .groupBy("ch")
        .agg(F.count("*").alias("n"))
    )
    domain = spark.range(32, 127).select(
        F.col("id").cast("int").alias("code"), F.char(F.col("id")).alias("ch")
    )
    return (
        domain.join(counts, "ch", "left")
        .select("code", F.coalesce("n", F.lit(0)).alias("n"))
        .orderBy("code")
    )


def a6_conf_by_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: per (doc, text) the sorted distinct conf set, joined."""
    return (
        _blocks(spark, sf_dir)
        .groupBy("doc_id", "text")
        .agg(
            F.array_join(
                F.array_sort(F.collect_set(F.col("conf").cast("string"))), ","
            ).alias("confs_lex"),
            F.count_distinct("conf").alias("n_confs"),
        )
    )


def a7_docs_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 shape: child count per parent (len(doc.pages))."""
    return (
        _t(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(F.count("*").alias("n_docs"), F.sum("n_chars").alias("sum_chars"))
    )


def _url_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``_blocks`` in the ocr_blocks schema the search operators read:
    doc_id cast to the url key, one page, zero boxes."""
    return _blocks(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("url"),
        F.lit(0).alias("page_no"),
        "block_no",
        F.lit(0).alias("left"),
        F.lit(0).alias("top"),
        F.lit(0).alias("width"),
        F.lit(0).alias("height"),
        "conf",
        "text",
    )


def j3_keyword_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3: docs where ANY query word is a SUBSTRING of any token."""
    from studiocr_spark.operators.search import global_search

    hits = global_search(_url_blocks(spark, sf_dir), " ".join(SEARCH_WORDS))
    return hits.select(F.col("url").cast("long").alias("doc_id")).orderBy(
        "doc_id"
    )


def j3_indexed_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 via the inverted index (dictionary scan + postings semi-join);
    must return exactly the scan path's result set."""
    from studiocr_spark.operators.index import build_postings
    from studiocr_spark.operators.search import global_search_indexed

    postings = build_postings(_url_blocks(spark, sf_dir))
    hits = global_search_indexed(postings, " ".join(SEARCH_WORDS))
    return hits.select(F.col("url").cast("long").alias("doc_id")).orderBy(
        "doc_id"
    )


def j4_indoc_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4: per-doc match count, a block counted once PER matching word."""
    b = _blocks(spark, sf_dir)
    words = spark.createDataFrame(
        [(w,) for w in SEARCH_WORDS], "word string"
    )
    return (
        b.join(
            F.broadcast(words),
            F.lower(F.col("text")).contains(F.col("word")),
        )
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_matches"))
    )


def j5_name_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5: substring match on a name-like column, ci, sorted."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.withColumn(
            "name", F.concat(F.col("source"), F.lit("-doc"),
                             F.col("doc_id").cast("string"))
        )
        .filter(F.lower(F.col("name")).contains("rc1-doc1"))
        .select("doc_id", "name")
        .orderBy(F.lower(F.col("name")))
    )


BM25_WORDS = ["spark", "the", "table"]

_BM25_INDEX = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), ".bm25_index"
)


def _bm25_index_root(spark: SparkSession, sf_dir: str) -> str:
    """Materialized BM25 serving store for this corpus — built once,
    reused across calls (the real serving shape: you don't rebuild an
    index per query). Namespaced per sf basename and validated by a
    CONTENT fingerprint — bit_xor of xxhash64(doc_id, text), order-
    independent and overflow-free (round-6 ADVICE fix: the old
    doc-count + total-length stamp could not see a regenerated or
    permuted corpus of the same size; a bigint SUM of full-range
    hashes overflows under ANSI) — so a changed corpus forces a
    rebuild and a stale cross-corpus pairing is impossible (same
    protocol as the ANN dumps). Bump the version prefix whenever
    _blocks or the segment store's semantics change: the stamp must
    invalidate on CODE changes too, or a stale store serves old
    postings until an oracle mismatch."""
    docs = _t(spark, sf_dir, "documents")
    n, content = docs.agg(
        F.count("*"), F.bit_xor(F.xxhash64("doc_id", "text"))
    ).first()
    fp = f"v4 n={n} h={content}"
    root = os.path.join(
        _BM25_INDEX, os.path.basename(os.path.normpath(sf_dir))
    )
    fpr = os.path.join(root, "_FPR")
    current = None
    if os.path.exists(fpr):
        with open(fpr) as f:
            current = f.read().strip()
    if current != fp:
        from studiocr_spark.operators.index import write_postings_segment

        postings = _blocks(spark, sf_dir).select(
            F.col("text").alias("term"),
            F.col("doc_id").cast("string").alias("url"),
        )
        # clear the old store (stale _FPR included), build a one-segment
        # store, then the stamp commits the build
        shutil.rmtree(root, ignore_errors=True)
        write_postings_segment(postings, root, term_buckets=8)
        with open(fpr, "w") as f:
            f.write(fp + "\n")
    return root


def bm25_ranked_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval served from the MATERIALIZED index: the
    (term, url, tf) and (url, dl) aggregations are paid at index-build
    time (operators/index.py write_postings_segment), so the query plan
    is a pushed IN(term) scan + df mini-agg + one url join + final sum —
    ~3 exchanges instead of 8 (round-4 verdict task 6)."""
    from studiocr_spark.operators.index import read_doc_lens, read_term_stats
    from studiocr_spark.operators.search import bm25_search

    root = _bm25_index_root(spark, sf_dir)
    return bm25_search(
        None,
        " ".join(BM25_WORDS),
        term_stats=read_term_stats(spark, root),
        doc_lens=read_doc_lens(spark, root),
    )


def f6_conf_colors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F6: conf -> green/blue/red classification counts."""
    from studiocr_spark.operators.search import conf_color

    return (
        _blocks(spark, sf_dir)
        .withColumn("color", conf_color(F.col("conf")))
        .groupBy("color")
        .agg(F.count("*").alias("n"))
        .orderBy("color")
    )


def w5_navigation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4/W5: first/next/prev matched doc around a pivot."""
    from studiocr_spark.operators.search import matched_page_navigation

    matched = j3_keyword_search(spark, sf_dir)
    return matched_page_navigation(
        matched.withColumnRenamed("doc_id", "page_no"), NAV_CURRENT
    )


def w6_first_doc_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W6/S8: first child per parent via min_by (thumbnail shape)."""
    from studiocr_spark.operators.search import first_page_per_doc

    docs = _t(spark, sf_dir, "documents").select(
        F.col("source").alias("url"),
        F.col("doc_id").alias("page_no"),
        F.col("n_chars").alias("image"),
    )
    return first_page_per_doc(docs).select(
        F.col("url").alias("source"),
        F.col("page_no").alias("first_doc"),
        F.col("thumbnail").alias("first_chars"),
    )


def j7_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7/A10: Levenshtein-tolerance accuracy, docs 0-9 text vs doc 10."""
    from studiocr_spark.operators.eval import accuracy_scores

    docs = _t(spark, sf_dir, "documents")
    pred = (
        docs.filter(F.col("doc_id") < 10)
        .select(
            F.lit("eval").alias("url"),
            F.explode(F.split("text", " ")).alias("word"),
        )
    )
    exp = (
        docs.filter(F.col("doc_id") == 10)
        .select(
            F.lit("eval").alias("url"),
            F.explode(F.split("text", " ")).alias("word"),
        )
    )
    out = accuracy_scores(pred, exp)
    return out.select(
        "url", "n_correct", "n_expected", _r(F.col("score"), 6).alias("score")
    )


# -- training-data ops ------------------------------------------------------

def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The gate runs the 100 TB shape (digest-only shuffle); the oracle
    groups by full text — identical result set."""
    from studiocr_spark.operators.dedup import exact_duplicates

    return exact_duplicates(_t(spark, sf_dir, "documents"))


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from studiocr_spark.operators.dedup import minhash_lsh_dedup

    return minhash_lsh_dedup(_t_wide(spark, sf_dir, "documents"))


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from studiocr_spark.operators.dedup import simhash

    return simhash(_t(spark, sf_dir, "documents"), bits=16)


def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs within Hamming distance 3 of the 32-bit simhash —
    pigeonhole-banded blocking, so the pair set is EXACT and the oracle
    is the quadratic all-pairs SQL. 32 bits (8-bit bands) keeps the
    bands selective: 16-bit signatures block on 4-bit bands, ~3M
    candidate pairs at sf0.1 vs ~200k here."""
    from studiocr_spark.operators.dedup import simhash_near_dups

    return simhash_near_dups(_t_wide(spark, sf_dir, "documents"))


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from studiocr_spark.operators.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(_t(spark, sf_dir, "documents"))


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over MinHash-LSH near-dup pairs: the cluster
    assignment step of dedup (keep min doc per cluster)."""
    from studiocr_spark.operators.dedup import (
        connected_components,
        minhash_lsh_dedup,
    )

    pairs = minhash_lsh_dedup(_t_wide(spark, sf_dir, "documents"))
    return connected_components(pairs).orderBy("doc_id")


def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware near-dup keep policy: MinHash-LSH clusters keep
    their highest-quality member (ties -> min id) instead of the
    min-id copy; docs in no pair are singleton clusters and kept."""
    from studiocr_spark.operators.dedup import (
        keep_best_in_clusters,
        minhash_lsh_dedup,
    )
    from studiocr_spark.operators.textstats import quality_scores

    pairs = minhash_lsh_dedup(_t_wide(spark, sf_dir, "documents"))
    scored = quality_scores(_t(spark, sf_dir, "documents")).select(
        "doc_id", "quality"
    )
    return keep_best_in_clusters(scored, pairs)


def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from studiocr_spark.operators.similarity import brute_force_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    out = brute_force_topk(queries, emb, k=5)
    return out.select(
        "query_id", "neighbor_id", _r(F.col("cosine"), 3).alias("cosine"), "rank"
    )


_ANN_DUMPS = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), ".ann_dumps"
)


# the SQL fragment DuckDB uses to recompute the fingerprint from its
# registered `embeddings` view — must stay arithmetic-identical to
# _corpus_fp (float->double cast, *1e6+0.5, floor, bigint, sum)
_CORPUS_FP_SQL = (
    "SELECT sum(CAST(floor(CAST(embedding[1] AS DOUBLE) * 1e6 + 0.5) "
    "AS BIGINT)) FROM embeddings"
)


def _corpus_fp(emb: DataFrame) -> int:
    """Content fingerprint of an embeddings frame: bigint sum of
    floor(first_component * 1e6 + 0.5) over every vector. Exact integer
    arithmetic after the floor, so it is summation-order-independent,
    and the float->double widening plus one multiply/add is IEEE-
    identical in Spark and DuckDB (_CORPUS_FP_SQL)."""
    row = emb.agg(
        F.sum(
            F.floor(
                F.element_at("embedding", 1).cast("double") * 1e6 + 0.5
            ).cast("long")
        ).alias("fp")
    ).first()
    return int(row.fp)


def _dump_ann(
    df: DataFrame, name: str, sf_dir: str, corpus_fp: Callable[[], int]
) -> DataFrame:
    """Persist an approx-ANN result and return it read back.

    The committed-dump oracle technique (as extract_blocks): the entry
    dumps the Spark-side approximate result, reads it BACK for its own
    recall arithmetic, and the DuckDB oracle recomputes the exact
    ground truth AND the same recall arithmetic from the identical dump
    — so the previously rows-only recall audits hash-compare end to
    end. The driver (and tools/check_oracle.py) always runs the Spark
    entry before its oracle SQL, so the dump exists when DuckDB reads
    it.

    Round-5 ADVICE fix: dumps are namespaced per sf-dir basename AND
    stamped with ``corpus_fp`` (:func:`_corpus_fp` — a content
    fingerprint of the embeddings table; the row COUNT alone does not
    discriminate, sf0.001 and sf0.01 both carry 500 vectors), and the
    oracle SQL globs all namespaces but filters ``corpus_fp`` against
    the same fingerprint recomputed from its registered view.
    Interleaved runs at different scale factors (e.g. plan_report at
    sf0.001 between a check_oracle entry and its oracle at sf0.01) can
    no longer pair an oracle with another corpus's dump.

    ``SPARK_GRAFT_ANN_SKIP_DUMP=1`` bypasses the write+read-back and
    returns ``df`` unchanged — set by bench.py (round-4 verdict: the
    dump parquet round-trip is oracle plumbing, not operator cost, and
    inflated ann_lsh_topk by ~36% in BENCH_r04) and by plan_report
    (plan inspection must not write). No oracle runs against those
    invocations, so skipping is safe there and only there.

    ``corpus_fp`` is a THUNK (round-6 ADVICE fix): computing the
    fingerprint is itself an eager Spark action (a full embeddings
    aggregation), so it must not run when the dump is skipped — the
    skip check happens first, and skipped invocations now trigger no
    job at all."""
    if os.environ.get("SPARK_GRAFT_ANN_SKIP_DUMP"):
        return df
    path = os.path.join(
        _ANN_DUMPS, os.path.basename(os.path.normpath(sf_dir)), name
    )
    df.withColumn(
        "corpus_fp", F.lit(int(corpus_fp())).cast("long")
    ).write.mode("overwrite").parquet(path)
    return df.sparkSession.read.parquet(path).drop("corpus_fp")


def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN recall audit, hash-compared via the dump-based
    oracle: the approx (query_id, neighbor_id) ids are persisted inside
    the entry; DuckDB recomputes exact top-5 and the recall columns from
    that dump. ``passed`` requires every query >= 0.6 AND the (micro)
    mean across queries >= 0.9 — the tight dial that catches systematic
    recall regressions tie-noise can't excuse."""
    from studiocr_spark.operators.similarity import (
        brute_force_topk,
        lsh_topk,
        recall_at_k,
    )

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    approx = lsh_topk(
        queries, emb, dim=64, k=5, n_planes=4, n_tables=8, multiprobe=True
    )
    found = _dump_ann(
        approx.select("query_id", "neighbor_id"), "ann_lsh_topk",
        sf_dir, lambda: _corpus_fp(emb),
    )
    # exact side vectorized (round-6): recall_at_k consumes only the
    # exact IDS — no cosine value reaches the output — so the fold's
    # bit-parity contract doesn't apply here (it stays in
    # ann_cosine_topk, whose VALUES are hashed). Rank identity between
    # the fold and Arrow scorers is verified on every gate corpus with
    # a >= 2e-4 rank-5/6 cosine margin (12 orders above float64 noise;
    # OPTIMIZATION_r06.md), so the dump-oracle hash compare is
    # unaffected while the 8 x N interpreted fold drops out.
    exact = brute_force_topk(queries, emb, k=5, vectorized=True)
    return recall_at_k(found, exact, floor=0.6, mean_floor=0.9)


def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-cell ANN recall audit, hash-compared via the dump-based
    oracle (see ann_lsh_topk).

    Floors are set to the honest ceiling of IVF on THIS corpus: the
    synthetic embeddings are isotropic (no cluster structure), so cell
    membership of a query's true neighbors is nearly independent of the
    query's cell and recall tops out near the probe fraction
    (measured 0.70-0.75 mean probing the IVF_N_PROBE = 8 nearest of
    IVF_N_CENTROIDS = 16 cells across sf0.001-0.1).
    Round-3's 0.9 mean was an artifact of first-N-by-id seeding: the
    audit queries (vec_id < 8) WERE the first 16 centroids, centering a
    cell on every query. The round-4 unbiased hash-ordered seeding
    (similarity.seed_centroids) removes that coincidence; on corpora
    with real cluster structure recall is far higher (see
    tests/test_similarity.py::test_ivf_seeding_unbiased_on_id_correlated_corpus).
    """
    from studiocr_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
        recall_at_k,
    )

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    approx = ivf_topk(queries, emb)
    found = _dump_ann(
        approx.select("query_id", "neighbor_id"), "ann_ivf_topk",
        sf_dir, lambda: _corpus_fp(emb),
    )
    # vectorized exact side — same id-only argument as ann_lsh_topk
    exact = brute_force_topk(queries, emb, k=5, vectorized=True)
    return recall_at_k(found, exact, floor=0.2, mean_floor=0.6)


def embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup recall audit, hash-compared via the dump-based
    oracle: found (vec_a, vec_b) pairs are persisted; DuckDB recomputes
    the exact all-pairs truth (quadratic SQL, audit scale) and the
    recall row from the same dump. The Spark truth side uses the
    sequential-fold cosine (``vectorized=False``) for bit parity with
    DuckDB at the threshold boundary. Precision is 1.0 by construction
    (candidates verify with exact cosine), so recall is the only
    failure axis."""
    from studiocr_spark.operators.similarity import (
        embedding_near_dups as nd,
        exact_near_dup_pairs,
    )
    from studiocr_spark.operators.textstats import round6

    emb = _t(spark, sf_dir, "embeddings")
    found = _dump_ann(
        nd(emb, dim=64).select("vec_a", "vec_b"),
        "embedding_near_dups", sf_dir, lambda: _corpus_fp(emb),
    )
    truth = exact_near_dup_pairs(emb)
    # lazy: aggregate both sides, cross-join the two 1-row frames
    # (count the truth-intersection rather than trusting precision == 1)
    inter = found.join(
        truth.select("vec_a", "vec_b"), ["vec_a", "vec_b"], "left_semi"
    )
    f = inter.agg(F.count("*").cast("long").alias("n_found"))
    t = truth.agg(F.count("*").cast("long").alias("n_true"))
    recall = F.col("n_found") / F.col("n_true")
    return f.crossJoin(t).select(
        "n_found",
        "n_true",
        round6(recall).alias("recall"),
        (recall >= 0.9).alias("passed"),
    )


def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from studiocr_spark.operators.textstats import lang_id as _lang_id

    return _lang_id(_t(spark, sf_dir, "documents"))


def quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from studiocr_spark.operators.textstats import quality_scores as qs

    return qs(_t(spark, sf_dir, "documents"))


def token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from studiocr_spark.operators.textstats import token_counts as tc

    return tc(_t(spark, sf_dir, "documents"))


def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    from studiocr_spark.operators.textstats import fingerprints

    return fingerprints(_t_wide(spark, sf_dir, "documents"))


def asof_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: every purchase event gains the most recent prior (or
    simultaneous) click by the same user — click-through attribution.
    Clicks tied on (user, ts) resolve to the largest click_id through
    asof_join's max_by pre-aggregate; the oracle is DuckDB's native
    ASOF LEFT JOIN."""
    from studiocr_spark.operators.asof import asof_join

    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        "ts",
        F.col("event_id").alias("click_id"),
        F.col("value").alias("click_value"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", "value"
    )
    out = asof_join(purchases, clicks, right_cols=["click_id", "click_value"])
    return out.select(
        "event_id",
        "user_id",
        F.col("ts").cast("string").alias("ts"),
        "value",
        "asof_click_id",
        "asof_click_value",
    )


def range_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyless point-in-interval join: purchases falling inside any
    10-minute window opened by a signup (bucketed candidate join —
    Catalyst would plan the bare inequality as a nested loop). Oracle
    is the plain inequality join (DuckDB IEJoin)."""
    from studiocr_spark.operators.asof import range_join

    ev = _t(spark, sf_dir, "events")
    intervals = (
        ev.filter(F.col("event_type") == "signup")
        .select(
            F.col("event_id").alias("interval_id"),
            F.col("ts").alias("start"),
            (F.col("ts") + F.expr("INTERVAL 600 SECONDS")).alias("end"),
        )
    )
    points = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("point_id"), "ts"
    )
    out = range_join(points, intervals)
    return out.select("point_id", "interval_id")


def clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end C4-style corpus cleaning as ONE declarative plan:
    language filter -> quality floor -> exact-dedup canonical keep ->
    deterministic 50% downsample. The composition query for the whole
    training-data-pipeline family — every stage is the same operator
    the standalone entries check, so the oracle composes their SQL.

    Shape: lang/quality are pure column projections (with_lang_id /
    with_quality — no self-joins), and the canonical keep is a window
    over the content digest — exactly ONE exchange in the whole plan
    (pinned in tests/test_plans.py). The round-2 formulation joined two
    narrow projections of the same relation back on doc_id and then
    semi-joined the dedup keep: three avoidable full-corpus shuffles."""
    from studiocr_spark.operators.dedup import keep_canonical
    from studiocr_spark.operators.sampling import hash_unit
    from studiocr_spark.operators.textstats import with_lang_id, with_quality

    docs = _t(spark, sf_dir, "documents")
    kept = (
        with_quality(with_lang_id(docs))
        .filter((F.col("pred_lang") == "en") & (F.col("quality") >= 0.55))
        # the entry output never needs text — project the digest and
        # drop the text BEFORE the window shuffle, so only
        # (ids, digest, scores) ride the one exchange
        .select(
            "doc_id", "pred_lang", "quality", F.md5("text").alias("_h")
        )
    )
    canon = keep_canonical(kept, text_col="_h", digest=False).drop("_h")
    return canon.filter(
        hash_unit(F.col("doc_id"), "clean") < 0.5
    ).select("doc_id", "pred_lang", "quality")


def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-stratum downsampling: 10% of short docs, 50%
    of mid, all long — survival is a pure function of (salt, doc_id),
    so the exact surviving row set is oracle-checkable."""
    from studiocr_spark.operators.sampling import stratified_sample

    docs = _t(spark, sf_dir, "documents")
    stratum = (
        F.when(F.length("text") < 150, "short")
        .when(F.length("text") < 300, "mid")
        .otherwise("long")
    )
    staged = docs.select("doc_id", stratum.alias("stratum"))
    out = stratified_sample(
        staged, {"short": 0.1, "mid": 0.5, "long": 1.0}
    )
    return out.select("doc_id", "stratum")


def pack_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget sequence packing: hash-bucketed, contiguous running-
    sum shards within each bucket (one window per bucket, no global
    sort)."""
    from studiocr_spark.operators.sampling import pack_sequences

    return pack_sequences(
        _t(spark, sf_dir, "documents"), budget=300, n_buckets=8
    )


def running_window_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running per-user value sum (ordered frame, rowsBetween)."""
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return ev.select(
        "user_id",
        "event_id",
        _r(F.sum("value").over(w), 4).alias("running_value"),
    )


def rollup_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals (status -> priority -> grand total)."""
    return (
        _t(spark, sf_dir, "orders")
        .rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count("*").alias("n"),
            _r(F.sum("o_totalprice"), 2).alias("total"),
        )
    )


def pivot_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: order counts, status x priority matrix (fixed value list)."""
    prios = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    out = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .pivot("o_orderpriority", prios)
        .count()
    )
    renames = {p: f"p{i + 1}" for i, p in enumerate(prios)}
    for old, new in renames.items():
        out = out.withColumnRenamed(old, new)
    return out.na.fill(0, list(renames.values()))


def set_ops_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT composition over customer segments."""
    cust = _t(spark, sf_dir, "customer")
    building = cust.filter(F.col("c_mktsegment") == "BUILDING").select(
        "c_custkey"
    )
    rich = cust.filter(F.col("c_acctbal") > 5000).select("c_custkey")
    low_nations = cust.filter(F.col("c_nationkey") < 12).select("c_custkey")
    return (
        building.intersect(rich)
        .exceptAll(low_nations)
        .distinct()
        .orderBy("c_custkey")
    )


def percentile_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (median + p90)."""
    return (
        _t(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
            _r(F.expr("percentile(o_totalprice, 0.5)"), 4).alias("p50"),
            _r(F.expr("percentile(o_totalprice, 0.9)"), 4).alias("p90"),
            F.count("*").alias("n"),
        )
    )


def pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub over the corpus with deterministic planted PII (the
    base texts are synthetic words, so emails/IPs/phones are appended
    per doc_id — same trick as boilerplate_strip's templated HTML); the
    oracle replicates the planting and the redaction byte-for-byte."""
    from studiocr_spark.operators.redact import redact_pii

    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    planted = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact u"),
            did.cast("string"),
            F.lit("@example.com at 10.0."),
            (did % 200).cast("string"),
            F.lit("."),
            ((did * 7) % 250).cast("string"),
            F.lit(" or 555-"),
            F.lpad((did % 1000).cast("string"), 3, "0"),
            F.lit("-"),
            F.lpad((did % 10000).cast("string"), 4, "0"),
        ).alias("text"),
    )
    return redact_pii(planted).select(
        "doc_id", "n_email", "n_ipv4", "n_phone", "redacted_text"
    )


def repetition_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RefinedWeb-style repetition signals: duplicate word-2-gram mass
    and most-common-2-gram share per document."""
    from studiocr_spark.operators.textstats import repetition_stats

    return repetition_stats(_t(spark, sf_dir, "documents"))


def url_canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + url-level dedup over deterministically
    planted messy URLs (4 spelling variants per page — case, default
    port, tracking params, fragment — all collapsing to one canonical
    form; the oracle replicates the planting and the regexp chain)."""
    from studiocr_spark.operators.urls import url_dedup

    did = F.col("doc_id")
    p = (did % 25).cast("string")
    v = did % 4
    url = (
        F.when(v == 0, F.concat(
            F.lit("http://site"), p, F.lit(".com/p/"), p, F.lit("?a=1&b=2")))
        .when(v == 1, F.concat(
            F.lit("HTTP://SITE"), p, F.lit(".COM:80/p/"), p,
            F.lit("?b=2&a=1#frag")))
        .when(v == 2, F.concat(
            F.lit("http://site"), p, F.lit(".com/p/"), p,
            F.lit("?utm_source=x&a=1&b=2")))
        .otherwise(F.concat(
            F.lit("http://site"), p, F.lit(".com:80/p/"), p,
            F.lit("?a=1&utm_campaign=y&b=2#x")))
    )
    pages = _t(spark, sf_dir, "documents").select("doc_id", url.alias("url"))
    return url_dedup(pages)


def sample_top_n_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-domain contribution cap (hash-ordered top-10
    per source) — reservoir-sample equivalent, stable across re-runs."""
    from studiocr_spark.operators.sampling import top_n_per_group

    return top_n_per_group(_t(spark, sf_dir, "documents"), n=10).select(
        "doc_id", "source", "lang"
    )


MIXTURE_TARGET = {"en": 0.5, "es": 0.2, "de": 0.2, "fr": 0.1}


def rebalance_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-mixture rebalancing toward fixed curriculum weights
    (downsample-only; zh absent from the target and therefore dropped);
    the oracle recomputes the per-stratum keep fractions in SQL with
    the identical float arithmetic."""
    from studiocr_spark.operators.sampling import rebalance_mixture as rm

    return rm(_t(spark, sf_dir, "documents"), MIXTURE_TARGET).select(
        "doc_id", "lang"
    )


def gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher corpus-filtering rules (MassiveText heuristics) as one
    narrow projection; every ratio an exact-integer division."""
    from studiocr_spark.operators.textstats import gopher_rules

    return gopher_rules(_t(spark, sf_dir, "documents"))


def line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RefinedWeb-style line-level exact dedup over a lined corpus
    (lines planted deterministically as 5-word chunks of each document,
    reproduced verbatim in the oracle SQL — near-dup docs share chunks,
    so cross-document duplicate lines exist and get stripped)."""
    from studiocr_spark.operators.dedup import line_dedup as ld, _py_words

    # Round-6: the chunking used to be a transform/slice/array_join HOF
    # chain — CodegenFallback, interpreted per element, ~0.7 s per pass
    # at sf0.1. One Arrow pass computes the identical lined text:
    # _py_words mirrors words_of exactly (parity-pinned in pytest), and
    # ' '.join(w[5i:5i+5]) / '\n'.join is the literal transcription of
    # slice(w, i*5+1, 5) + array_join. Verified string-equal to the HOF
    # form over every sf0.1 doc before switching (OPTIMIZATION_r06.md);
    # the oracle SQL (frozen) replicates the same chunking and stays
    # green at sf0.001 + sf0.01.
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _lined(texts: pd.Series) -> pd.Series:
        def chunk(t):
            if t is None:
                return None
            w = _py_words(t)
            if not w:
                return ""
            return "\n".join(
                " ".join(w[i : i + 5]) for i in range(0, len(w), 5)
            )

        return texts.map(chunk)

    docs = _t(spark, sf_dir, "documents")
    lined = docs.select("doc_id", _lined("text").alias("text"))
    # line_dedup consumes its input TWICE (line explode + totals); the
    # chunking above is one Arrow pass per doc, so materialize it once
    # (the repo twice-referenced-subplan rule). A plain parquet input
    # doesn't need this — rescanning a file twice is cheaper than
    # materializing it.
    return ld(lined.localCheckpoint(eager=False), min_doc_freq=2)


def domain_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus stats through the generic two-phase salted
    aggregation (operators/skew.py) — the hot-domain-proof shape; the
    oracle is the plain GROUP BY it must equal."""
    from studiocr_spark.operators.skew import salted_aggregate

    docs = _t(spark, sf_dir, "documents").select("source", "n_chars")
    out = salted_aggregate(
        docs,
        ["source"],
        [
            F.count("*").alias("p_n"),
            F.sum("n_chars").alias("p_chars"),
        ],
        lambda: [
            F.sum("p_n").cast("long").alias("n_docs"),
            F.sum("p_chars").cast("long").alias("total_chars"),
        ],
    )
    return out.select(
        "source",
        "n_docs",
        "total_chars",
        _r(F.col("total_chars") / F.col("n_docs"), 6).alias("mean_chars"),
    )


def decontaminate_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: training docs (doc_id >= 25) sharing
    >= 2 distinct word 3-grams with an eval doc (doc_id < 25). The eval
    shingles broadcast, so the corpus side stays narrow — the 100 TB
    shape for corpus-vs-benchmark overlap checks."""
    from studiocr_spark.operators.decontam import contamination_pairs

    docs = _t(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") >= 25)
    ev = docs.filter(F.col("doc_id") < 25).select(
        F.col("doc_id").alias("eval_id"), "text"
    )
    return contamination_pairs(train, ev)


def boilerplate_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerpipe-style main-content extraction over templated HTML.

    documents.text is wrapped in a fixed page template (nav + h1 + p +
    footer). On this template the classifier's behavior is exactly
    predictable in SQL: the <p> is content iff it has >= 10 words, the
    nav/h1/footer are always boilerplate — giving the Python HTML parser
    a DuckDB oracle.
    """
    from studiocr_spark.operators.boilerplate import strip_boilerplate
    from studiocr_spark.session import ship_package

    ship_package(spark)
    docs = _t(spark, sf_dir, "documents")
    html = docs.select(
        F.col("doc_id").cast("string").alias("url"),
        F.concat(
            F.lit(
                '<html><body><nav><a href="/">Home</a> '
                '<a href="/a">About</a></nav><h1>Title Words Here</h1><p>'
            ),
            F.col("text"),
            F.lit(
                '</p><footer>Copyright 2024 <a href="/t">Terms</a>'
                "</footer></body></html>"
            ),
        ).alias("html_text"),
    )
    return strip_boilerplate(html)


# -- extract pipeline ---------------------------------------------------
# The decode UDF itself is pytest-byte-identical (not SQL-expressible),
# but everything DOWNSTREAM of it is relational. The DuckDB oracles read
# a COMMITTED fixture of the deterministic 60-doc raw decode
# (tests/fixtures/extract_raw_expected) and transcribe the block explode
# (F1 whitespace quirk included) and the page-stats aggregates over it.
# The Spark entries run the decode LIVE — so the hash compare doubles as
# a drift gate: any change to the decode/bitmap chain that alters a
# byte mismatches against the fixture and fails the driver gate.

_EXTRACT_FIXTURE = os.path.join(
    os.path.dirname(os.path.abspath(__file__)),
    "tests",
    "fixtures",
    "extract_raw_expected",
)


def _extract_raw_live(spark: SparkSession) -> DataFrame:
    """The 60-doc bitmap decode, run live (url, page_no, raw,
    page_stats). Deterministic: must stay byte-identical to
    ``_EXTRACT_FIXTURE`` (tests/test_extract.py pins this; the driver's
    oracle hash-compare enforces it independently)."""
    from studiocr_spark.gen import generate_pages
    from studiocr_spark.operators.extract import extract_raw
    from studiocr_spark.session import ship_package

    ship_package(spark)
    pages = generate_pages(spark, 60, partitions=4)
    return (
        extract_raw(pages, backend="bitmap")
        .filter(F.col("error").isNull())
        .select("url", "page_no", "raw", "page_stats")
    )

def stream_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming watermarked windowed rollup over events,
    driven to completion via the memory sink (rows-only: streaming)."""
    import uuid

    from studiocr_spark.streaming.stream_extract import (
        run_stream_to_memory,
        windowed_event_counts,
    )

    ev_dir = f"/tmp/entry_events_{os.path.basename(sf_dir)}"
    if not os.path.exists(ev_dir):
        _t(spark, sf_dir, "events").write.mode("overwrite").parquet(ev_dir)
    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string"
        )
        .parquet(ev_dir)
    )
    agg = windowed_event_counts(stream)
    name = f"win_{uuid.uuid4().hex[:8]}"
    out = run_stream_to_memory(agg, name, spark)
    return out.select(
        F.col("window_start").cast("string").alias("window_start"),
        "event_type",
        "n",
        _r(F.col("total_value"), 4).alias("total_value"),
    )


def extract_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The OCR extract UDF chain on a generated 60-doc corpus; the block
    explode + F1 whitespace quirk are oracle-checked against the
    committed fixture (decode drift fails the hash compare)."""
    from studiocr_spark.operators.extract import blocks_from_raw

    return blocks_from_raw(_extract_raw_live(spark))


def extract_page_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed page_stats structs on a generated corpus; the A1-A5
    aggregate semantics (sorted unique texts incl. the kept empty
    string, dense ASCII histogram over RAW texts) are oracle-checked
    against the committed fixture."""
    raw = _extract_raw_live(spark)
    # the driver's canonicalizer sorts/hashes cells — array columns are
    # unhashable there, so both arrays are flattened to scalar strings
    return raw.select(
        "url",
        "page_no",
        F.array_join(F.col("page_stats.unique_texts"), ",").alias(
            "unique_texts"
        ),
        F.array_join(
            F.col("page_stats.ascii_histogram").cast("array<string>"), ","
        ).alias("ascii_histogram"),
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Gate entries, in DRIVER-SAMPLING ROTATION order.

    The driver's correctness gate checks the FIRST ~50 entries of this
    dict; with more entries than that, dict order decides which get an
    independent driver row this round. Protocol (round-4 verdict task):
    lead with the least-recently-driver-checked entries — i.e. any
    brand-new entry plus whatever fell past the cap last round — and
    rotate each round so full coverage accrues across rounds. The tail
    is therefore always the entries with the freshest driver rows.
    """
    return {
        # -- fell past the 50-row cap in r5 (judge-verified only) —
        #    lead this round (round-5 verdict task 4)
        "percentile_prices": percentile_prices,
        "url_canonical_dedup": url_canonical_dedup,
        "sample_top_n_per_source": sample_top_n_per_source,
        "rebalance_mixture": rebalance_mixture,
        "gopher_quality": gopher_quality,
        "line_dedup": line_dedup,
        "domain_stats": domain_stats,
        # -- checked in r4, oldest-first thereafter
        "q1_pricing_summary": q1_pricing_summary,
        "q3_shipping_priority": q3_shipping_priority,
        "q5_supplier_volume": q5_supplier_volume,
        "topk_orders_per_customer": topk_orders_per_customer,
        "sessionize_events": sessionize_events,
        "a1_word_counts": a1_word_counts,
        "a2_unique_words": a2_unique_words,
        "a5_ascii_histogram": a5_ascii_histogram,
        "a6_conf_by_text": a6_conf_by_text,
        "a7_docs_per_source": a7_docs_per_source,
        "j3_keyword_search": j3_keyword_search,
        "j3_indexed_search": j3_indexed_search,
        "j4_indoc_matches": j4_indoc_matches,
        "j5_name_search": j5_name_search,
        "bm25_ranked_search": bm25_ranked_search,
        "f6_conf_colors": f6_conf_colors,
        "w5_navigation": w5_navigation,
        "w6_first_doc_per_source": w6_first_doc_per_source,
        "j7_accuracy": j7_accuracy,
        "dedup_exact": dedup_exact,
        "dedup_minhash_lsh": dedup_minhash_lsh,
        "dedup_simhash": dedup_simhash,
        "dedup_simhash_pairs": dedup_simhash_pairs,
        "dedup_ngram_jaccard": dedup_ngram_jaccard,
        "dedup_clusters": dedup_clusters,
        "dedup_keep_best": dedup_keep_best,
        "ann_cosine_topk": ann_cosine_topk,
        "ann_lsh_topk": ann_lsh_topk,
        "ann_ivf_topk": ann_ivf_topk,
        "embedding_near_dups": embedding_near_dups,
        "lang_id": lang_id,
        "quality_scores": quality_scores,
        "token_counts": token_counts,
        "doc_fingerprints": doc_fingerprints,
        "sample_stratified": sample_stratified,
        "pack_shards": pack_shards,
        "clean_corpus": clean_corpus,
        "asof_attribution": asof_attribution,
        "range_join_events": range_join_events,
        "running_window_sum": running_window_sum,
        "rollup_orders": rollup_orders,
        "pivot_order_priority": pivot_order_priority,
        "set_ops_customers": set_ops_customers,
        # -- freshest driver rows (led in r5) — tail this round
        "boilerplate_strip": boilerplate_strip,
        "decontaminate_corpus": decontaminate_corpus,
        "extract_blocks": extract_blocks,
        "extract_page_stats": extract_page_stats,
        "pii_redaction": pii_redaction,
        "repetition_scores": repetition_scores,
        "stream_window_counts": stream_window_counts,
    }


# ---------------------------------------------------------------------------
# DuckDB oracles
# ---------------------------------------------------------------------------

def oracle_sql() -> dict[str, str]:
    words_pred = " OR ".join(
        f"contains(lower(text), '{w}')" for w in SEARCH_WORDS
    )
    return {
        "q1_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   CAST(sum(l_quantity) AS DOUBLE) AS sum_qty,
                   CAST(sum(l_extendedprice) AS DOUBLE) AS sum_base_price,
                   CAST(sum(l_extendedprice * (1 - l_discount)) AS DOUBLE) AS sum_disc_price,
                   CAST(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)) AS DOUBLE) AS sum_charge,
                   floor(avg(l_quantity) * 1e6 + 0.5) / 1e6 AS avg_qty,
                   floor(avg(l_extendedprice) * 1e6 + 0.5) / 1e6 AS avg_price,
                   floor(avg(l_discount) * 1e6 + 0.5) / 1e6 AS avg_disc,
                   count(*) AS count_order
            FROM lineitem WHERE l_shipdate <= DATE '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus
        """,
        "q3_shipping_priority": """
            SELECT l_orderkey,
                   CAST(o_orderdate AS VARCHAR) AS o_orderdate,
                   floor(CAST(sum(l_extendedprice * (1 - l_discount)) AS DOUBLE) * 1e4 + 0.5) / 1e4 AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            WHERE c_mktsegment = 'BUILDING'
              AND o_orderdate < DATE '1995-03-15'
              AND l_shipdate > DATE '1995-03-15'
            GROUP BY l_orderkey, o_orderdate
            ORDER BY sum(l_extendedprice * (1 - l_discount)) DESC, l_orderkey
            LIMIT 10
        """,
        "q5_supplier_volume": """
            SELECT n_name,
                   floor(CAST(sum(l_extendedprice * (1 - l_discount)) AS DOUBLE) * 1e4 + 0.5) / 1e4 AS revenue,
                   count(*) AS n_items
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            WHERE c_nationkey = s_nationkey
            GROUP BY n_name
            ORDER BY revenue DESC
        """,
        "topk_orders_per_customer": """
            SELECT o_custkey, o_orderkey, o_totalprice, rank FROM (
              SELECT o_custkey, o_orderkey, o_totalprice,
                     row_number() OVER (PARTITION BY o_custkey
                                        ORDER BY o_totalprice DESC, o_orderkey)
                       AS rank
              FROM orders) WHERE rank <= 3
        """,
        "sessionize_events": """
            WITH gapped AS (
              SELECT user_id, value, ts, event_id,
                     CASE WHEN epoch(ts) - lag(epoch(ts)) OVER w > 1800
                          THEN 1 ELSE 0 END AS new_session
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ), sessions AS (
              SELECT user_id, value,
                     CAST(sum(new_session) OVER (PARTITION BY user_id
                       ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS BIGINT) AS session_no
              FROM gapped
            )
            SELECT user_id, session_no, count(*) AS n_events,
                   floor(sum(value) * 1e4 + 0.5) / 1e4 AS session_value
            FROM sessions GROUP BY user_id, session_no
        """,
        "a1_word_counts": f"""
            SELECT doc_id, text, count(*) AS n
            FROM ({_BLOCKS_SQL}) GROUP BY doc_id, text
        """,
        "a2_unique_words": f"""
            SELECT doc_id,
                   string_agg(DISTINCT text, ',' ORDER BY text) AS unique_words,
                   count(DISTINCT text) AS n_unique
            FROM ({_BLOCKS_SQL}) GROUP BY doc_id
        """,
        "a5_ascii_histogram": """
            WITH chars AS (
              SELECT unnest(string_split(text, '')) AS ch FROM documents
            ), counts AS (
              SELECT ch, count(*) AS n FROM chars GROUP BY ch
            ), domain AS (
              SELECT range AS code, chr(CAST(range AS INT)) AS ch
              FROM range(32, 127)
            )
            SELECT code, coalesce(n, 0) AS n
            FROM domain LEFT JOIN counts USING (ch) ORDER BY code
        """,
        "a6_conf_by_text": f"""
            SELECT doc_id, text,
                   string_agg(DISTINCT CAST(conf AS VARCHAR), ','
                              ORDER BY CAST(conf AS VARCHAR)) AS confs_lex,
                   count(DISTINCT conf) AS n_confs
            FROM ({_BLOCKS_SQL}) GROUP BY doc_id, text
        """,
        "a7_docs_per_source": """
            SELECT source, count(*) AS n_docs,
                   CAST(sum(n_chars) AS BIGINT) AS sum_chars
            FROM documents GROUP BY source
        """,
        "j3_keyword_search": f"""
            SELECT DISTINCT doc_id FROM ({_BLOCKS_SQL})
            WHERE {words_pred} ORDER BY doc_id
        """,
        "j3_indexed_search": f"""
            SELECT DISTINCT doc_id FROM ({_BLOCKS_SQL})
            WHERE {words_pred} ORDER BY doc_id
        """,
        "stream_window_counts": """
            SELECT CAST(time_bucket(INTERVAL '1 hour', ts) AS VARCHAR)
                     AS window_start,
                   event_type, count(*) AS n,
                   floor(sum(value) * 1e4 + 0.5) / 1e4 AS total_value
            FROM events GROUP BY 1, 2
        """,
        "j4_indoc_matches": f"""
            SELECT doc_id, count(*) AS n_matches
            FROM ({_BLOCKS_SQL}) b
            JOIN (SELECT unnest({SEARCH_WORDS!r}) AS word) w
              ON contains(lower(b.text), w.word)
            GROUP BY doc_id
        """,
        "j5_name_search": """
            SELECT doc_id, source || '-doc' || CAST(doc_id AS VARCHAR) AS name
            FROM documents
            WHERE contains(lower(source || '-doc' || CAST(doc_id AS VARCHAR)),
                           'rc1-doc1')
            ORDER BY lower(name)
        """,
        "bm25_ranked_search": f"""
            WITH b AS (
              SELECT CAST(doc_id AS VARCHAR) AS url, text AS term
              FROM ({_BLOCKS_SQL})
            ), dl AS (
              SELECT url, count(*) AS dl FROM b GROUP BY url
            ), stats AS (
              SELECT count(*) AS n, avg(dl) AS avg_dl FROM dl
            ), terms AS (
              SELECT unnest({BM25_WORDS!r}) AS term
            ), m AS (
              SELECT b.url, b.term FROM b JOIN terms USING (term)
            ), dft AS (
              SELECT term, count(DISTINCT url) AS df FROM m GROUP BY term
            ), tf AS (
              SELECT url, term, count(*) AS tf FROM m GROUP BY url, term
            )
            SELECT tf.url AS url,
                   floor(sum(
                     ln(1.0 + (stats.n - dft.df + 0.5) / (dft.df + 0.5))
                     * tf.tf
                     / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / stats.avg_dl))
                   ) * 1e6 + 0.5) / 1e6 AS score
            FROM tf
            JOIN dft USING (term)
            JOIN dl ON dl.url = tf.url
            CROSS JOIN stats
            GROUP BY tf.url
            ORDER BY score DESC, url
        """,
        "f6_conf_colors": f"""
            SELECT CASE WHEN conf >= 80 THEN 'green'
                        WHEN conf >= 40 THEN 'blue'
                        ELSE 'red' END AS color,
                   count(*) AS n
            FROM ({_BLOCKS_SQL}) GROUP BY 1 ORDER BY color
        """,
        "w5_navigation": f"""
            WITH matched AS (
              SELECT DISTINCT doc_id FROM ({_BLOCKS_SQL}) WHERE {words_pred}
            )
            SELECT min(doc_id) AS first,
                   min(CASE WHEN doc_id > {NAV_CURRENT} THEN doc_id END) AS next,
                   max(CASE WHEN doc_id < {NAV_CURRENT} THEN doc_id END) AS prev
            FROM matched
        """,
        "w6_first_doc_per_source": """
            SELECT source, min(doc_id) AS first_doc,
                   min_by(n_chars, doc_id) AS first_chars
            FROM documents GROUP BY source
        """,
        "j7_accuracy": """
            WITH pred_rows AS (
              SELECT 'eval' AS url, unnest(string_split(text, ' ')) AS pred
              FROM documents WHERE doc_id < 10
            ), pred AS (
              -- row_number must run AFTER the unnest expansion: one id
              -- per predicted word INSTANCE (reference iterates preds)
              SELECT url, pred, row_number() OVER () AS pred_id
              FROM pred_rows
            ), exp AS (
              SELECT DISTINCT 'eval' AS url,
                     unnest(string_split(text, ' ')) AS exp
              FROM documents WHERE doc_id = 10
            ), per_pred AS (
              SELECT p.url, p.pred_id,
                     max(CASE WHEN (length(p.pred) <= 3 AND p.pred = e.exp)
                               OR levenshtein(p.pred, e.exp) <= 1
                          THEN 1 ELSE 0 END) AS correct
              FROM pred p JOIN exp e USING (url)
              GROUP BY p.url, p.pred_id
            ), n_exp AS (
              SELECT url, count(*) AS n_expected FROM exp GROUP BY url
            )
            SELECT per.url AS url,
                   CAST(sum(per.correct) AS BIGINT) AS n_correct,
                   any_value(n_exp.n_expected) AS n_expected,
                   floor(CAST(sum(per.correct) AS DOUBLE)
                         / any_value(n_exp.n_expected) * 1e6 + 0.5) / 1e6
                     AS score
            FROM per_pred per JOIN n_exp ON per.url = n_exp.url
            GROUP BY per.url
        """,
        "dedup_exact": """
            SELECT d.doc_id, c.canonical_id,
                   d.doc_id != c.canonical_id AS is_duplicate
            FROM documents d
            JOIN (SELECT text, min(doc_id) AS canonical_id
                  FROM documents GROUP BY text) c
              ON d.text = c.text
        """,
        "running_window_sum": """
            SELECT user_id, event_id,
                   floor(sum(value) OVER (PARTITION BY user_id
                     ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     * 1e4 + 0.5) / 1e4 AS running_value
            FROM events
        """,
        "rollup_orders": """
            SELECT o_orderstatus, o_orderpriority, count(*) AS n,
                   floor(CAST(sum(o_totalprice) AS DOUBLE) * 1e2 + 0.5) / 1e2
                     AS total
            FROM orders
            GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
        """,
        "pivot_order_priority": """
            SELECT o_orderstatus,
                   count(*) FILTER (o_orderpriority = '1-URGENT') AS p1,
                   count(*) FILTER (o_orderpriority = '2-HIGH') AS p2,
                   count(*) FILTER (o_orderpriority = '3-MEDIUM') AS p3,
                   count(*) FILTER (o_orderpriority = '4-NOT SPECIFIED') AS p4,
                   count(*) FILTER (o_orderpriority = '5-LOW') AS p5
            FROM orders GROUP BY o_orderstatus
        """,
        "set_ops_customers": """
            SELECT DISTINCT c_custkey FROM (
              (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
               INTERSECT
               SELECT c_custkey FROM customer WHERE c_acctbal > 5000)
              EXCEPT
              SELECT c_custkey FROM customer WHERE c_nationkey < 12
            ) ORDER BY c_custkey
        """,
        "percentile_prices": """
            SELECT o_orderstatus,
                   floor(quantile_cont(o_totalprice, 0.5) * 1e4 + 0.5) / 1e4
                     AS p50,
                   floor(quantile_cont(o_totalprice, 0.9) * 1e4 + 0.5) / 1e4
                     AS p90,
                   count(*) AS n
            FROM orders GROUP BY o_orderstatus
        """,
        "boilerplate_strip": """
            SELECT CAST(doc_id AS VARCHAR) AS url,
                   CASE WHEN len(string_split(text, ' ')) >= 10
                        THEN text ELSE '' END AS main_text,
                   4 AS n_blocks,
                   CASE WHEN len(string_split(text, ' ')) >= 10
                        THEN 1 ELSE 0 END AS n_content_blocks
            FROM documents
        """,
        "dedup_minhash_lsh": _minhash_oracle(),
        "dedup_simhash": _simhash_oracle(),
        "dedup_simhash_pairs": f"""
            WITH sh AS ({_simhash_oracle(bits=32)})
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
            FROM sh a JOIN sh b ON a.doc_id < b.doc_id
            WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
        """,
        "dedup_ngram_jaccard": _ngram_jaccard_oracle(),
        "dedup_clusters": f"""
            WITH RECURSIVE pairs AS (
              SELECT doc_a, doc_b FROM ({_minhash_oracle()})
            ), edges AS (
              SELECT doc_a AS src, doc_b AS dst FROM pairs
              UNION
              SELECT doc_b AS src, doc_a AS dst FROM pairs
            ), nodes AS (
              SELECT DISTINCT src AS node FROM edges
            ), reach(node, label) AS (
              SELECT node, node FROM nodes
              UNION
              SELECT e.dst AS node, r.label
              FROM reach r JOIN edges e ON e.src = r.node
            )
            SELECT node AS doc_id, min(label) AS cluster_id
            FROM reach GROUP BY node ORDER BY doc_id
        """,
        "dedup_keep_best": f"""
            WITH RECURSIVE pairs AS (
              SELECT doc_a, doc_b FROM ({_minhash_oracle()})
            ), edges AS (
              SELECT doc_a AS src, doc_b AS dst FROM pairs
              UNION
              SELECT doc_b AS src, doc_a AS dst FROM pairs
            ), nodes AS (
              SELECT DISTINCT src AS node FROM edges
            ), reach(node, label) AS (
              SELECT node, node FROM nodes
              UNION
              SELECT e.dst AS node, r.label
              FROM reach r JOIN edges e ON e.src = r.node
            ), labels AS (
              SELECT node AS doc_id, min(label) AS cluster_id
              FROM reach GROUP BY node
            ), q AS ({_quality_oracle()}),
            clustered AS (
              SELECT q.doc_id,
                     COALESCE(l.cluster_id, q.doc_id) AS cluster_id,
                     q.quality
              FROM q LEFT JOIN labels l USING (doc_id)
            ), ranked AS (
              SELECT *, row_number() OVER (
                       PARTITION BY cluster_id
                       ORDER BY quality DESC, doc_id) AS rk
              FROM clustered
            )
            SELECT doc_id, cluster_id, quality, (rk = 1) AS keep
            FROM ranked
        """,
        "ann_cosine_topk": """
            -- DOUBLE[] cast: list_cosine_similarity on float[] returns a
            -- float32, which widens to e.g. 0.2549999952 in pandas while
            -- Spark's fold is double-precision. Rounding mirrors the Spark
            -- side exactly: operator floor-rounds to 6dp, entry to 3dp.
            WITH scored AS (
              SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                     list_cosine_similarity(
                       CAST(q.embedding AS DOUBLE[]),
                       CAST(c.embedding AS DOUBLE[])) AS cos_raw
              FROM embeddings q JOIN embeddings c
                ON q.vec_id < 8 AND q.vec_id != c.vec_id
            ), ranked AS (
              SELECT query_id, neighbor_id, cos_raw,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY cos_raw DESC, neighbor_id)
                       AS rank
              FROM scored
            )
            SELECT query_id, neighbor_id,
                   floor(floor(cos_raw * 1e6 + 0.5) / 1e6 * 1e3 + 0.5) / 1e3
                     AS cosine,
                   rank
            FROM ranked WHERE rank <= 5
        """,
        "ann_lsh_topk": _ann_recall_oracle("ann_lsh_topk"),
        "ann_ivf_topk": _ann_recall_oracle(
            "ann_ivf_topk", floor=0.2, mean_floor=0.6
        ),
        "embedding_near_dups": f"""
            -- recall of the dumped LSH-blocked pairs vs the exact
            -- all-pairs truth recomputed here (quadratic: audit scale)
            WITH truth AS (
              SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
              FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
              WHERE list_cosine_similarity(
                      CAST(a.embedding AS DOUBLE[]),
                      CAST(b.embedding AS DOUBLE[])) >= 0.35
            ), found AS (
              -- dumps are namespaced per sf dir; the corpus_fp stamp
              -- pairs this oracle with the dump from ITS corpus
              SELECT DISTINCT vec_a, vec_b
              FROM read_parquet('{os.path.join(_ANN_DUMPS, "*", "embedding_near_dups")}/*.parquet')
              WHERE corpus_fp = ({_CORPUS_FP_SQL})
            ), f AS (
              SELECT CAST(count(*) AS BIGINT) AS n_found
              FROM found JOIN truth USING (vec_a, vec_b)
            ), t AS (
              SELECT CAST(count(*) AS BIGINT) AS n_true FROM truth
            )
            SELECT n_found, n_true,
                   floor(n_found * 1.0 / n_true * 1e6 + 0.5) / 1e6
                     AS recall,
                   (n_found * 1.0 / n_true >= 0.9) AS passed
            FROM f CROSS JOIN t
        """,
        "lang_id": _lang_id_oracle(),
        "quality_scores": _quality_oracle(),
        "token_counts": r"""
            SELECT doc_id,
                   len(list_filter(string_split_regex(trim(text), '\s+'),
                                   x -> x != '')) AS n_ws_tokens,
                   len(regexp_extract_all(text,
                       '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS n_bpe_tokens,
                   length(text) AS n_chars_seen
            FROM documents
        """,
        "doc_fingerprints": """
            WITH grams AS (
              SELECT doc_id,
                     [md5(substring(text, i, 5))
                      FOR i IN range(1, greatest(length(text) - 4, 1) + 1)]
                       AS hs
              FROM documents
            )
            SELECT doc_id,
                   array_to_string(list_sort(hs)[1:4], '') AS fingerprint
            FROM grams
        """,
        "asof_attribution": """
            WITH clicks AS (
              SELECT user_id, ts,
                     max(event_id) AS click_id,
                     arg_max(value, event_id) AS click_value
              FROM events WHERE event_type = 'click'
              GROUP BY user_id, ts
            ), purchases AS (
              SELECT user_id, ts, event_id, value FROM events
              WHERE event_type = 'purchase'
            )
            SELECT p.event_id, p.user_id, CAST(p.ts AS VARCHAR) AS ts,
                   p.value, c.click_id AS asof_click_id,
                   c.click_value AS asof_click_value
            FROM purchases p ASOF LEFT JOIN clicks c
              ON p.user_id = c.user_id AND p.ts >= c.ts
        """,
        "range_join_events": """
            SELECT p.event_id AS point_id, s.event_id AS interval_id
            FROM (SELECT event_id, ts FROM events
                  WHERE event_type = 'purchase') p
            JOIN (SELECT event_id, ts FROM events
                  WHERE event_type = 'signup') s
              ON p.ts >= s.ts AND p.ts < s.ts + INTERVAL 600 SECONDS
        """,
        "clean_corpus": rf"""
            WITH lang AS ({_lang_id_oracle()}),
            qual AS ({_quality_oracle()}),
            kept AS (
              SELECT d.doc_id, d.text, lang.pred_lang, qual.quality
              FROM documents d
              JOIN lang USING (doc_id) JOIN qual USING (doc_id)
              WHERE lang.pred_lang = 'en' AND qual.quality >= 0.55
            ), canon AS (
              SELECT doc_id FROM (
                SELECT doc_id, min(doc_id) OVER (PARTITION BY text) AS c
                FROM kept
              ) WHERE doc_id = c
            )
            SELECT k.doc_id, k.pred_lang, k.quality
            FROM kept k JOIN canon USING (doc_id)
            WHERE CAST(('0x' || substr(md5('clean|' || CAST(k.doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
                    / 4294967296.0 < 0.5
        """,
        "sample_stratified": r"""
            WITH s AS (
              SELECT doc_id,
                     CASE WHEN length(text) < 150 THEN 'short'
                          WHEN length(text) < 300 THEN 'mid'
                          ELSE 'long' END AS stratum
              FROM documents
            )
            SELECT doc_id, stratum FROM s
            WHERE CAST(('0x' || substr(md5('sample|' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
                    / 4294967296.0
                  < CASE stratum WHEN 'short' THEN 0.1
                                 WHEN 'mid' THEN 0.5 ELSE 1.0 END
        """,
        "pack_shards": r"""
            WITH staged AS (
              SELECT doc_id,
                     CAST(('0x' || substr(md5('pack|' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 8
                       AS bucket,
                     CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
                                          x -> x != '')) AS BIGINT)
                       AS n_tokens
              FROM documents
            ), cum AS (
              SELECT *, sum(n_tokens) OVER (
                       PARTITION BY bucket ORDER BY doc_id
                       ROWS UNBOUNDED PRECEDING) AS c
              FROM staged
            )
            SELECT doc_id, bucket,
                   CAST(floor((c - n_tokens) / 300.0) AS INT) AS shard,
                   n_tokens
            FROM cum
        """,
        "pii_redaction": r"""
            WITH planted AS (
              SELECT doc_id,
                     text || ' contact u' || CAST(doc_id AS VARCHAR)
                       || '@example.com at 10.0.'
                       || CAST(doc_id % 200 AS VARCHAR) || '.'
                       || CAST((doc_id * 7) % 250 AS VARCHAR)
                       || ' or 555-'
                       || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
                       || '-'
                       || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                       AS text
              FROM documents
            )
            SELECT doc_id,
                   CAST(len(regexp_extract_all(text,
                     '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
                     AS BIGINT) AS n_email,
                   CAST(len(regexp_extract_all(text,
                     '\b(?:\d{1,3}\.){3}\d{1,3}\b')) AS BIGINT)
                     AS n_ipv4,
                   CAST(len(regexp_extract_all(text,
                     '(?:\+1[-. ]?)?(?:\(\d{3}\)[-. ]?|\b\d{3}[-. ])\d{3}[-. ]\d{4}\b'))
                     AS BIGINT) AS n_phone,
                   regexp_replace(regexp_replace(regexp_replace(text,
                     '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                     '<email>', 'g'),
                     '\b(?:\d{1,3}\.){3}\d{1,3}\b', '<ipv4>', 'g'),
                     '(?:\+1[-. ]?)?(?:\(\d{3}\)[-. ]?|\b\d{3}[-. ])\d{3}[-. ]\d{4}\b',
                     '<phone>', 'g')
                     AS redacted_text
            FROM planted
        """,
        "repetition_scores": r"""
            -- LEFT JOIN back to documents so a null-text doc emits a
            -- null-stats ROW (matching the Spark operator) instead of
            -- vanishing: string_split(NULL) unnests to no rows, which
            -- silently dropped the doc pre-round-4
            WITH ws AS (
              SELECT doc_id, string_split(text, ' ') AS w FROM documents
              WHERE text IS NOT NULL
            ), g AS (
              SELECT doc_id,
                     CASE WHEN i + 1 <= len(w)
                            THEN w[i] || ' ' || w[i + 1]
                          ELSE w[i] END AS gram
              FROM ws, LATERAL (
                SELECT unnest(range(1, greatest(len(w) - 1, 1) + 1)) AS i)
            ), per_gram AS (
              SELECT doc_id, gram, count(*) AS c FROM g
              GROUP BY doc_id, gram
            ), agg AS (
              SELECT doc_id,
                     CAST(sum(c) AS BIGINT) AS n_ngrams,
                     CAST(count(*) AS BIGINT) AS n_unique,
                     floor((1 - count(*) * 1.0 / sum(c)) * 1e6 + 0.5) / 1e6
                       AS dup_ngram_frac,
                     floor((max(c) * 1.0 / sum(c)) * 1e6 + 0.5) / 1e6
                       AS top_gram_frac
              FROM per_gram GROUP BY doc_id
            )
            SELECT d.doc_id, a.n_ngrams, a.n_unique,
                   a.dup_ngram_frac, a.top_gram_frac
            FROM documents d LEFT JOIN agg a USING (doc_id)
        """,
        "url_canonical_dedup": r"""
            WITH base AS (
              SELECT doc_id, CAST(doc_id % 25 AS VARCHAR) AS p
              FROM documents
            ), u AS (
              SELECT doc_id,
                CASE doc_id % 4
                  WHEN 0 THEN 'http://site' || p || '.com/p/' || p
                              || '?a=1&b=2'
                  WHEN 1 THEN 'HTTP://SITE' || p || '.COM:80/p/' || p
                              || '?b=2&a=1#frag'
                  WHEN 2 THEN 'http://site' || p || '.com/p/' || p
                              || '?utm_source=x&a=1&b=2'
                  ELSE 'http://site' || p || '.com:80/p/' || p
                       || '?a=1&utm_campaign=y&b=2#x'
                END AS url
              FROM base
            ), parts AS (
              SELECT doc_id, url,
                lower(regexp_extract(url,
                  '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
                lower(regexp_extract(url,
                  '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)) AS hostport,
                regexp_extract(url,
                  '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1)
                  AS path0,
                regexp_extract(regexp_replace(url, '#[\s\S]*', ''),
                  '\?([^#]*)', 1) AS query
              FROM u
            ), c AS (
              SELECT doc_id,
                scheme || '://'
                || CASE WHEN scheme = 'http'
                          THEN regexp_replace(hostport, ':80$', '')
                        WHEN scheme = 'https'
                          THEN regexp_replace(hostport, ':443$', '')
                        ELSE hostport END
                || CASE WHEN path0 = '' THEN '/' ELSE path0 END
                || CASE WHEN kept != '' THEN '?' || kept ELSE '' END
                  AS canonical_url
              FROM (
                SELECT *, array_to_string(list_sort(list_filter(
                         string_split(query, '&'),
                         x -> x != '' AND NOT regexp_matches(x,
                           '^(utm_[A-Za-z0-9_]*|fbclid|gclid)='))), '&')
                         AS kept
                FROM parts)
            ), g AS (
              SELECT canonical_url, min(doc_id) AS canonical_id
              FROM c GROUP BY canonical_url
            )
            SELECT c.doc_id, c.canonical_url, g.canonical_id,
                   (c.doc_id != g.canonical_id) AS is_duplicate
            FROM c JOIN g USING (canonical_url)
        """,
        "sample_top_n_per_source": """
            WITH ranked AS (
              SELECT doc_id, source, lang,
                     row_number() OVER (
                       PARTITION BY source
                       ORDER BY CAST(('0x' || substr(md5('topn|' ||
                         CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT),
                         doc_id) AS rk
              FROM documents
            )
            SELECT doc_id, source, lang FROM ranked WHERE rk <= 10
        """,
        "rebalance_mixture": """
            WITH c AS (
              SELECT lang, count(*) AS n FROM documents GROUP BY lang
            ), t(lang, t) AS (
              VALUES ('en', CAST(0.5 AS DOUBLE)),
                     ('es', CAST(0.2 AS DOUBLE)),
                     ('de', CAST(0.2 AS DOUBLE)),
                     ('fr', CAST(0.1 AS DOUBLE))
            ), j AS (
              SELECT c.lang, c.n, t.t FROM c JOIN t USING (lang)
              WHERE t.t > 0 AND c.n > 0
            ), tot AS (
              SELECT min(n / t) AS total FROM j
            ), fr AS (
              SELECT lang, (SELECT total FROM tot) * t / n AS f FROM j
            )
            SELECT d.doc_id, d.lang
            FROM documents d JOIN fr USING (lang)
            WHERE CAST(('0x' || substr(md5('mix|' ||
                    CAST(d.doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
                  / 4294967296.0 < fr.f
        """,
        "gopher_quality": r"""
            WITH staged AS (
              SELECT doc_id,
                     list_filter(string_split_regex(trim(text), '\s+'),
                                 x -> x != '') AS w,
                     string_split(text, chr(10)) AS l,
                     length(regexp_replace(text, '\s', '', 'g'))
                       AS word_chars,
                     length(text) - length(replace(text, '#', ''))
                       AS n_hash,
                     len(regexp_extract_all(text, '\.\.\.')) AS n_ell
              FROM documents
            ), m AS (
              SELECT doc_id,
                     len(w) AS nw, len(l) AS nl,
                     greatest(len(w), 1) AS nw1,
                     greatest(len(l), 1) AS nl1,
                     word_chars, n_hash, n_ell,
                     len(list_filter(l,
                       x -> regexp_matches(trim(x), '^[-*•]')))
                       AS n_bullet,
                     len(list_filter(l,
                       x -> regexp_matches(x, '(\.\.\.|…)$')))
                       AS n_ell_lines,
                     len(list_filter(w,
                       x -> regexp_matches(x, '[a-zA-Z]')))
                       AS n_alpha,
                     len(list_intersect(
                       list_distinct(list_transform(w, x -> lower(x))),
                       ['the','be','to','of','and','that','have','with']))
                       AS n_req
              FROM staged
            )
            SELECT doc_id,
                   CAST(nw AS BIGINT) AS n_words,
                   floor(word_chars * 1.0 / nw1 * 1e6 + 0.5) / 1e6
                     AS mean_word_len,
                   floor((n_hash + n_ell) * 1.0 / nw1 * 1e6 + 0.5) / 1e6
                     AS symbol_word_ratio,
                   floor(n_bullet * 1.0 / nl1 * 1e6 + 0.5) / 1e6
                     AS bullet_line_frac,
                   floor(n_ell_lines * 1.0 / nl1 * 1e6 + 0.5) / 1e6
                     AS ellipsis_line_frac,
                   floor(n_alpha * 1.0 / nw1 * 1e6 + 0.5) / 1e6
                     AS alpha_word_frac,
                   CAST(n_req AS BIGINT) AS n_req_stopwords,
                   (nw >= 50 AND nw <= 100000
                    AND word_chars * 1.0 / nw1 >= 3.0
                    AND word_chars * 1.0 / nw1 <= 10.0
                    AND (n_hash + n_ell) * 1.0 / nw1 <= 0.1
                    AND n_bullet * 1.0 / nl1 <= 0.9
                    AND n_ell_lines * 1.0 / nl1 <= 0.3
                    AND n_alpha * 1.0 / nw1 >= 0.8
                    AND n_req >= 2) AS passes_gopher
            FROM m
        """,
        "line_dedup": r"""
            WITH ws AS (
              SELECT doc_id,
                     list_filter(string_split_regex(trim(text), '\s+'),
                                 x -> x != '') AS w
              FROM documents
            ), lined AS (
              SELECT doc_id,
                     array_to_string(
                       [array_to_string(w[i * 5 + 1 : i * 5 + 5], ' ')
                        FOR i IN range(0, greatest(
                          CAST(ceil(len(w) / 5.0) AS INT), 1))],
                       chr(10)) AS text
              FROM ws
            ), ln AS (
              SELECT doc_id,
                     unnest(string_split(text, chr(10))) AS line,
                     unnest(range(1, len(string_split(text, chr(10))) + 1))
                       AS line_no
              FROM lined
            ), freq AS (
              SELECT line, count(DISTINCT doc_id) AS d
              FROM ln GROUP BY line
            ), kept AS (
              SELECT ln.doc_id, ln.line, ln.line_no
              FROM ln JOIN freq USING (line) WHERE freq.d < 2
            ), reb AS (
              SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
                     string_agg(line, chr(10) ORDER BY line_no)
                       AS clean_text
              FROM kept GROUP BY doc_id
            )
            SELECT l.doc_id,
                   CAST(len(string_split(l.text, chr(10))) AS BIGINT)
                     AS n_lines,
                   COALESCE(r.n_kept, 0) AS n_kept,
                   COALESCE(r.clean_text, '') AS clean_text
            FROM lined l LEFT JOIN reb r USING (doc_id)
        """,
        "domain_stats": """
            SELECT source,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(n_chars) AS BIGINT) AS total_chars,
                   floor(sum(n_chars) * 1.0 / count(*) * 1e6 + 0.5) / 1e6
                     AS mean_chars
            FROM documents GROUP BY source
        """,
        "decontaminate_corpus": r"""
            WITH ws AS (
              SELECT doc_id, string_split(text, ' ') AS w FROM documents
            ), sh AS (
              SELECT DISTINCT doc_id,
                     CASE WHEN i + 2 <= len(w)
                            THEN w[i] || ' ' || w[i + 1] || ' ' || w[i + 2]
                          WHEN i + 1 <= len(w)
                            THEN w[i] || ' ' || w[i + 1]
                          ELSE w[i] END AS shingle
              FROM ws, LATERAL (
                SELECT unnest(range(1, greatest(len(w) - 2, 1) + 1)) AS i)
            ), tr AS (
              SELECT doc_id, shingle FROM sh WHERE doc_id >= 25
            ), ev AS (
              SELECT doc_id AS eval_id, shingle FROM sh WHERE doc_id < 25
            )
            SELECT tr.doc_id, ev.eval_id,
                   CAST(count(*) AS BIGINT) AS shared_ngrams
            FROM tr JOIN ev USING (shingle)
            GROUP BY tr.doc_id, ev.eval_id
            HAVING count(*) >= 2
        """,
        # Both extract oracles read the COMMITTED raw-decode fixture
        # (_EXTRACT_FIXTURE) while the Spark entries decode live — the
        # hash compare therefore also gates decode drift. These SQLs
        # transcribe everything AFTER the decode. The whitespace class
        # mirrors Java \s + NEL/NBSP; '' never matches (quirk F1: kept).
        "extract_blocks": rf"""
            WITH src AS (
              SELECT url, page_no, raw
              FROM read_parquet('{_EXTRACT_FIXTURE}/*.parquet')
            ), ex AS (
              SELECT url, page_no, unnest(raw) AS r FROM src
            )
            SELECT url, page_no,
                   r.block_no AS block_no, r."left" AS "left",
                   r.top AS top, r.width AS width, r.height AS height,
                   r.conf AS conf, r.text AS text
            FROM ex
            WHERE NOT regexp_matches(r.text, '^[\s\x{{0085}}\x{{00a0}}]+$')
        """,
        "extract_page_stats": rf"""
            WITH src AS (
              SELECT url, page_no, raw
              FROM read_parquet('{_EXTRACT_FIXTURE}/*.parquet')
            ), per AS (
              SELECT url, page_no,
                list_sort(list_distinct(list_transform(
                  list_filter(raw, r -> NOT regexp_matches(
                    r.text, '^[\s\x{{0085}}\x{{00a0}}]+$')),
                  r -> r.text))) AS ut,
                -- char stats use the RAW texts incl. whitespace-only
                -- rows (OcrPageData.py:41-43)
                array_to_string(list_transform(raw, r -> r.text), '')
                  AS s
              FROM src
            )
            SELECT url, page_no,
                   array_to_string(ut, ',') AS unique_texts,
                   array_to_string(list_transform(range(32, 127),
                     c -> CAST(length(s) - length(replace(s,
                            chr(CAST(c AS INT)), '')) AS VARCHAR)), ',')
                     AS ascii_histogram
            FROM per
        """,
    }


def _ann_recall_oracle(
    name: str, floor: float = 0.6, mean_floor: float = 0.9
) -> str:
    """DuckDB recall arithmetic over an ANN entry's dumped approx ids:
    exact top-5 per query recomputed from embeddings (same ranking +
    tie-break as brute_force_topk / the ann_cosine_topk oracle), joined
    against the dump, then per-query recall + micro mean + floors —
    mirroring operators.similarity.recall_at_k column for column.

    The dump glob spans every sf-dir namespace; the ``corpus_fp``
    content stamp (see _corpus_fp) selects the dump written from THIS
    corpus (round-5 ADVICE fix)."""
    dump = os.path.join(_ANN_DUMPS, "*", name)
    return f"""
        WITH scored AS (
          SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                 list_cosine_similarity(
                   CAST(q.embedding AS DOUBLE[]),
                   CAST(c.embedding AS DOUBLE[])) AS cos_raw
          FROM embeddings q JOIN embeddings c
            ON q.vec_id < 8 AND q.vec_id != c.vec_id
        ), exact AS (
          SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY cos_raw DESC, neighbor_id)
                     AS rank
            FROM scored)
          WHERE rank <= 5
        ), approx AS (
          SELECT DISTINCT query_id, neighbor_id
          FROM read_parquet('{dump}/*.parquet')
          WHERE corpus_fp = ({_CORPUS_FP_SQL})
        ), per_q AS (
          SELECT e.query_id,
                 CAST(count(*) AS BIGINT) AS n_exact,
                 CAST(count(a.neighbor_id) AS BIGINT) AS n_hit
          FROM exact e LEFT JOIN approx a
            ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
          GROUP BY e.query_id
        )
        SELECT query_id, n_hit, n_exact,
               floor(n_hit * 1.0 / n_exact * 1e6 + 0.5) / 1e6 AS recall,
               floor(sum(n_hit) OVER () * 1.0 / sum(n_exact) OVER ()
                     * 1e6 + 0.5) / 1e6 AS mean_recall,
               (n_hit * 1.0 / n_exact >= {floor}
                AND sum(n_hit) OVER () * 1.0 / sum(n_exact) OVER ()
                    >= {mean_floor})
                 AS passed
        FROM per_q
    """


def _minhash_oracle(
    n_hashes: int = 8, rows_per_band: int = 2, threshold: float = 0.3
) -> str:
    """DuckDB transcription of the MinHash-LSH pipeline (word 2-shingles,
    universal-hash min-hashing over one md5 per shingle, banded buckets,
    exact Jaccard verification). The (seed, a, b) coefficients are the
    same md5-derived integers the Spark side uses
    (studiocr_spark.operators.dedup.minhash_params)."""
    from studiocr_spark.operators.dedup import MH_PRIME, minhash_params

    a_co, b_co = minhash_params(n_hashes)
    seed_rows = ", ".join(
        f"({j}, {a_co[j]}, {b_co[j]})" for j in range(n_hashes)
    )
    return f"""
        WITH ws AS (
          SELECT doc_id, string_split(text, ' ') AS w FROM documents
        ), sh AS (
          SELECT DISTINCT doc_id,
                 CASE WHEN i + 1 <= len(w) THEN w[i] || ' ' || w[i + 1]
                      ELSE w[i] END AS shingle
          FROM ws, LATERAL (SELECT unnest(range(1, greatest(len(w) - 1, 1) + 1)) AS i)
        ), seeds(seed, a, b) AS (
          SELECT * FROM (VALUES {seed_rows}) v(seed, a, b)
        ), mh AS (
          SELECT doc_id, seed,
                 min((a * CAST(('0x' || substr(md5(shingle), 1, 8)) AS BIGINT)
                      + b) % {MH_PRIME}) AS minhash
          FROM sh CROSS JOIN seeds GROUP BY doc_id, seed
        ), bands AS (
          SELECT doc_id, CAST(seed / {rows_per_band} AS INT) AS band,
                 string_agg(CAST(minhash AS VARCHAR), ',' ORDER BY seed)
                   AS band_key
          FROM mh GROUP BY doc_id, CAST(seed / {rows_per_band} AS INT)
        ), cand AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM bands a JOIN bands b
            ON a.band = b.band AND a.band_key = b.band_key
           AND a.doc_id < b.doc_id
        ), shh AS (
          -- the "arrays" verify hashes each distinct shingle to a
          -- 60-bit int (first 15 hex chars of md5) — mirror it exactly
          SELECT doc_id,
                 CAST(('0x' || substr(md5(shingle), 1, 15)) AS BIGINT) AS sh
          FROM sh
        ), verified AS (
          SELECT c.doc_a, c.doc_b,
                 CAST(len(list_intersect(sa.shs, sb.shs)) AS DOUBLE)
                   / (len(sa.shs) + len(sb.shs)
                      - len(list_intersect(sa.shs, sb.shs))) AS j
          FROM cand c
          JOIN (SELECT doc_id, list(sh) AS shs FROM shh GROUP BY doc_id) sa
            ON sa.doc_id = c.doc_a
          JOIN (SELECT doc_id, list(sh) AS shs FROM shh GROUP BY doc_id) sb
            ON sb.doc_id = c.doc_b
        )
        SELECT doc_a, doc_b, floor(j * 1e6 + 0.5) / 1e6 AS jaccard
        FROM verified WHERE j >= {threshold}
    """


def _simhash_oracle(bits: int = 16) -> str:
    """Per-bit majority simhash; hex-digit parity == the Spark conv()%2."""
    bit_terms = " + ".join(
        f"(CASE WHEN sum(CASE WHEN strpos('13579bdf', substring(h, {b + 1}, 1)) > 0 "
        f"THEN 1 ELSE -1 END) > 0 THEN {2 ** b} ELSE 0 END)"
        for b in range(bits)
    )
    return f"""
        WITH words AS (
          SELECT doc_id, md5(unnest(string_split(text, ' '))) AS h
          FROM documents
        )
        SELECT doc_id, CAST({bit_terms} AS BIGINT) AS simhash
        FROM words GROUP BY doc_id
    """


def _ngram_jaccard_oracle(
    threshold: float = 0.3, max_doc_freq: int = 50
) -> str:
    return f"""
        WITH ws AS (
          SELECT doc_id, string_split(text, ' ') AS w FROM documents
        ), sh AS (
          SELECT DISTINCT doc_id,
                 CASE WHEN i + 1 <= len(w) THEN w[i] || ' ' || w[i + 1]
                      ELSE w[i] END AS shingle
          FROM ws, LATERAL (SELECT unnest(range(1, greatest(len(w) - 1, 1) + 1)) AS i)
        ), rare AS (
          SELECT shingle FROM sh GROUP BY shingle
          HAVING count(*) <= {max_doc_freq}
        ), blocked AS (SELECT sh.* FROM sh JOIN rare USING (shingle)
        ), cand AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM blocked a JOIN blocked b
            ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        ), verified AS (
          SELECT c.doc_a, c.doc_b,
                 CAST(len(list_intersect(sa.shs, sb.shs)) AS DOUBLE)
                   / len(list_distinct(list_concat(sa.shs, sb.shs))) AS j
          FROM cand c
          JOIN (SELECT doc_id, list(shingle) AS shs FROM sh GROUP BY doc_id) sa
            ON sa.doc_id = c.doc_a
          JOIN (SELECT doc_id, list(shingle) AS shs FROM sh GROUP BY doc_id) sb
            ON sb.doc_id = c.doc_b
        )
        SELECT doc_a, doc_b, floor(j * 1e6 + 0.5) / 1e6 AS jaccard
        FROM verified WHERE j >= {threshold}
    """


_SW = {
    "en": ["the", "a", "is", "of", "and", "to", "in", "it", "that", "for"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "es", "se", "no"],
    "de": ["der", "die", "das", "und", "ist", "von", "zu", "mit", "den", "ein"],
}


def _lang_id_oracle() -> str:
    ratios = ",\n".join(
        f"CAST(len(list_filter(ws, x -> list_contains({_SW[lang]!r}, lower(x)))) AS DOUBLE)"
        f" / greatest(len(ws), 1) AS score_{lang}"
        for lang in sorted(_SW)
    )
    langs = sorted(_SW)
    best = f"greatest({', '.join('score_' + lang for lang in langs)})"
    pred = "'und'"
    for lang in reversed(langs):
        pred = (
            f"CASE WHEN {best} > 0 AND score_{lang} = {best} "
            f"THEN '{lang}' ELSE {pred} END"
        )
    return rf"""
        WITH w AS (
          SELECT doc_id,
                 list_filter(string_split_regex(trim(text), '\s+'),
                             x -> x != '') AS ws
          FROM documents
        ), scored AS (SELECT doc_id, {ratios} FROM w)
        SELECT doc_id, {pred} AS pred_lang, floor({best} * 1e6 + 0.5) / 1e6 AS lang_score
        FROM scored
    """


def _quality_oracle() -> str:
    en = _SW["en"]
    return rf"""
        WITH base AS (
          SELECT doc_id, text,
                 list_filter(string_split_regex(trim(text), '\s+'),
                             x -> x != '') AS ws,
                 greatest(length(text), 1) AS n_chars,
                 length(text) - length(regexp_replace(text, '[^\w\s]', '', 'g'))
                   AS punct,
                 length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))
                   AS digits,
                 length(regexp_replace(text, '\s+', '', 'g')) AS wchars
          FROM documents
        ), m AS (
          SELECT doc_id, len(ws) AS n_words,
                 CAST(wchars AS DOUBLE) / greatest(len(ws), 1) AS mean_wl,
                 CAST(punct AS DOUBLE) / n_chars AS punct_r,
                 CAST(digits AS DOUBLE) / n_chars AS digit_r,
                 CAST(len(list_filter(ws, x -> list_contains({en!r}, lower(x))))
                      AS DOUBLE) / greatest(len(ws), 1) AS sw
          FROM base
        )
        SELECT doc_id, n_words,
               floor(mean_wl * 1e6 + 0.5) / 1e6 AS mean_word_len,
               floor(punct_r * 1e6 + 0.5) / 1e6 AS punct_ratio,
               floor(digit_r * 1e6 + 0.5) / 1e6 AS digit_ratio,
               floor(sw * 1e6 + 0.5) / 1e6 AS stopword_ratio,
               floor((0.4 * least(sw * 4, 1.0)
                     + 0.3 * least(greatest(mean_wl - 2, 0.0) / 4, 1.0)
                     + 0.2 * (1 - least(punct_r * 5, 1.0))
                     + 0.1 * (1 - least(digit_r * 5, 1.0))) * 1e6 + 0.5)
                 / 1e6 AS quality
        FROM m
    """
