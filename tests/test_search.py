"""Search surfaces vs the oracle transcriptions (incl. quirk 4)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from studiocr_spark.operators.index import build_postings
from studiocr_spark.operators.search import (
    conf_color,
    first_page_per_doc,
    global_search,
    global_search_indexed,
    in_doc_search,
    matched_page_navigation,
)

from . import oracle

QUERIES = ["cat", "CAT dog", "concatenate", "", "100%", "zzz-nomatch", "spark the"]


@pytest.fixture(scope="module")
def corpus(extracted):
    """url -> pages -> block dicts, from the (already oracle-verified) blocks."""
    _, _, ocr_blocks = extracted
    docs: dict[str, dict[int, list[dict]]] = {}
    for r in ocr_blocks.collect():
        docs.setdefault(r.url, {}).setdefault(r.page_no, []).append(
            {
                "block_no": r.block_no,
                "left": r.left,
                "top": r.top,
                "width": r.width,
                "height": r.height,
                "conf": r.conf,
                "text": r.text,
            }
        )
    out = {}
    for url, pages in docs.items():
        for blocks in pages.values():
            blocks.sort(key=lambda b: b["block_no"])
        out[url] = [pages[p] for p in sorted(pages)]
    return out


@pytest.mark.parametrize("query", QUERIES)
def test_global_search_matches_oracle(extracted, corpus, query):
    _, _, ocr_blocks = extracted
    expected = oracle.global_search(corpus, query)
    got = [r.url for r in global_search(ocr_blocks, query).collect()]
    assert got == expected, query


@pytest.mark.parametrize("query", QUERIES)
def test_global_search_indexed_agrees(extracted, corpus, query):
    _, _, ocr_blocks = extracted
    postings = build_postings(ocr_blocks)
    expected = oracle.global_search(corpus, query)
    got = [r.url for r in global_search_indexed(postings, query).collect()]
    assert got == expected, query


@pytest.mark.parametrize(
    "query,case_sensitive",
    [("cat", False), ("Cat", True), ("cat dog", False), ("CAT", True),
     ("the Spark", True), ("", False)],
)
def test_in_doc_search_matches_oracle(extracted, corpus, query, case_sensitive):
    _, _, ocr_blocks = extracted
    checked = 0
    for url in list(corpus)[:8]:
        expected = oracle.in_doc_search(corpus[url], query, case_sensitive)
        rows = in_doc_search(ocr_blocks, url, query, case_sensitive).collect()
        got = {
            r.page_no: [
                (b.left, b.top, b.width, b.height, b.conf, b.text)
                for b in r.matched_blocks
            ]
            for r in rows
        }
        exp = {
            p: [
                (b["left"], b["top"], b["width"], b["height"], b["conf"], b["text"])
                for b in blocks
            ]
            for p, blocks in expected.items()
        }
        assert got == exp, (url, query)
        checked += 1
    assert checked


def test_duplicate_per_word_quirk(spark):
    """A block matching k query words appears k times (DocWindow.py:369-371)."""
    blocks = spark.createDataFrame(
        [("u", 0, 0, 1, 1, 5, 5, 90, "catalog dogma")],
        "url string, page_no int, block_no int, left int, top int, "
        "width int, height int, conf int, text string",
    )
    rows = in_doc_search(blocks, "u", "cat dog").collect()
    assert len(rows) == 1
    assert len(rows[0].matched_blocks) == 2  # same block, twice
    exp = oracle.in_doc_search(
        [[{"left": 1, "top": 1, "width": 5, "height": 5, "conf": 90,
           "text": "catalog dogma", "block_no": 0}]],
        "cat dog",
    )
    assert len(exp[0]) == 2


def test_conf_color_boundaries(spark):
    df = spark.createDataFrame(
        [(c,) for c in [-1, 0, 39, 40, 79, 80, 100]], "conf int"
    )
    got = {r.conf: r.color for r in
           df.withColumn("color", conf_color(F.col("conf"))).collect()}
    assert got == {c: oracle.conf_color(c) for c in got}


def test_navigation(spark):
    matched = spark.createDataFrame([(1,), (4,), (9,)], "page_no int")
    row = matched_page_navigation(matched, 4).collect()[0]
    exp = oracle.matched_page_navigation([1, 4, 9], 4)
    assert (row.first, row.next, row.prev) == (exp["first"], exp["next"], exp["prev"])
    row = matched_page_navigation(matched, 0).collect()[0]
    assert (row.first, row.next, row.prev) == (1, 1, None)


def test_first_page_per_doc(extracted):
    _, ocr_pages, _ = extracted
    fp = first_page_per_doc(
        ocr_pages.select("url", "page_no", "image")
    )
    rows = fp.collect()
    assert all(r.page_no == 0 for r in rows)
    assert all(r.thumbnail is not None for r in rows)
