"""Boilerplate stripping: segmentation, classification, Spark operator."""

from __future__ import annotations

from studiocr_spark.operators.boilerplate import (
    classify_blocks,
    extract_main_text,
    segment_blocks,
    strip_boilerplate,
)

ARTICLE = """
<html><head><title>My Page</title><style>p {color: red}</style></head>
<body>
<nav><a href="/">Home</a> <a href="/about">About</a> <a href="/contact">Contact</a></nav>
<h1>A Real Headline</h1>
<p>This is the first paragraph of the main article content and it clearly
has more than ten words of natural language text in it.</p>
<p>Second paragraph also carries substantial content with many words to
make the classifier confident about keeping it around here.</p>
<p>A short follow-up line.</p>
<div><a href="/x">related link one</a> <a href="/y">related link two</a></div>
<footer>Copyright 2024 <a href="/terms">Terms</a></footer>
<script>var x = "this is script noise that must never appear";</script>
</body></html>
"""


def test_segmentation():
    blocks = segment_blocks(ARTICLE)
    texts = [b["text"] for b in blocks]
    assert any("first paragraph" in t for t in texts)
    assert all("script noise" not in t for t in texts)  # script skipped
    assert all("color: red" not in t for t in texts)  # style skipped
    nav = next(b for b in blocks if "Home" in b["text"])
    assert nav["link_density"] > 0.8
    para = next(b for b in blocks if "first paragraph" in b["text"])
    assert para["link_density"] == 0.0
    assert para["n_words"] > 10


def test_classification_and_main_text():
    main = extract_main_text(ARTICLE)
    assert "first paragraph of the main article" in main
    assert "Second paragraph" in main
    # continuation rule: short block sandwiched after content is kept
    assert "A short follow-up line." in main
    # boilerplate dropped
    assert "Home" not in main
    assert "Copyright" not in main
    assert "related link" not in main


def test_neighbor_rule_requires_content_neighbor():
    blocks = [
        {"tag": "p", "text": "tiny", "n_words": 5, "link_density": 0.0,
         "text_density": 5.0},
        {"tag": "p", "text": "also tiny", "n_words": 5, "link_density": 0.0,
         "text_density": 5.0},
    ]
    assert classify_blocks(blocks) == [False, False]


def test_malformed_html_salvaged():
    assert extract_main_text("<p>unclosed and " + "words " * 20) != ""
    assert extract_main_text("") == ""
    assert extract_main_text("<<<>>><p") == ""


def test_strip_boilerplate_operator(spark):
    df = spark.createDataFrame(
        [("u1", ARTICLE), ("u2", None), ("u3", "<p>" + "word " * 12 + "</p>")],
        "url string, html_text string",
    )
    out = {r.url: r for r in strip_boilerplate(df).collect()}
    assert "first paragraph" in out["u1"].main_text
    assert out["u1"].n_content_blocks >= 3
    assert out["u2"].main_text is None
    assert out["u3"].n_content_blocks == 1
