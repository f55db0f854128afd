"""HTML main-content extraction: Boilerpipe-style block classification.

The north-star pipeline strips boilerplate from raw HTML before/alongside
OCR: segment the DOM into text blocks, score each with text-density and
link-density heuristics (Kohlschütter et al., "Boilerplate Detection
using Shallow Text Features", WSDM 2010 — public algorithm), and keep the
content blocks. Implementation is from scratch on the stdlib
``html.parser`` (no external deps) and runs inside an Arrow
``mapInPandas`` — one parse per document, zero per-row Python at the
Spark layer.

Heuristics (classic NumWordsRules classifier, simplified):
- a block is CONTENT if link_density <= 0.33 and it (or a neighbor) has
  enough words; short low-link blocks between content blocks are kept
  (headline/continuation rule), everything else is boilerplate.
- text_density = words per wrapped line at 80 chars (Boilerpipe's
  definition); kept per block for downstream scoring even though the
  simplified classifier keys on word counts.
"""

from __future__ import annotations

import re
from collections.abc import Iterator
from html.parser import HTMLParser

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

BLOCK_TAGS = {
    "p", "div", "td", "h1", "h2", "h3", "h4", "h5", "h6", "li", "article",
    "section", "header", "footer", "aside", "blockquote", "pre", "table",
    "ul", "ol", "nav", "main", "body", "title",
}
SKIP_TAGS = {"script", "style", "noscript", "template", "svg"}
_WS = re.compile(r"\s+")

MIN_WORDS_CONTENT = 10  # block alone qualifies
MIN_WORDS_NEIGHBOR = 4  # block qualifies when adjacent to content
MAX_LINK_DENSITY = 0.33
WRAP_COLS = 80


class _BlockCollector(HTMLParser):
    """Segments a document into text blocks at block-level tag boundaries."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.blocks: list[dict] = []
        self._text: list[str] = []
        self._link_chars = 0
        self._anchor_depth = 0
        self._skip_depth = 0
        self._tag = ""

    def _flush(self, tag: str) -> None:
        text = _WS.sub(" ", "".join(self._text)).strip()
        if text:
            self.blocks.append(
                {"tag": self._tag or tag, "text": text,
                 "link_chars": self._link_chars}
            )
        self._text = []
        self._link_chars = 0
        self._tag = tag

    def handle_starttag(self, tag, attrs):
        if tag in SKIP_TAGS:
            self._skip_depth += 1
        elif tag == "a":
            self._anchor_depth += 1
        elif tag in BLOCK_TAGS:
            self._flush(tag)
        elif tag == "br":
            self._text.append(" ")

    def handle_endtag(self, tag):
        if tag in SKIP_TAGS:
            self._skip_depth = max(0, self._skip_depth - 1)
        elif tag == "a":
            self._anchor_depth = max(0, self._anchor_depth - 1)
        elif tag in BLOCK_TAGS:
            self._flush("")

    def handle_data(self, data):
        if self._skip_depth:
            return
        self._text.append(data)
        if self._anchor_depth:
            self._link_chars += len(data)

    def result(self) -> list[dict]:
        self._flush("")
        return self.blocks


def segment_blocks(html: str) -> list[dict]:
    """Parse HTML into scored text blocks.

    Returns [{tag, text, n_words, link_density, text_density}], in
    document order.
    """
    p = _BlockCollector()
    try:
        p.feed(html)
        p.close()
    except Exception:
        pass  # salvage whatever was collected from malformed HTML
    out = []
    for b in p.result():
        words = b["text"].split()
        n_chars = len(b["text"])
        n_lines = max(1, -(-n_chars // WRAP_COLS))  # ceil
        out.append(
            {
                "tag": b["tag"],
                "text": b["text"],
                "n_words": len(words),
                "link_density": (b["link_chars"] / n_chars) if n_chars else 0.0,
                "text_density": len(words) / n_lines,
            }
        )
    return out


def classify_blocks(blocks: list[dict]) -> list[bool]:
    """NumWordsRules-style content/boilerplate labels, with the
    neighbor (continuation) rule applied in a second pass."""
    base = [
        b["link_density"] <= MAX_LINK_DENSITY
        and b["n_words"] >= MIN_WORDS_CONTENT
        for b in blocks
    ]
    out = list(base)
    for i, b in enumerate(blocks):
        if base[i] or b["link_density"] > MAX_LINK_DENSITY:
            continue
        if b["n_words"] >= MIN_WORDS_NEIGHBOR and (
            (i > 0 and base[i - 1]) or (i + 1 < len(blocks) and base[i + 1])
        ):
            out[i] = True
    return out


def extract_main_text(html: str) -> str:
    """Cleaned main text: content blocks joined by newlines."""
    blocks = segment_blocks(html)
    keep = classify_blocks(blocks)
    return "\n".join(b["text"] for b, k in zip(blocks, keep) if k)


MAIN_TEXT_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("main_text", T.StringType(), True),
        T.StructField("n_blocks", T.IntegerType(), True),
        T.StructField("n_content_blocks", T.IntegerType(), True),
    ]
)


def strip_boilerplate(df: DataFrame) -> DataFrame:
    """(url, main_text, n_blocks, n_content_blocks).

    ``html_text`` holds HTML as a string column (decode binary payloads
    upstream). One parse per row, Arrow-batched.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for url, html in zip(pdf["url"], pdf["html_text"]):
                if html is None:
                    rows.append((url, None, None, None))
                    continue
                blocks = segment_blocks(str(html))
                keep = classify_blocks(blocks)
                main = "\n".join(
                    b["text"] for b, k in zip(blocks, keep) if k
                )
                rows.append((url, main, len(blocks), sum(keep)))
            yield pd.DataFrame(
                rows, columns=MAIN_TEXT_SCHEMA.fieldNames()
            )

    return df.select("url", "html_text").mapInPandas(run, MAIN_TEXT_SCHEMA)
