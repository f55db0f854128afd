"""In-UDF page statistics (the typed OcrPageData replacement).

Computed inside the extract UDF where the parallel arrays already sit in
Python — a Counter over ~10² tokens costs microseconds, versus re-scanning
the array column with nested higher-order functions JVM-side (measured
~16 ms/page: the char-count subexpression is re-evaluated per histogram
bin). This is the only page_stats strategy: every ocr_pages row carries
the struct straight out of the extract UDF.

Semantics: exact transcription of /root/reference/StudiOCR/OcrPageData.py
:28-62 and :84-91, with the quirks SURVEY §1.1 pins (empty strings kept,
char stats over RAW texts, sets determinized to sorted lists). Chars
outside ASCII 32-126 would KeyError in the reference's histogram; here
they simply have no bin (they still appear in char_counts).

Input contract (Decoder, sources/decode.py): ``conf`` is a list of plain
Python ints and ``text`` a list of plain strs — normalization happens at
the decoder boundary, so no per-value coercion is repeated here or in
the extract loop. The oracle transcription (tests/oracle.py) adds the
raw conf value to its sets the same way.

Round-6 fast paths (parity-pinned by the property tests and a full-corpus
equality sweep, OPTIMIZATION_r06.md):

- char counts/histogram via one ``np.bincount`` over the joined RAW text
  bytes when it is pure ASCII (3.4x the per-char Counter; byte codes are
  exactly the histogram bins, and ascending code order IS sorted order
  for unique_chars). Non-ASCII text falls back to the Counter path.
- the kept-token filter is one pass over (text, conf) pairs instead of an
  index list plus two gathers.
- conf_by_text builds sets with a bound ``dict.get`` loop (~1.5x the
  setdefault form: no per-row method lookup, no discarded default set).
"""

from __future__ import annotations

from collections import Counter

import numpy as np

ASCII_LO, ASCII_HI = 32, 126


def compute_page_stats(data: dict) -> dict:
    """image_to_data parallel arrays -> typed page_stats dict."""
    texts_raw = data["text"]
    texts: list[str] = []
    confs: list[int] = []
    for t, c in zip(texts_raw, data["conf"]):
        if not t.isspace():
            texts.append(t)
            confs.append(c)

    word_counts = Counter(texts)

    joined = "".join(texts_raw)  # RAW texts (quirk 2)
    if joined.isascii():
        arr = np.frombuffer(joined.encode("ascii"), dtype=np.uint8)
        counts = np.bincount(arr, minlength=ASCII_HI + 2).tolist()
        # char_counts keys must keep Counter's FIRST-OCCURRENCE order:
        # the committed extract fixture is compared via to_json, which
        # serializes maps in insertion order (np.unique(return_index)
        # recovers that order for ~10 us vs the 77 us per-char Counter)
        codes, first = np.unique(arr, return_index=True)
        codes_l = codes.tolist()
        unique_chars = [chr(c) for c in codes_l]  # ascending = sorted
        char_counts = {
            chr(c): counts[c]
            for c in codes[np.argsort(first)].tolist()
        }
        hist = counts[ASCII_LO : ASCII_HI + 1]
    else:
        char_counts = dict(Counter(joined))
        unique_chars = sorted(char_counts)
        hist = [0] * (ASCII_HI - ASCII_LO + 1)
        for ch, n in char_counts.items():
            code = ord(ch)
            if ASCII_LO <= code <= ASCII_HI:
                hist[code - ASCII_LO] = n

    conf_sets: dict[str, set] = {}
    get = conf_sets.get
    for t, c in zip(texts, confs):
        s = get(t)
        if s is None:
            conf_sets[t] = {c}
        else:
            s.add(c)

    return {
        "word_counts": dict(word_counts),
        "unique_texts": sorted(word_counts),
        "char_counts": char_counts,
        "unique_chars": unique_chars,
        "ascii_histogram": hist,
        "conf_by_text": {t: sorted(s) for t, s in conf_sets.items()},
    }
