"""simhash_near_dups: pigeonhole banding must find every pair within
``SIMHASH_MAX_HAMMING`` — including pairs whose differing bits span BOTH
halves of the signature (the round-1 half-signature blocking missed
those)."""

import hashlib

import numpy as np
from pyspark.sql import functions as F


def _simhash1(word: str, bits: int = 32) -> int:
    """Pure-Python simhash of a single-token doc: bit b set iff hex
    digit b of md5(word) is odd (one token -> vote is just its parity).
    Mirrors studiocr_spark.operators.dedup.simhash."""
    h = hashlib.md5(word.encode()).hexdigest()
    return sum(2 ** b for b in range(bits) if int(h[b], 16) % 2 == 1)


def test_distance3_pair_spanning_both_halves_found(spark):
    from studiocr_spark.operators.dedup import simhash_near_dups

    # exhaustive over deterministic single-token docs: EVERY pair within
    # distance 3 of the 32-bit signature, none beyond (3,000 words hold
    # a handful of such pairs; numpy popcounts the ~4.5M xors)
    words = [f"w{i}" for i in range(3000)]
    sigs = np.array([_simhash1(w) for w in words], dtype=np.int64)
    popcount = np.array([bin(i).count("1") for i in range(256)])
    expect = {}
    for i in range(len(words) - 1):
        x = sigs[i] ^ sigs[i + 1:]
        d = popcount[x.view(np.uint8)].reshape(-1, 8).sum(axis=1)
        for j in np.nonzero(d <= 3)[0]:
            expect[(i, i + 1 + int(j))] = int(d[j])
    # the pigeonhole case: a distance-3 pair whose differing bits lie in
    # three of the four 8-bit bands, across BOTH 16-bit halves
    spans = [
        pair for pair, dist in expect.items()
        if dist == 3
        and len({b // 8 for b in range(32)
                 if (int(sigs[pair[0]] ^ sigs[pair[1]]) >> b) & 1}) == 3
    ]
    assert spans, "corpus scan found no distance-3 pair spanning 3 bands"

    docs = spark.createDataFrame(
        [(i, w) for i, w in enumerate(words)], "doc_id long, text string"
    )
    got = {
        (r.doc_a, r.doc_b): r.hamming
        for r in simhash_near_dups(docs).collect()
    }
    assert got == expect


def test_exact_dedup_digest_matches_min_id_per_text(spark):
    """The md5-digest grouping labels every row as plain-Python grouping
    by text does: canonical = the minimum doc_id among identical texts."""
    from studiocr_spark.operators.dedup import exact_duplicates

    # ids scrambled against text order, so the canonical is not simply
    # the first row of its group; "" and a 1-char text are groups too
    rows = [((i * 37) % 101, f"text {i % 7}") for i in range(50)]
    rows += [(500, ""), (501, ""), (502, "x")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    canon: dict[str, int] = {}
    for doc_id, text in rows:
        canon[text] = min(doc_id, canon.get(text, doc_id))
    expect = sorted(
        (doc_id, canon[text], doc_id != canon[text]) for doc_id, text in rows
    )
    got = sorted(
        (r.doc_id, r.canonical_id, r.is_duplicate)
        for r in exact_duplicates(docs).collect()
    )
    assert got == expect


def test_keep_canonical_matches_exact_duplicates(spark):
    """The single-window canonical keep must select exactly the rows
    exact_duplicates labels non-duplicate, with all caller columns
    intact."""
    from studiocr_spark.operators.dedup import (
        exact_duplicates,
        keep_canonical,
    )

    docs = spark.createDataFrame(
        [(i, f"text {i % 7}", i * 10) for i in range(50)],
        "doc_id long, text string, extra long",
    )
    expect = sorted(
        r.doc_id
        for r in exact_duplicates(docs)
        .filter(~F.col("is_duplicate"))
        .collect()
    )
    kept = keep_canonical(docs).collect()
    assert sorted(r.doc_id for r in kept) == expect
    assert all(r.extra == r.doc_id * 10 for r in kept)
    assert set(kept[0].asDict()) == {"doc_id", "text", "extra"}

    pre = docs.withColumn("_h", F.md5("text"))
    kept2 = keep_canonical(pre, text_col="_h", digest=False)
    assert sorted(r.doc_id for r in kept2.collect()) == expect


def test_arrow_shingles_match_expression_on_edge_cases(spark):
    """The Arrow shingler and the word_shingles expression must agree
    row-for-row — including unicode whitespace, where Python's
    str.split() diverges from Java's ASCII-only \\s."""
    from pyspark.sql import functions as F

    from studiocr_spark.operators.dedup import shingle_table, word_shingles

    texts = [
        "",
        " ",
        "solo",
        "two words",
        "multi   space\tand\ttabs",
        "nbsp stays joined",  # U+00A0 is NOT Java \s
        "trailing space ",
        " leading",
        "a b c d e f g",
        "ünï cödé wörds",
        "line\nbreaks\rhere",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = shingle_table(docs)
    ref = docs.select(
        "doc_id",
        F.explode(word_shingles(F.col("text"))).alias("shingle"),
    )
    assert got.exceptAll(ref).count() == 0
    assert ref.exceptAll(got).count() == 0


def test_minhash_lsh_pairs_match_counts_verify(spark):
    """Every MinHash-LSH pair's jaccard (fused signature + hashed-shingle
    arrays) equals the exact counts-only jaccard_verify of that pair;
    the checkpoint-free plan returns the same rows; null and empty-text
    docs never pair."""
    from studiocr_spark.operators.dedup import jaccard_verify, minhash_lsh_dedup

    rows = []
    base = "alpha beta gamma delta epsilon zeta eta theta"
    for i in range(40):
        words = base.split()
        words[i % len(words)] = f"w{i % 5}"
        rows.append((i, " ".join(words)))
    rows += [(100, None), (101, ""), (102, "solo")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    got = sorted(map(tuple, minhash_lsh_dedup(docs).collect()))
    assert got
    pairs = spark.createDataFrame(
        [(a, b) for a, b, _ in got], "doc_a long, doc_b long"
    )
    exact = sorted(map(tuple, jaccard_verify(pairs, docs).collect()))
    assert got == exact
    plain = minhash_lsh_dedup(docs, checkpoint_candidates=False)
    assert sorted(map(tuple, plain.collect())) == got
    assert not {a for a, b, _ in got} & {100, 101}
    assert not {b for a, b, _ in got} & {100, 101}


def test_simhash_tokenizes_like_words_of(spark):
    """simhash's Python tokenizer must match words_of on the same edge
    cases (one md5 vote per JVM-visible token)."""
    import hashlib

    from pyspark.sql import functions as F

    from studiocr_spark.operators.dedup import simhash
    from studiocr_spark.operators.textstats import words_of

    texts = ["nbsp joined token", "a\tb\nc", "  padded  ", "ünï cödé"]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {r.doc_id: r.simhash for r in simhash(docs, bits=16).collect()}
    toks = {
        r.doc_id: r.w
        for r in docs.select(
            "doc_id", words_of(F.col("text")).alias("w")
        ).collect()
    }
    for i, words in toks.items():
        votes = [0] * 16
        for w in words:
            h = hashlib.md5(w.encode()).hexdigest()
            for b in range(16):
                votes[b] += 1 if int(h[b], 16) % 2 == 1 else -1
        expect = sum(2 ** b for b in range(16) if votes[b] > 0)
        assert got[i] == expect, (i, words)


def test_line_dedup_semantics(spark):
    """Cross-document duplicate lines are stripped; unique lines keep
    their order; fully-duplicated docs still emit a row."""
    from studiocr_spark.operators.dedup import line_dedup

    boiler = "accept cookies to continue"
    docs = spark.createDataFrame(
        [
            (0, f"{boiler}\nunique alpha content\nmore alpha"),
            (1, f"{boiler}\nunique beta content"),
            (2, boiler),                      # nothing survives
            (3, "repeated inside\nrepeated inside\nsolo line"),
            (4, None),  # null text == empty text (one '' line)
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in line_dedup(docs, min_doc_freq=2).collect()}
    assert got[0].clean_text == "unique alpha content\nmore alpha"
    assert (got[0].n_lines, got[0].n_kept) == (3, 2)
    assert got[1].clean_text == "unique beta content"
    assert got[2].clean_text == "" and got[2].n_kept == 0
    # within-ONE-doc repetition is NOT cross-document: df counts
    # distinct docs, so doc 3 keeps all its lines in order
    assert got[3].clean_text == "repeated inside\nrepeated inside\nsolo line"
    assert got[3].n_kept == 3
    assert (got[4].n_lines, got[4].n_kept, got[4].clean_text) == (1, 1, "")
