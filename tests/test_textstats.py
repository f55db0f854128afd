"""Column-level textstats variants must agree with the DataFrame-level
operators the oracle gate checks — with_lang_id/with_quality are the
join-free composition path (clean_corpus), lang_id/quality_scores the
standalone oracle-checked entries; any divergence would let the cleaned
corpus disagree with the audited scores."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from studiocr_spark.operators.textstats import (
    lang_id,
    quality_scores,
    with_lang_id,
    with_quality,
)

TEXTS = [
    (0, "the cat is on the mat and it is flat"),
    (1, "el perro que se fue no es de la casa"),
    (2, "der hund ist von der stadt und das ist gut"),
    (3, "zzz qqq xxx"),                 # no stopwords -> 'und'
    (4, ""),                            # empty text
    (5, "  \t  "),                      # whitespace only
    (6, "123 456 !!! ???"),             # digits + punctuation
    (7, "the THE The tHe"),             # case folding
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(TEXTS, "doc_id long, text string")


def test_with_lang_id_matches_lang_id(docs):
    standalone = {
        r.doc_id: (r.pred_lang, r.lang_score)
        for r in lang_id(docs).collect()
    }
    composed = {
        r.doc_id: (r.pred_lang, r.lang_score)
        for r in with_lang_id(docs).collect()
    }
    assert composed == standalone
    # and the composed frame keeps every input column
    assert set(with_lang_id(docs).columns) == {
        "doc_id", "text", "pred_lang", "lang_score"
    }


def test_with_quality_matches_quality_scores(docs):
    cols = [
        "n_words", "mean_word_len", "punct_ratio",
        "digit_ratio", "stopword_ratio", "quality",
    ]
    standalone = {
        r.doc_id: tuple(r[c] for c in cols)
        for r in quality_scores(docs).collect()
    }
    composed = {
        r.doc_id: tuple(r[c] for c in cols)
        for r in with_quality(docs).collect()
    }
    assert composed == standalone


def test_repetition_stats_semantics(spark):
    from studiocr_spark.operators.textstats import repetition_stats

    docs = spark.createDataFrame(
        [
            (0, "a b a b a b"),          # grams: ab ba ab ba ab -> 5 total, 2 unique
            (1, "all words differ here"),  # 3 unique of 3
            (2, "loop loop loop loop"),  # "loop loop" x3 -> top frac 1.0
            (3, ""),                      # one '' gram
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in repetition_stats(docs).collect()}
    assert (got[0].n_ngrams, got[0].n_unique) == (5, 2)
    assert got[0].dup_ngram_frac == 0.6
    assert got[1].dup_ngram_frac == 0.0
    assert got[2].top_gram_frac == 1.0 and got[2].n_unique == 1
    assert (got[3].n_ngrams, got[3].n_unique) == (1, 1)
    # narrow: one Arrow pass, zero shuffles
    from studiocr_spark.plans.explain import shuffle_exchanges

    assert shuffle_exchanges(repetition_stats(docs)) == []


def test_column_variants_add_no_shuffle(docs):
    from studiocr_spark.plans.explain import shuffle_exchanges

    df = with_quality(with_lang_id(docs)).filter(
        (F.col("pred_lang") == "en") & (F.col("quality") >= 0.5)
    )
    assert shuffle_exchanges(df) == []


def test_redact_pii_patterns(spark):
    from studiocr_spark.operators.redact import redact_pii

    docs = spark.createDataFrame(
        [
            (0, "mail bob.smith+x@corp.example.org now"),
            (1, "server at 192.168.001.42 responded"),
            (2, "call 555-123-4567 or 555.987.6543 today"),
            (3, "overlap a@b.io 10.0.0.1 555-000-1111"),
            (4, "clean text with no pii at all"),
            # NOT pii: version number, bare at-sign, short number
            (5, "v1.2.3 @ 12-34 release"),
            # widened NANP forms (round-4): parens / +1 / spaces
            (6, "call (555) 123-4567 or +1 555 123 4567 now"),
            (7, "also (555)123.4567 and +1-555-123-4567 work"),
            # 2-digit area code / truncated groups stay unredacted
            (8, "not (55) 123-4567 nor 555 12 4567"),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in redact_pii(docs).collect()}
    assert got[0].n_email == 1 and "<email>" in got[0].redacted_text
    assert "bob" not in got[0].redacted_text
    assert got[1].n_ipv4 == 1 and "<ipv4>" in got[1].redacted_text
    assert got[2].n_phone == 2
    assert got[2].redacted_text == "call <phone> or <phone> today"
    assert (got[3].n_email, got[3].n_ipv4, got[3].n_phone) == (1, 1, 1)
    assert got[4].redacted_text == got[4].text
    assert (got[4].n_email, got[4].n_ipv4, got[4].n_phone) == (0, 0, 0)
    assert got[5].redacted_text == got[5].text
    assert got[6].n_phone == 2
    assert got[6].redacted_text == "call <phone> or <phone> now"
    assert got[7].n_phone == 2
    assert got[7].redacted_text == "also <phone> and <phone> work"
    assert got[8].n_phone == 0
    assert got[8].redacted_text == got[8].text


def test_redact_pii_is_narrow(spark):
    from studiocr_spark.operators.redact import redact_pii
    from studiocr_spark.plans.explain import shuffle_exchanges

    docs = spark.createDataFrame([(0, "x")], "doc_id long, text string")
    assert shuffle_exchanges(redact_pii(docs)) == []


def test_redact_matches_python_re_on_fuzz(spark):
    """Independent-engine cross-check: Java regex (Spark) vs Python re
    on 300 seeded random ASCII strings over a PII-adjacent alphabet —
    catches dialect drift (quantifiers, \\b, classes) that the planted
    oracle strings would miss."""
    import random
    import re as pyre

    from studiocr_spark.operators.redact import PII_PATTERNS, redact_pii

    rng = random.Random(42)
    alphabet = "ab@. -0123456789xyz<>%+_()"
    texts = [
        "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 80)))
        for _ in range(300)
    ]
    texts.append("hit a.b@c.de plus 1.2.3.4 and 123-456-7890")
    texts.append("call (555) 123-4567 or (555)123.4567 today")
    texts.append("+1 555 123 4567 and +1-555-123-4567 and 555 123 4567")
    texts.append("not a phone: 55 123 4567, 555 12 4567, (55) 123-4567")
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {r.doc_id: r for r in redact_pii(docs).collect()}
    for i, t in enumerate(texts):
        for kind, pat in PII_PATTERNS.items():
            assert got[i][f"n_{kind}"] == len(pyre.findall(pat, t)), (
                kind, t
            )
        expect = t
        for kind, pat in PII_PATTERNS.items():
            expect = pyre.sub(pat, f"<{kind}>", expect)
        assert got[i].redacted_text == expect, t


def test_repetition_null_text_agrees_with_oracle(spark):
    """Round-4 ADVICE fix: a null-text doc must produce the SAME row in
    the Spark operator and the DuckDB oracle (a null-stats row, not a
    dropped doc) — checked cross-engine on a tiny corpus with a null."""
    import duckdb

    import __spark_entry__ as entry
    from studiocr_spark.operators.textstats import repetition_stats

    docs = spark.createDataFrame(
        [(0, "a b a b"), (1, None), (2, "x")], "doc_id long, text string"
    )
    got = {
        r.doc_id: (r.n_ngrams, r.n_unique, r.dup_ngram_frac, r.top_gram_frac)
        for r in repetition_stats(docs).collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM (VALUES "
        "(0, 'a b a b'), (1, NULL), (2, 'x')) t(doc_id, text)"
    )
    duck = {
        int(r[0]): (
            None if r[1] is None else int(r[1]),
            None if r[2] is None else int(r[2]),
            r[3],
            r[4],
        )
        for r in con.execute(
            entry.oracle_sql()["repetition_scores"]
        ).fetchall()
    }
    assert got == duck, (got, duck)


def test_gopher_rules_semantics(spark):
    from studiocr_spark.operators.textstats import gopher_rules

    long_good = "the cat sat on the mat and that dog ran with it " * 5
    docs = spark.createDataFrame(
        [
            (0, long_good.strip()),                    # passes everything
            (1, "too short to pass"),                  # < 50 words
            (2, ("# " * 30 + "the be to of and that have with " * 3).strip()),
            (3, "- bullet\n- bullet\n- bullet\nthe be to of and real text"),
            (4, ""),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in gopher_rules(docs).collect()}
    assert got[0].passes_gopher
    assert got[0].n_req_stopwords >= 2
    assert not got[1].passes_gopher          # word-count floor
    assert not got[2].passes_gopher          # symbol ratio blown by '#'
    assert got[2].symbol_word_ratio > 0.1
    assert got[3].bullet_line_frac == 0.75   # 3 of 4 lines
    assert got[4].n_words == 0 and not got[4].passes_gopher
    # narrow: zero shuffles
    from studiocr_spark.plans.explain import shuffle_exchanges

    assert shuffle_exchanges(gopher_rules(docs)) == []
