"""Text-analysis operators for training-data pipelines.

Beyond the reference's surface (SURVEY §2 covers parity ops); these are
the standard large-corpus curation primitives, all built from JVM-side
``pyspark.sql.functions`` — zero Python in the hot path, every one
SQL-expressible for the DuckDB oracle:

- token counting (whitespace + a BPE-ish subword regex)
- language ID (stopword-ratio n-gram-free heuristic)
- quality scoring (length / punctuation / stopword / digit ratios)
- document fingerprinting (bottom-k sketch of char n-gram hashes — a
  deterministic winnowing-style rolling fingerprint)
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# tiny per-language stopword inventories (deterministic, ASCII)
STOPWORDS = {
    "en": ["the", "a", "is", "of", "and", "to", "in", "it", "that", "for"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "es", "se", "no"],
    "de": ["der", "die", "das", "und", "ist", "von", "zu", "mit", "den", "ein"],
}

# BPE-ish subword splitter: word-ish runs, numbers, or single punctuation
BPE_TOKEN_RE = r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"


def portable_round(col: Column, ndigits: int) -> Column:
    """Engine-portable rounding: floor(x*1eN + 0.5)/1eN.

    Spark's round() is HALF_UP, DuckDB's is HALF_EVEN — values landing
    exactly on a half (e.g. 0.5203125) diverge. floor arithmetic is
    identical in both engines on identical doubles. Every hash-compared
    double in the repo (and its oracle SQL) uses this formula.
    """
    scale = F.lit(float(10 ** ndigits))
    return F.floor(col * scale + F.lit(0.5)) / scale


def round6(col: Column) -> Column:
    """Portable 6-dp rounding (see portable_round)."""
    return portable_round(col, 6)


def words_of(text_col: Column) -> Column:
    """Whitespace tokenization matching Python str.split() (drops empties)."""
    return F.filter(
        F.split(F.trim(text_col), r"\s+"), lambda w: w != ""
    )


def token_counts(docs: DataFrame) -> DataFrame:
    """(doc_id, n_ws_tokens, n_bpe_tokens, n_chars_seen)."""
    return docs.select(
        "doc_id",
        F.size(words_of(F.col("text"))).alias("n_ws_tokens"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(BPE_TOKEN_RE), 0))
        .alias("n_bpe_tokens"),
        F.length("text").alias("n_chars_seen"),
    )


def _stopword_ratio(words: Column, lang: str) -> Column:
    hits = F.size(
        F.filter(
            words, lambda w: F.lower(w).isin([s for s in STOPWORDS[lang]])
        )
    )
    return hits / F.greatest(F.size(words), F.lit(1))


def with_lang_id(df: DataFrame) -> DataFrame:
    """Column-level language ID of ``text``: appends ``pred_lang`` and
    ``lang_score`` to ``df`` as pure projections — NO join, NO shuffle.

    This is the composition building block: attaching lang-ID to a
    corpus via ``docs.join(lang_id(docs), "doc_id")`` self-joins a
    narrow projection of the same relation back onto it — a full-corpus
    shuffle that pure column expressions never need. Per-language
    scores materialize as intermediate columns in a separate projection
    step so the shared tokenization isn't re-evaluated per when-branch
    (Catalyst does not CSE complex expressions across outputs)."""
    words = words_of(F.col("text"))
    langs = sorted(STOPWORDS)
    tmp = {f"_lscore_{lang}": _stopword_ratio(words, lang) for lang in langs}
    staged = df.withColumns(tmp)
    best = F.greatest(*[F.col(f"_lscore_{lang}") for lang in langs])
    pred = F.lit("und")
    # reverse order so the earliest language wins ties via later override
    for lang in reversed(langs):
        pred = F.when(
            (best > 0) & (F.col(f"_lscore_{lang}") == best), F.lit(lang)
        ).otherwise(pred)
    return staged.withColumns(
        {"pred_lang": pred, "lang_score": round6(best)}
    ).drop(*tmp.keys())


def lang_id(docs: DataFrame) -> DataFrame:
    """(doc_id, pred_lang, lang_score) — argmax stopword ratio; 'und' when
    nothing matched. Ties resolved by language-code order (deterministic)."""
    return with_lang_id(docs).select(
        "doc_id", "pred_lang", "lang_score"
    )


def _quality_exprs() -> dict[str, Column]:
    """The quality-heuristic expressions of ``text`` keyed by output
    column name."""
    t = F.col("text")
    words = words_of(t)
    n_words = F.size(words)
    n_chars = F.greatest(F.length(t), F.lit(1))
    punct = F.length(t) - F.length(F.regexp_replace(t, r"[^\w\s]", ""))
    digits = F.length(t) - F.length(F.regexp_replace(t, r"[0-9]", ""))
    mean_wl = F.length(F.regexp_replace(t, r"\s+", "")) / F.greatest(
        n_words, F.lit(1)
    )
    sw = _stopword_ratio(words, "en")
    quality = (
        F.lit(0.4) * F.least(sw * 4, F.lit(1.0))
        + F.lit(0.3)
        * F.least(F.greatest(mean_wl - 2, F.lit(0.0)) / 4, F.lit(1.0))
        + F.lit(0.2) * (1 - F.least(punct / n_chars * 5, F.lit(1.0)))
        + F.lit(0.1) * (1 - F.least(digits / n_chars * 5, F.lit(1.0)))
    )
    return {
        "n_words": n_words,
        "mean_word_len": round6(mean_wl),
        "punct_ratio": round6(punct / n_chars),
        "digit_ratio": round6(digits / n_chars),
        "stopword_ratio": round6(sw),
        "quality": round6(quality),
    }


def with_quality(df: DataFrame) -> DataFrame:
    """Column-level quality scoring: appends the six quality columns to
    ``df`` as pure projections — the join-free composition counterpart
    of :func:`quality_scores` (see :func:`with_lang_id`)."""
    return df.withColumns(_quality_exprs())


def quality_scores(docs: DataFrame) -> DataFrame:
    """Boilerplate-style quality heuristics per doc.

    (doc_id, n_words, mean_word_len, punct_ratio, digit_ratio,
    stopword_ratio, quality) — ``quality`` is a fixed linear blend in
    [0, 1], higher = more natural-language-like. Deterministic, portable
    arithmetic only (no floating aggregation order dependence).
    """
    exprs = _quality_exprs()
    return docs.select(
        "doc_id", *[c.alias(name) for name, c in exprs.items()]
    )


def repetition_stats(docs: DataFrame) -> DataFrame:
    """(doc_id, n_ngrams, n_unique, dup_ngram_frac, top_gram_frac):
    RefinedWeb-style repetition signals over word 2-grams (public
    heuristic family: heavily self-repeating documents are low-quality
    machine text).

    - ``dup_ngram_frac`` = 1 - unique/total n-grams — mass of repeats.
    - ``top_gram_frac``  = occurrences of the most common n-gram / total
      — a single looping phrase shows here even when overall dup mass is
      moderate.

    One narrow Arrow pass per doc (counts computed in-UDF — no n-gram
    explode/shuffle); the fractions are single divisions of exact
    integers, so the DuckDB oracle hash-compares bit-identically.
    """
    from pyspark.sql.functions import pandas_udf

    from .dedup import _py_ngrams

    @pandas_udf("struct<n_ngrams: long, n_unique: long, top_count: long>")
    def _rep(texts: pd.Series) -> pd.DataFrame:
        from collections import Counter

        rows = []
        for t in texts:
            if t is None:
                rows.append((None, None, None))
                continue
            c = Counter(_py_ngrams(t, 2))
            total = sum(c.values())
            rows.append(
                (total, len(c), max(c.values()) if c else 0)
            )
        return pd.DataFrame(
            rows, columns=["n_ngrams", "n_unique", "top_count"]
        )

    staged = docs.select("doc_id", _rep(F.col("text")).alias("r"))
    total = F.col("r.n_ngrams")
    return staged.select(
        "doc_id",
        total.alias("n_ngrams"),
        F.col("r.n_unique").alias("n_unique"),
        round6(
            1 - F.col("r.n_unique") / F.greatest(total, F.lit(1))
        ).alias("dup_ngram_frac"),
        round6(
            F.col("r.top_count") / F.greatest(total, F.lit(1))
        ).alias("top_gram_frac"),
    )


def fingerprints(docs: DataFrame) -> DataFrame:
    """Bottom-k document fingerprint (winnowing-style rolling sketch).

    md5 each char 5-gram, keep the 4 lexicographically smallest digests,
    concatenate -> a stable doc fingerprint whose equality implies high
    content overlap. (doc_id, fingerprint).

    Arrow pandas UDF: ~len(text) md5s per doc through the interpreted
    transform lambda dominated this query (transform/md5 per element is
    CodegenFallback); hashlib md5 hexdigests are byte-identical to
    Spark's and DuckDB's, so the oracle hash-parity is preserved
    (slicing by code points == substring semantics on this corpus).
    """
    import hashlib
    import heapq

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _fp(texts: pd.Series) -> pd.Series:
        def fp(t):
            if t is None:
                return None
            hi = max(len(t) - 4, 1)
            digests = (
                hashlib.md5(t[i : i + 5].encode()).hexdigest()
                for i in range(hi)
            )
            return "".join(heapq.nsmallest(4, digests))

        return texts.map(fp)

    return docs.select("doc_id", _fp("text").alias("fingerprint"))


# Gopher quality-rule thresholds (Rae et al. 2021, public heuristics).
GOPHER_REQ_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_WORD_LEN = 3.0
GOPHER_MAX_MEAN_WORD_LEN = 10.0
GOPHER_MAX_SYMBOL_RATIO = 0.1
GOPHER_MAX_BULLET_FRAC = 0.9
GOPHER_MAX_ELLIPSIS_FRAC = 0.3
GOPHER_MIN_ALPHA_FRAC = 0.8
GOPHER_MIN_REQ_STOPWORDS = 2


def with_gopher(df: DataFrame) -> DataFrame:
    """Column-level Gopher pass/fail of ``text``: appends
    ``passes_gopher`` to ``df`` as a pure projection — NO join, NO
    shuffle (the composition form for cleaning pipelines, like
    with_lang_id / with_quality; the full per-rule breakdown lives in
    :func:`gopher_rules`)."""
    staged = df.withColumns(
        {
            "_gw": words_of(F.col("text")),
            "_gl": F.split(F.col("text"), "\n"),
        }
    )
    passes = _gopher_passes("_gw", "_gl")
    return staged.withColumn("passes_gopher", passes).drop("_gw", "_gl")


def _gopher_passes(w: str, l: str) -> Column:
    """The conjunction of the Gopher rules over staged word/line array
    columns ``w``/``l`` (shared by gopher_rules and with_gopher)."""
    nw = F.size(w)
    nw1 = F.greatest(nw, F.lit(1))
    nl1 = F.greatest(F.size(l), F.lit(1))
    total_word_chars = F.length(
        F.regexp_replace(F.col("text"), r"\s", "")
    )
    n_hash = F.length("text") - F.length(
        F.regexp_replace(F.col("text"), "#", "")
    )
    n_ellipsis = F.size(
        F.regexp_extract_all(F.col("text"), F.lit(r"\.\.\."), 0)
    )
    mean_wl = total_word_chars / nw1
    return (
        (nw >= GOPHER_MIN_WORDS)
        & (nw <= GOPHER_MAX_WORDS)
        & (mean_wl >= GOPHER_MIN_MEAN_WORD_LEN)
        & (mean_wl <= GOPHER_MAX_MEAN_WORD_LEN)
        & ((n_hash + n_ellipsis) / nw1 <= GOPHER_MAX_SYMBOL_RATIO)
        & (
            F.size(F.filter(l, lambda x: F.trim(x).rlike(r"^[-*•]"))) / nl1
            <= GOPHER_MAX_BULLET_FRAC
        )
        & (
            F.size(F.filter(l, lambda x: x.rlike(r"(\.\.\.|…)$"))) / nl1
            <= GOPHER_MAX_ELLIPSIS_FRAC
        )
        & (
            F.size(F.filter(w, lambda x: x.rlike("[a-zA-Z]"))) / nw1
            >= GOPHER_MIN_ALPHA_FRAC
        )
        & (
            F.size(
                F.array_intersect(
                    F.array_distinct(F.transform(w, F.lower)),
                    F.array(*[F.lit(s) for s in GOPHER_REQ_STOPWORDS]),
                )
            )
            >= GOPHER_MIN_REQ_STOPWORDS
        )
    )


def gopher_rules(docs: DataFrame) -> DataFrame:
    """(doc_id, n_words, mean_word_len, symbol_word_ratio,
    bullet_line_frac, ellipsis_line_frac, alpha_word_frac,
    n_req_stopwords, passes_gopher): the Gopher corpus-filtering rules
    (public heuristic family; MassiveText paper) as one narrow
    projection — zero shuffles, zero Python, every ratio a single
    division of exact integers so the DuckDB oracle hash-compares.

    Rules: 50 <= words <= 100k; mean word length in [3, 10]; '#'/'...'
    symbol-to-word ratio <= 0.1; <= 90% of lines bullet-started;
    <= 30% of lines ellipsis-ended; >= 80% of words contain an
    alphabetic char; >= 2 of the 8 required English stopwords present.
    """
    words = words_of(F.col("text"))
    lines = F.split(F.col("text"), "\n")
    staged = docs.withColumns({"_w": words, "_l": lines})
    nw = F.size("_w")
    nl = F.size("_l")
    nw1 = F.greatest(nw, F.lit(1))
    nl1 = F.greatest(nl, F.lit(1))
    # sum of word lengths == count of non-whitespace chars (words are
    # maximal non-\s runs) — a codegen-friendly regexp instead of an
    # interpreted fold over the word array
    total_word_chars = F.length(
        F.regexp_replace(F.col("text"), r"\s", "")
    )
    n_hash = F.length("text") - F.length(
        F.regexp_replace(F.col("text"), "#", "")
    )
    n_ellipsis = F.size(
        F.regexp_extract_all(F.col("text"), F.lit(r"\.\.\."), 0)
    )
    n_bullet_lines = F.size(
        F.filter("_l", lambda l: F.trim(l).rlike(r"^[-*•]"))
    )
    n_ellipsis_lines = F.size(
        F.filter("_l", lambda l: l.rlike(r"(\.\.\.|…)$"))
    )
    n_alpha_words = F.size(F.filter("_w", lambda w: w.rlike("[a-zA-Z]")))
    n_req = F.size(
        F.array_intersect(
            F.array_distinct(F.transform("_w", F.lower)),
            F.array(*[F.lit(s) for s in GOPHER_REQ_STOPWORDS]),
        )
    )
    mean_wl = total_word_chars / nw1
    sym_ratio = (n_hash + n_ellipsis) / nw1
    bullet_frac = n_bullet_lines / nl1
    ell_frac = n_ellipsis_lines / nl1
    alpha_frac = n_alpha_words / nw1
    # single source of truth for the conjunction (shared with
    # with_gopher, so the pipeline flag can never drift from the
    # oracle-checked breakdown)
    passes = _gopher_passes("_w", "_l")
    return staged.select(
        "doc_id",
        nw.cast("long").alias("n_words"),
        round6(mean_wl).alias("mean_word_len"),
        round6(sym_ratio).alias("symbol_word_ratio"),
        round6(bullet_frac).alias("bullet_line_frac"),
        round6(ell_frac).alias("ellipsis_line_frac"),
        round6(alpha_frac).alias("alpha_word_frac"),
        n_req.cast("long").alias("n_req_stopwords"),
        passes.alias("passes_gopher"),
    )
