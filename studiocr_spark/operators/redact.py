"""PII redaction for web-corpus curation.

Standard pre-training hygiene (public practice across C4/RefinedWeb-style
pipelines): scrub emails, IPv4 addresses, and phone-shaped numbers from
document text before packing, and record per-kind match counts for audit.

Pure JVM ``regexp_count``/``regexp_replace`` — zero Python in the hot
path, trivially scalable (narrow projection), and the patterns stick to
the regex subset where Java (Spark) and RE2 (DuckDB) agree, so the
oracle hash-compares the redacted text byte-for-byte.

No reference counterpart (the reference is a desktop OCR app); part of
the training-data-pipeline family.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Order matters: applied (and therefore documented) top to bottom.
# Patterns avoid lookarounds/backrefs so Java and RE2 behave identically.
# Phone covers NANP-shaped forms: 555-123-4567 / 555.123.4567 /
# 555 123 4567 / (555) 123-4567 / (555)123.4567, each optionally
# prefixed by +1 — still no lookarounds ("phone-shaped", not a parser;
# an IPv4 can never satisfy the trailing 4-digit group). The leading \b
# sits on the first DIGIT of each alternative because \b before "(" or
# "+" would invert (both are non-word chars).
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b(?:\d{1,3}\.){3}\d{1,3}\b",
    "phone": r"(?:\+1[-. ]?)?(?:\(\d{3}\)[-. ]?|\b\d{3}[-. ])\d{3}[-. ]\d{4}\b",
}


def redact_pii(docs: DataFrame) -> DataFrame:
    """Append per-kind match counts (``n_email``/``n_ipv4``/``n_phone``,
    counted on the ORIGINAL ``text``) and ``redacted_text`` with every match
    replaced by ``<kind>`` — replacements applied in PII_PATTERNS order.
    """
    out = docs
    for kind, pat in PII_PATTERNS.items():
        out = out.withColumn(
            f"n_{kind}",
            F.regexp_count(F.col("text"), F.lit(pat)).cast("long"),
        )
    red = F.col("text")
    for kind, pat in PII_PATTERNS.items():
        red = F.regexp_replace(red, pat, f"<{kind}>")
    return out.withColumn("redacted_text", red)
