"""URL canonicalization and URL-level dedup for crawl corpora.

A crawl sees the same page under many spellings — scheme/host case,
default ports, fragments, and tracking parameters (utm_*, fbclid,
gclid) all vary without changing the content addressed. Canonicalizing
BEFORE url-level dedup is standard crawl hygiene (the CDX/Common-Crawl
practice); without it, url-keyed dedup under-merges and bucket-by-url
partitioning splits one page's revisions across buckets.

Everything here is pure JVM expressions (regexp_extract / array ops) in
the Java∩RE2-portable regex subset, so the DuckDB oracle reproduces the
canonical form byte-for-byte. Zero shuffles for canonicalization
itself; the dedup step reuses exact_duplicates' digest shuffle.

No reference counterpart (the reference keys documents by user-chosen
name — StudiOCR/db.py OcrDocument.name); this is the web-scale analog
of its unique-name constraint.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# tracking parameters stripped during canonicalization (public lists:
# utm_* campaign params, Facebook fbclid, Google gclid)
_TRACKING_RE = r"^(utm_[A-Za-z0-9_]*|fbclid|gclid)="

_SCHEME_RE = r"^([A-Za-z][A-Za-z0-9+.-]*)://"
_HOSTPORT_RE = r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)"
_PATH_RE = r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)"
_QUERY_RE = r"\?([^#]*)"


def canonicalize_url(url: Column) -> Column:
    """Canonical form of an absolute http(s) URL:

    - scheme and host lowercased
    - default ports stripped (:80 for http, :443 for https)
    - empty path becomes '/'
    - query: tracking params removed, remaining params sorted
      byte-wise, empty query dropped
    - fragment dropped

    Rows that don't parse as scheme://host... come back unchanged
    (conservative: never corrupt a URL we don't understand).
    """
    scheme = F.lower(F.regexp_extract(url, _SCHEME_RE, 1))
    hostport = F.lower(F.regexp_extract(url, _HOSTPORT_RE, 1))
    host = F.when(
        scheme == "http", F.regexp_replace(hostport, ":80$", "")
    ).when(
        scheme == "https", F.regexp_replace(hostport, ":443$", "")
    ).otherwise(hostport)
    path = F.regexp_extract(url, _PATH_RE, 1)
    path = F.when(path == "", F.lit("/")).otherwise(path)
    # Extract the query from the PRE-FRAGMENT substring only (round-5
    # ADVICE fix): applying \?([^#]*) to the whole URL matched the first
    # '?' even when it sat inside the fragment ('http://h/p#sec?x=1'
    # wrongly canonicalized to 'http://h/p?x=1'). [\s\S] spells
    # match-anything identically in Java and RE2, so the DuckDB oracle
    # mirrors this byte-for-byte.
    pre_fragment = F.regexp_replace(url, r"#[\s\S]*", "")
    query = F.regexp_extract(pre_fragment, _QUERY_RE, 1)
    kept = F.array_join(
        F.array_sort(
            F.filter(
                F.split(query, "&"),
                lambda p: (p != "") & ~p.rlike(_TRACKING_RE),
            )
        ),
        "&",
    )
    canon = F.concat(
        scheme,
        F.lit("://"),
        host,
        path,
        F.when(kept != "", F.concat(F.lit("?"), kept)).otherwise(F.lit("")),
    )
    return F.when(scheme == "", url).otherwise(canon)


def url_dedup(pages: DataFrame) -> DataFrame:
    """(doc_id, canonical_url, canonical_id, is_duplicate): canonicalize
    ``url``, then group identical canonical URLs (keep the min id as
    canonical) — exact_duplicates' digest-shuffle shape applied to the
    canonical string instead of the content."""
    from .dedup import exact_duplicates

    canon = pages.select(
        "doc_id", canonicalize_url(F.col("url")).alias("canonical_url")
    )
    labeled = exact_duplicates(canon, text_col="canonical_url")
    return labeled.join(canon, "doc_id").select(
        "doc_id", "canonical_url", "canonical_id", "is_duplicate"
    )
