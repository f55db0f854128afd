"""Deduplication family for web-scale corpora.

All variants are deterministic and DuckDB-expressible for the oracle
gate. Joins, grouping and verification are DataFrame compositions; the
per-document passes (shingling, the fused MinHash signature + shingle
pass, SimHash) are Arrow pandas UDFs whose outputs match the SQL
expression forms the oracle runs:

- exact: md5-digest grouping (keep the smallest doc_id)
- MinHash + LSH: word-shingle -> per-seed min-digest signature -> banded
  bucket join -> exact-Jaccard verification of candidates
- SimHash: per-bit majority over token digests -> near-dup by Hamming
  distance
- n-gram Jaccard: inverted shingle join with a document-frequency cap on
  hot shingles (the skew guard), then exact Jaccard

Scale notes: LSH band join and shingle join are the shuffle-heavy steps;
both shuffle on digest-like keys (uniform by construction) except real-
world hot shingles, which the DF cap drops explicitly (and ``log()``-ably)
rather than letting one reducer melt. Signatures use md5 (stable across
engines) rather than xxhash64 (Spark-private seed mixing).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .textstats import round6, words_of

# The near-dup dials, one value each (the dedup_* entries and their
# DuckDB oracles run exactly these).
SHINGLE_N = 2  # word n-gram size of MinHash-LSH and n-gram Jaccard
JACCARD_THRESHOLD = 0.3  # verified-Jaccard floor of both pair finders
MINHASH_NUM_HASHES = 8
MINHASH_ROWS_PER_BAND = 2
NGRAM_MAX_DOC_FREQ = 50  # the hot-shingle skew guard
SIMHASH_PAIR_BITS = 32
SIMHASH_MAX_HAMMING = 3
CC_MAX_ITER = 20  # pointer jumping: covers diameters beyond 10^6


def exact_duplicates(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, canonical_id, is_duplicate): group by exact content.

    Canonical = min doc_id of the group. The groupBy and join shuffle
    32-byte md5 digests instead of multi-KB documents (~100x less
    shuffle for web pages), the 100 TB shape. Duplicate-by-digest stands
    in for duplicate-by-text — at md5 strength the corpus-wide collision
    odds are ~2^-64 even at 10^10 documents, which is how production
    exact dedup (e.g. CCNet-style pipelines) runs; a paranoid deployment
    can re-verify inside digest groups with the near-dup verifier.
    """
    hashed = docs.select("doc_id", F.md5(F.col(text_col)).alias("_h"))
    canon = hashed.groupBy("_h").agg(F.min("doc_id").alias("canonical_id"))
    return hashed.join(canon, "_h").select(
        "doc_id",
        "canonical_id",
        (F.col("doc_id") != F.col("canonical_id")).alias("is_duplicate"),
    )


def keep_canonical(
    docs: DataFrame, text_col: str = "text", digest: bool = True
) -> DataFrame:
    """Filter ``docs`` to one canonical row (min ``doc_id``) per exact
    content — the in-pipeline form of exact dedup.

    ``exact_duplicates`` labels every row (groupBy digest + join back =
    two exchanges); a cleaning pipeline only needs the KEPT rows, which
    a single window does: min(id) over (partition by digest), keep rows
    where id == min. ONE exchange, no join, and the digest (32-byte md5)
    is the partition key so the shuffle distributes uniformly no matter
    how skewed the duplicate clusters are.

    ``digest=False`` treats ``text_col`` as an already-computed content
    key (e.g. a pre-projected md5) — use it to drop the raw text BEFORE
    the window so multi-KB documents never ride the exchange when the
    caller doesn't need them downstream.
    """
    from pyspark.sql import Window

    key = F.md5(F.col(text_col)) if digest else F.col(text_col)
    w = Window.partitionBy(key)
    return (
        docs.withColumn("_canon_id", F.min("doc_id").over(w))
        .filter(F.col("doc_id") == F.col("_canon_id"))
        .drop("_canon_id")
    )


def word_shingles(text_col: Column, n: int = 2) -> Column:
    """Distinct word n-gram shingles of a text (expression form).

    Kept for single-column composition; the bulk path is
    :func:`shingle_table`, whose Arrow shingler produces the identical
    shingle set ~2-10x faster (the transform/slice/array_join chain here
    is interpreted per element — HOFs are CodegenFallback)."""
    words = words_of(text_col)
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.size(words) - (n - 1), F.lit(1))),
            lambda i: F.array_join(F.slice(words, i, n), " "),
        )
    )


_ASCII_WS = None  # compiled lazily; Java regex \s is ASCII-only


def _py_words(t: str) -> list[str]:
    """Tokenization mirroring ``words_of`` EXACTLY: Java's ``\\s`` is
    ``[ \\t\\n\\x0B\\f\\r]`` (ASCII only), while Python's ``str.split()``
    also splits on unicode whitespace (U+00A0 etc.) — a silent
    divergence on non-ASCII corpora. Split on the Java class, drop
    empties."""
    global _ASCII_WS
    if _ASCII_WS is None:
        import re

        _ASCII_WS = re.compile("[ \t\n\x0b\f\r]+")
    return [w for w in _ASCII_WS.split(t) if w]


def _py_ngrams(t: str | None, n: int) -> list[str]:
    """ALL word n-grams in order (duplicates kept) — the multiset form
    repetition statistics need; :func:`_py_shingles` is its dedup."""
    if t is None:
        return []
    w = _py_words(t)
    if n == 2:
        # fast path for the dominant bigram case: zip + concat beats
        # per-position slice+join ~2x and is semantically identical
        # (len>=2 -> pairs; len 1 -> the word; len 0 -> one '' shingle,
        # exactly what the generic branch yields via w[0:2])
        if len(w) >= 2:
            return [a + " " + b for a, b in zip(w, w[1:])]
        return [w[0] if w else ""]
    hi = max(len(w) - (n - 1), 1)
    return [" ".join(w[i : i + n]) for i in range(hi)]


def _py_shingles(t: str | None, n: int) -> list[str]:
    """Distinct word n-gram shingles, Python form (:func:`_py_words`
    tokens, ``dict.fromkeys`` mirrors ``array_distinct``) — verified
    row-identical to the :func:`word_shingles` expression on the
    sf0.1 corpus AND on an ASCII/unicode edge-case corpus (pytest)."""
    return list(dict.fromkeys(_py_ngrams(t, n)))


def shingle_table(docs: DataFrame, n: int = 2) -> DataFrame:
    """(doc_id, shingle) exploded distinct shingles of ``text``.

    Arrow pandas-UDF shingler (:func:`_py_shingles`), ~2x cold / ~10x
    warm vs the expression form: 1.5M interpreted slice+array_join
    evaluations vs one batched Python pass per Arrow batch."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<string>")
    def _shingles(texts: pd.Series) -> pd.Series:
        return texts.map(lambda t: _py_shingles(t, n))

    return docs.select(
        "doc_id", F.explode(_shingles("text")).alias("shingle")
    )


# universal-hash family for minhash: v_j(s) = (a_j * x(s) + b_j) mod P,
# where x(s) = first 32 bits of md5(s). P = largest prime < 2^32; a_j
# fits 28 bits so a*x + b < 2^61 stays exact in BIGINT arithmetic in
# Spark, DuckDB, AND numpy int64 — the whole family is SQL-transcribable
# for the oracle. One md5 per DISTINCT shingle replaces the round-2
# md5-per-(seed, shingle) scheme: ~12M hashlib calls -> ~1.5M at sf0.1
# (num_hashes x cheaper), with the per-seed mins derived by a numpy
# broadcast multiply instead of more hashing.
MH_PRIME = 4294967291


def minhash_params(num_hashes: int) -> tuple[list[int], list[int]]:
    """Deterministic (a, b) coefficients per seed, derived from md5 of
    fixed strings — no RNG state, identical across engines and runs
    (the oracle SQL embeds the same integers)."""
    import hashlib

    a = [
        int(hashlib.md5(f"mh-a-{j}".encode()).hexdigest()[:7], 16) or 1
        for j in range(num_hashes)
    ]
    b = [
        int(hashlib.md5(f"mh-b-{j}".encode()).hexdigest()[:8], 16)
        for j in range(num_hashes)
    ]
    return a, b


def _band_keys_from_mh(mins: DataFrame) -> DataFrame:
    """(doc_id, band, band_key) from a (doc_id, mh array) frame.

    Band ``b`` covers seeds ``[b*r, (b+1)*r)`` for
    ``r = MINHASH_ROWS_PER_BAND`` and its key is those minhashes joined
    by ``','`` in seed order. The signature is ONE array in seed order,
    so each key is a per-row ``slice`` projection — zero shuffles, no
    explode->regroup."""
    import math

    r = MINHASH_ROWS_PER_BAND
    keys = F.array(*[
        F.array_join(
            F.transform(
                F.slice("mh", i * r + 1, r),
                lambda c: c.cast("string"),
            ),
            ",",
        )
        for i in range(math.ceil(MINHASH_NUM_HASHES / r))
    ])
    # null signature (null/empty text) contributes no bands
    return mins.filter(F.col("mh").isNotNull()).select(
        "doc_id", F.posexplode(keys).alias("band", "band_key")
    )


def _pairs_from_banded(banded: DataFrame) -> DataFrame:
    """Distinct (doc_a, doc_b) sharing at least one LSH band bucket:
    self-equi-join of a (doc_id, band, band_key) table on (band, key) —
    uniform md5-derived keys, so the shuffle is skew-free by
    construction."""
    a = banded.select("band", "band_key", F.col("doc_id").alias("doc_a"))
    b = banded.select("band", "band_key", F.col("doc_id").alias("doc_b"))
    return (
        a.join(b, ["band", "band_key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def _sig_and_shingles_udf():
    """Factory: text -> struct(mh: array<long>, shs: array<long>) — the
    minhash signature AND the 60-bit hashed shingle array from ONE
    tokenize + ONE md5 per batch-distinct shingle (the full hexdigest
    serves both: chars [0:8) are the signature's universal-hash input,
    chars [0:15) the verify identity) — one Arrow pass feeds both the
    banding and the verify.

    The 60-bit shingle hash (first 15 hex chars of md5 — positive int64)
    is oracle-transcribable: DuckDB computes
    CAST('0x'||substr(md5(shingle),1,15) AS BIGINT) over the same
    shingles, so intersection counts agree bit-for-bit. A 60-bit
    collision between two different shingles of one compared pair
    (~2^-60 per shingle pair) would perturb the count identically in
    BOTH engines; a within-doc collision could skew the |A|+|B|-|A∩B|
    union arithmetic — probability ~1e-14 per doc, accepted and
    documented rather than defended with wider hashes."""
    import hashlib

    import numpy as np
    from pyspark.sql.functions import pandas_udf

    a_co, b_co = minhash_params(MINHASH_NUM_HASHES)

    @pandas_udf("struct<mh: array<long>, shs: array<long>>")
    def _combo(texts: pd.Series) -> pd.DataFrame:
        A = np.array(a_co, dtype=np.int64)[:, None]
        B = np.array(b_co, dtype=np.int64)[:, None]
        sh = [_py_shingles(t, SHINGLE_N) for t in texts]
        lens = np.array([len(s) for s in sh], dtype=np.int64)
        flat: list[str] = []
        for s in sh:
            flat.extend(s)
        if flat:
            codes, uniques = pd.factorize(
                pd.Series(flat, dtype="object"), use_na_sentinel=False
            )
            hexes = [hashlib.md5(u.encode()).hexdigest() for u in uniques]
            xu = np.fromiter(
                (int(h[:8], 16) for h in hexes),
                dtype=np.int64, count=len(hexes),
            )
            hu = np.fromiter(
                (int(h[:15], 16) for h in hexes),
                dtype=np.int64, count=len(hexes),
            )
            H = (A * xu[codes] + B) % MH_PRIME
            seg = lens[lens > 0]
            starts = np.concatenate(([0], np.cumsum(seg)[:-1])).astype(
                np.int64
            )
            mins = np.minimum.reduceat(H, starts, axis=1)
            hc = hu[codes]
        # StructType pandas UDFs return a DataFrame (one column per
        # field). Build plain Python lists of .tolist() values — object
        # Series assignment of ndarray cells corrupts (repo rule).
        mh_out: list[list[int] | None] = []
        shs_out: list[list[int]] = []
        j = 0
        pos = 0
        for ln in lens:
            shs_out.append(hc[pos : pos + ln].tolist() if ln else [])
            pos += ln
            if ln == 0:
                mh_out.append(None)
            else:
                mh_out.append(mins[:, j].tolist())
                j += 1
        return pd.DataFrame(
            {
                "mh": pd.Series(mh_out, dtype="object"),
                "shs": pd.Series(shs_out, dtype="object"),
            }
        )

    return _combo


def _candidate_docs(pairs: DataFrame) -> DataFrame:
    """Distinct doc ids appearing on either side of the pair list —
    only these are shingled at all: semi-join the BASE docs before the
    shingle UDF (candidates are a sparse subset of the corpus, and
    Catalyst cannot push a filter into a pandas UDF — filtering after
    the UDF still pays the full-corpus shingling)."""
    return (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .unionByName(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )


def jaccard_verify(pairs: DataFrame, docs: DataFrame) -> DataFrame:
    """Exact shingle-set Jaccard for candidate pairs; keep those at or
    above ``JACCARD_THRESHOLD``.

    (doc_a, doc_b, jaccard). |A∩B| comes from an equi-join of the
    exploded distinct-shingle table restricted to candidate pairs, and
    |A∪B| = |A| + |B| - |A∩B| — no per-doc shingle ARRAYS are ever
    materialized or shipped, so a 10^5-shingle document costs rows, not
    a wide array in every pair row. A pair with zero shared shingles
    drops out of the join, which is correct for a threshold > 0.

    The shingle table feeds three consumers (sizes + both join sides),
    so it is lazily checkpointed — otherwise the Arrow shingler's
    subplan runs once per consumer (the repo's twice-referenced-subplan
    rule).
    """
    # distinct (doc_id, shingle) of candidate docs only
    sh = shingle_table(
        docs.join(_candidate_docs(pairs), "doc_id", "left_semi"), SHINGLE_N
    ).localCheckpoint(eager=False)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    shared = (
        pairs.join(a, "doc_a")
        .join(b, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("shared"))
    )
    out = (
        shared.join(
            sizes.select(F.col("doc_id").alias("doc_a"),
                         F.col("n_sh").alias("n_a")), "doc_a"
        )
        .join(
            sizes.select(F.col("doc_id").alias("doc_b"),
                         F.col("n_sh").alias("n_b")), "doc_b"
        )
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("shared")
                / (F.col("n_a") + F.col("n_b") - F.col("shared"))
            ).alias("jaccard"),
        )
    )
    return out.filter(F.col("jaccard") >= JACCARD_THRESHOLD).select(
        "doc_a", "doc_b", round6(F.col("jaccard")).alias("jaccard")
    )


def _jaccard_verify_arrays(pairs: DataFrame, arrs: DataFrame) -> DataFrame:
    """:func:`jaccard_verify` over per-doc hashed-shingle ARRAYS — the
    short-document shape the fused MinHash pass feeds: ``arrs`` is its
    (doc_id, shs) table of 60-bit shingle hashes (see
    :func:`_sig_and_shingles_udf`). Two narrow joins + one native
    intersection instead of a |pairs| x |shingles/doc| row fan-out;
    per-pair cost (and shuffle width) is O(shingles/doc).
    """
    # |A∩B| via the NATIVE array_intersect expression (round-6): the
    # previous per-pair numpy intersect1d ran at Python's ~17 us/pair
    # floor and serialized behind AQE-coalesced partitions — at sf0.1
    # (73k candidate pairs) the Arrow verify was ~2.0 s vs ~0.65 s for
    # the JVM expression, with 0 count mismatches across every pair.
    # array_intersect is set-semantic (dedups), exactly intersect1d's
    # behavior and DuckDB's list_intersect, so a freak within-doc hash
    # collision still degrades to set semantics on both sides. This
    # also removes the last JVM->Python array shipment from the verify.
    joined = (
        pairs.join(
            arrs.select(
                F.col("doc_id").alias("doc_a"), F.col("shs").alias("sa")
            ),
            "doc_a",
        )
        .join(
            arrs.select(
                F.col("doc_id").alias("doc_b"), F.col("shs").alias("sb")
            ),
            "doc_b",
        )
        # compute `shared` once in its own projection: Catalyst does
        # not CSE a repeated expression across output columns
        .select(
            "doc_a", "doc_b", "sa", "sb",
            F.size(F.array_intersect("sa", "sb")).cast("long").alias(
                "shared"
            ),
        )
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("shared")
                / (F.size("sa") + F.size("sb") - F.col("shared"))
            ).alias("jaccard"),
        )
    )
    return joined.filter(F.col("jaccard") >= JACCARD_THRESHOLD).select(
        "doc_a", "doc_b", round6(F.col("jaccard")).alias("jaccard")
    )


def minhash_lsh_dedup(
    docs: DataFrame, checkpoint_candidates: bool = True
) -> DataFrame:
    """End-to-end MinHash-LSH near-dup pairs (verified Jaccard).

    The whole pipeline runs off ONE fused Arrow pass
    (:func:`_sig_and_shingles_udf`): each document is tokenized once and
    each batch-distinct shingle md5'd once, yielding both the signature
    (band keys, :func:`_band_keys_from_mh` — no explode->regroup
    shuffle) and the hashed shingle array the verify intersects
    (:func:`_jaccard_verify_arrays`).

    Three tables are read twice per action and so are lazily
    local-checkpointed: the fused signature/shingle table (bands +
    verify), the candidate pairs (join keys + doc pruning set; measured
    ~25% off the whole pipeline at sf0.1) and the candidate shingle
    arrays (both verify join sides). Pass ``checkpoint_candidates=False``
    on clusters with aggressive dynamic executor deallocation, where
    localCheckpoint blocks can be lost with their executor mid-job; it
    turns all three off and keeps the whole plan visible.
    """
    def ckpt(df: DataFrame) -> DataFrame:
        return df.localCheckpoint(eager=False) if checkpoint_candidates else df

    combo = ckpt(docs.select(
        "doc_id",
        _sig_and_shingles_udf()("text").alias("s"),
    ))
    banded = _band_keys_from_mh(
        combo.select("doc_id", F.col("s.mh").alias("mh"))
    )
    # banded is a cheap projection over the combo table — no checkpoint
    # of its own for the self-join sides
    cand = ckpt(_pairs_from_banded(banded))
    # the semi-join keeps shingle ARRAYS off the shuffle for
    # non-candidate docs at scale
    arrs = ckpt(
        combo.join(_candidate_docs(cand), "doc_id", "left_semi").select(
            "doc_id", F.col("s.shs").alias("shs")
        )
    )
    return _jaccard_verify_arrays(cand, arrs)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash(docs: DataFrame, bits: int = 16) -> DataFrame:
    """(doc_id, simhash): per-bit majority vote over the md5 digests of
    the ``text`` tokens.

    Bit b of token t = parity of hex digit b of md5(t) (one digit per
    bit, so bits <= 32). simhash bit b is set iff sum over tokens of
    (+1/-1) is positive. Portable: identical arithmetic in DuckDB.
    """
    if bits > 32:
        raise ValueError("bits must be <= 32 (one hex digit per bit)")
    # ONE narrow Arrow pass per doc: md5 per token (hashlib — identical
    # hexdigests to Spark/DuckDB md5), per-bit ±1 majority. The
    # expression form (explode words -> md5 -> `bits` conditional
    # sums in a hash aggregate) shuffles every token row and evaluates
    # bits x tokens conv/substring expressions; a fold-per-bit HOF
    # variant is worse still (re-hashes every token per bit).
    #
    # Round-6 vectorization (the _sig_and_shingles_udf playbook, guide
    # §4.2): the old body looped words x bits in Python per row. Now
    # one factorize over the batch's flattened tokens, ONE md5 per
    # batch-distinct token, a (distinct x bits) ±1 matrix from the raw
    # hex bytes, and per-doc vote sums via add.reduceat. All-integer
    # arithmetic with the same votes>0 majority, so signatures are
    # bit-identical to the row form (pytest parity) and the DuckDB
    # oracle hash compare is unchanged.
    import hashlib

    import numpy as np
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def _simhash(texts: pd.Series) -> pd.Series:
        toks = [None if t is None else _py_words(t) for t in texts]
        # None text and zero-token text both yield null, matching the
        # explode form (no vote rows -> doc dropped)
        lens = np.array([len(w) if w else 0 for w in toks], dtype=np.int64)
        flat: list[str] = []
        for w in toks:
            if w:
                flat.extend(w)
        if flat:
            codes, uniques = pd.factorize(
                pd.Series(flat, dtype="object"), use_na_sentinel=False
            )
            hexes = "".join(
                hashlib.md5(u.encode()).hexdigest()[:bits] for u in uniques
            )
            digits = np.frombuffer(hexes.encode(), dtype=np.uint8).reshape(
                len(uniques), bits
            )
            odd_vals = np.frombuffer(b"13579bdf", dtype=np.uint8)
            pm = np.where(np.isin(digits, odd_vals), 1, -1).astype(np.int64)
            seg = lens[lens > 0]
            starts = np.concatenate(([0], np.cumsum(seg)[:-1])).astype(
                np.int64
            )
            votes = np.add.reduceat(pm[codes], starts, axis=0)
            weights = np.int64(1) << np.arange(bits, dtype=np.int64)
            sigs = ((votes > 0) * weights).sum(axis=1)
        out: list[int | None] = []
        j = 0
        for ln in lens:
            if ln == 0:
                out.append(None)
            else:
                out.append(int(sigs[j]))
                j += 1
        return pd.Series(out, dtype="object")

    return docs.select(
        "doc_id", _simhash("text").alias("simhash")
    ).filter(F.col("simhash").isNotNull())


def simhash_near_dups(
    docs: DataFrame, checkpoint_banded: bool = True
) -> DataFrame:
    """(doc_a, doc_b, hamming) pairs within Hamming distance
    ``SIMHASH_MAX_HAMMING`` of the ``SIMHASH_PAIR_BITS``-bit simhash.

    Blocking is EXACT by pigeonhole: the signature is split into
    ``SIMHASH_MAX_HAMMING + 1`` disjoint bit-bands, so any pair within
    that distance has at least one band with zero differing bits and
    meets in that band's bucket. (The earlier 2-half variant only
    guaranteed recall for distance < 2 while defaulting to 3.)
    Candidates meet on an equi-join keyed by (band index, band value) —
    one shuffle on uniform keys — then verify with bit_count(xor).

    The banded table feeds both self-join sides; the lazy
    localCheckpoint (round-4) runs the simhash Arrow pass once instead
    of twice per action — same escape-hatch rationale as
    minhash_lsh_dedup's checkpoint_candidates.
    """
    sh = simhash(docs, SIMHASH_PAIR_BITS)
    n_bands = SIMHASH_MAX_HAMMING + 1
    base, rem = divmod(SIMHASH_PAIR_BITS, n_bands)
    widths = [base + (1 if i < rem else 0) for i in range(n_bands)]
    offsets = [sum(widths[:i]) for i in range(n_bands)]
    bands = F.array(
        *[
            F.struct(
                F.lit(i).alias("band"),
                (
                    F.shiftright("simhash", offsets[i]) % (2 ** widths[i])
                ).alias("val"),
            )
            for i in range(n_bands)
        ]
    )
    banded = sh.select(
        "doc_id", "simhash", F.explode(bands).alias("bk")
    ).select(
        "doc_id",
        "simhash",
        F.col("bk.band").alias("band"),
        F.col("bk.val").alias("val"),
    )
    if checkpoint_banded:
        banded = banded.localCheckpoint(eager=False)
    cand = (
        banded.alias("a")
        .join(banded.alias("b"), ["band", "val"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .distinct()
    )
    return (
        cand.withColumn(
            "hamming",
            F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))),
        )
        .filter(F.col("hamming") <= SIMHASH_MAX_HAMMING)
        .select("doc_a", "doc_b", "hamming")
    )


def connected_components(pairs: DataFrame) -> DataFrame:
    """(doc_id, cluster_id): connected components over near-dup pairs
    (``doc_a``, ``doc_b``).

    Min-label propagation WITH pointer jumping: every node starts
    labeled with its own id; each round it adopts the minimum label
    among itself and its neighbors, then shortcuts to its label's label
    (labels are node ids, so the label table doubles as a pointer
    table). Plain propagation needs O(component diameter) rounds —
    near-dup graphs at corpus scale produce exactly the long chains
    that exhaust a fixed budget; the shortcut halves remaining distance
    per round, so convergence is O(log diameter): ``CC_MAX_ITER`` = 20
    rounds cover diameters beyond 10^6. The canonical dedup-clustering step
    after pair generation: cluster_id = the smallest doc id in the
    component (keep it, drop the rest).

    Convergence is CHECKED (a round that changes nothing ends the
    loop); if ``CC_MAX_ITER`` rounds still changed labels the result would
    be silently wrong (an under-merge), so it raises instead.

    Scale shape: each round is two joins + one min-aggregate on
    key-partitioned id tables — the standard large-graph CC under Spark
    without GraphX/graphframes.
    """
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionByName(
            pairs.select(
                F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")
            )
        )
        .distinct()
        .cache()
    )
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .cache()
    )
    converged = False
    for _ in range(CC_MAX_ITER):
        neighbor_min = (
            edges.join(labels, edges.src == labels.node)
            .groupBy("dst")
            .agg(F.min("label").alias("nbr_label"))
        )
        # lineage truncation, not just caching: `propagated` feeds the
        # next plan TWICE (as itself and as the pointer table), so an
        # uncut lineage doubles per round — exponential plan growth and
        # a driver OOM by round ~10. localCheckpoint materializes the
        # rows and makes each round's plan start flat, the standard
        # shape for iterative DataFrame algorithms (cf. MLlib).
        # lazy: materializes inside the new_labels job below (one job
        # instead of a separate eager barrier per round — round-6; the
        # lineage cut is identical once materialized, and `parent` +
        # `propagated` still read the same checkpointed blocks)
        # old_label (the round-start label) rides the checkpointed frame
        # so the convergence check below is a join-free filter over the
        # blocks the round just materialized — one narrow column instead
        # of a per-round join of the old and new label tables (round-6).
        propagated = (
            labels.join(
                neighbor_min, labels.node == neighbor_min.dst, "left"
            )
            .select(
                "node",
                F.col("label").alias("old_label"),
                F.least(
                    F.col("label"), F.coalesce("nbr_label", F.col("label"))
                ).alias("label"),
            )
            .localCheckpoint(eager=False)
        )
        # pointer jumping: adopt my label's own label (always <= mine,
        # since per-node labels only ever decrease from node id)
        parent = propagated.select(
            F.col("node").alias("label"),
            F.col("label").alias("_grand"),
        )
        new_labels = (
            propagated.join(parent, "label", "left")
            .select(
                "node",
                "old_label",
                F.least(
                    F.col("label"), F.coalesce("_grand", F.col("label"))
                ).alias("label"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.filter(F.col("label") != F.col("old_label"))
            .limit(1)
            .count()
        )
        # release superseded storage (round-4 ADVICE fix): new_labels is
        # already eagerly materialized, so the intermediate propagated
        # frame and the previous labels (the initial .cache() in round 1,
        # a checkpointed frame afterwards) are dead weight that would
        # otherwise accumulate one block-set per round per call in a
        # long-lived session
        propagated.unpersist()
        labels.unpersist()
        labels = new_labels
        if changed == 0:
            converged = True
            break
    edges.unpersist()
    if not converged:
        raise RuntimeError(
            f"connected_components: labels still changing after "
            f"CC_MAX_ITER={CC_MAX_ITER} rounds — result would under-merge "
            f"clusters. Raise CC_MAX_ITER (each round doubles reachable "
            f"distance)."
        )
    return labels.select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
    )


def ngram_jaccard_pairs(
    docs: DataFrame, checkpoint_candidates: bool = True
) -> DataFrame:
    """Near-dup pairs via shared-shingle blocking + exact Jaccard.

    ``NGRAM_MAX_DOC_FREQ`` drops shingles appearing in more docs — the
    explicit skew guard: a stopword shingle in 10^9 docs would otherwise
    create a quadratic join partition.

    The guard broadcasts the HOT set (df > NGRAM_MAX_DOC_FREQ) and
    anti-joins it away. Hot shingles are tiny by construction (each
    needs more than NGRAM_MAX_DOC_FREQ occurrences, so there are at most
    |corpus shingle instances| / NGRAM_MAX_DOC_FREQ of them); the rare
    set is ~every distinct shingle — billions of rows at 100 TB, never
    broadcastable.
    """
    sh = shingle_table(docs, SHINGLE_N)
    # the shingle table feeds THREE consumers per action (the hot-set
    # aggregate and both sides of the self-join), so the tokenize+
    # shingle Arrow pass used to run 3x — the repo's twice-referenced-
    # subplan rule (round-6: lazy localCheckpoint runs it once; same
    # escape hatch semantics as the candidate checkpoint below)
    if checkpoint_candidates:
        sh = sh.localCheckpoint(eager=False)
    hot = (
        sh.groupBy("shingle")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") > NGRAM_MAX_DOC_FREQ)
        .select("shingle")
    )
    sh = sh.join(F.broadcast(hot), "shingle", "left_anti")
    pairs = (
        sh.alias("a")
        .join(sh.alias("b"), "shingle")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    # the candidate pairs feed jaccard_verify twice (join keys + doc
    # pruning set); checkpoint so the shingle self-join runs once.
    # checkpoint_candidates=False keeps the full plan visible (plan-pin
    # tests) or avoids localCheckpoint under dynamic allocation.
    if checkpoint_candidates:
        pairs = pairs.localCheckpoint(eager=False)
    return jaccard_verify(pairs, docs)


def line_dedup(docs: DataFrame, min_doc_freq: int = 2) -> DataFrame:
    """(doc_id, n_lines, n_kept, clean_text): split ``text`` into
    lines and drop every line whose exact content appears in at least
    ``min_doc_freq`` DISTINCT documents — RefinedWeb/C4-style
    line-level exact dedup (the pass that strips boilerplate lines like
    nav menus and cookie banners that repeat across a site).

    Scale shape: lines explode once; the document-frequency aggregate
    groups on the md5 DIGEST of the line (32 bytes through the shuffle,
    never the line text), exactly like exact_dedup; hot lines are by
    definition the duplicated ones, and a uniform digest key cannot
    skew. The hot-digest set joins back as a left-anti (no broadcast
    assumption — at corpus scale the duplicated-line set is itself
    large). Rebuild is one groupBy over (doc, kept lines) with an
    in-group array_sort — no window, no global sort. Documents whose
    every line was dropped still emit a row (clean_text = '').

    Null text is coalesced to '' up front so both engines agree by
    construction (Spark's size(split(NULL)) is -1 while SQL splits of
    NULL vanish or nullify — the same latent-mismatch class the
    repetition-stats ADVICE fix closed).

    NOTE: the input is referenced TWICE in the plan (line explode +
    per-doc line totals). A parquet-backed input just scans twice —
    fine. An input that is itself an expensive computed subplan should
    be ``localCheckpoint(eager=False)``-ed by the caller first, or its
    subplan executes twice (the repo twice-referenced-subplan rule;
    halved the line_dedup gate entry at sf0.1).
    """
    docs = docs.withColumn("text", F.coalesce(F.col("text"), F.lit("")))
    lines = docs.select(
        "doc_id",
        F.posexplode(F.split("text", "\n")).alias("line_no", "line"),
    ).withColumn("digest", F.md5("line"))
    hot = (
        lines.groupBy("digest")
        .agg(F.count_distinct("doc_id").alias("line_df"))
        .filter(F.col("line_df") >= min_doc_freq)
        .select("digest")
    )
    kept = lines.join(hot, "digest", "left_anti")
    rebuilt = kept.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("line_no", "line"))),
                lambda s: s["line"],
            ),
            "\n",
        ).alias("clean_text"),
    )
    totals = docs.select(
        "doc_id",
        F.size(F.split("text", "\n")).cast("long").alias("n_lines"),
    )
    return (
        totals.join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            "n_lines",
            F.coalesce("n_kept", F.lit(0).cast("long")).alias("n_kept"),
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        )
    )


def keep_best_in_clusters(
    scored_docs: DataFrame, pairs: DataFrame
) -> DataFrame:
    """(doc_id, cluster_id, quality, keep): near-dup clusters keep
    their HIGHEST-``quality`` member instead of the lowest id.

    The production keep policy for near-dup dedup: min-id keeps
    whichever copy happened to be crawled first; keeping the argmax of
    a quality signal retains the best representative. Clusters come
    from :func:`connected_components` over ``pairs``; documents in no
    pair are singleton clusters of themselves and always kept. Ties
    break by min id (deterministic).

    Scale shape: CC is the existing O(log diameter) loop; the label
    attach is one id-keyed left join (labels are ids-only); the keep
    decision is one window over cluster_id — clusters are small by
    construction (near-dup groups), so no skew concern.
    """
    from pyspark.sql import Window

    labels = connected_components(pairs)
    joined = scored_docs.select("doc_id", "quality").join(
        labels, "doc_id", "left"
    )
    clustered = joined.withColumn(
        "cluster_id", F.coalesce("cluster_id", "doc_id")
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("quality"), F.asc("doc_id")
    )
    return clustered.select(
        "doc_id",
        "cluster_id",
        "quality",
        (F.row_number().over(w) == 1).alias("keep"),
    )
