"""Deterministic sampling & shard packing for training-data pipelines.

Two operations every large-scale dataset build needs between "filtered
corpus" and "training shards":

- stratified_sample: per-stratum downsampling (e.g. keep 10% of low-
  quality docs, 100% of high-quality) that is DETERMINISTIC — driven by
  a salted md5 of the document id, not an RNG — so re-runs, retries and
  incremental appends sample the same rows. No collect, no RNG state:
  a row's fate is a pure function of (salt, id).
- pack_sequences: assign documents to fixed-token-budget shards
  (sequence packing for LLM training). Documents are hash-bucketed
  (parallel, skew-free) and packed contiguously within each bucket by a
  running token sum — one window per bucket, never a global sort. A
  shard may overrun the budget by at most its last document (the
  standard streaming-pack tradeoff; exact bin packing is sequential).

Both are pure DataFrame expressions (JVM, codegen) and DuckDB-
expressible for the oracle gate: Spark ``conv(substring(md5(x),1,8),
16,10)`` == DuckDB ``CAST('0x' || substr(md5(x),1,8) AS BIGINT)``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

HASH_SPACE = float(2 ** 32)


def _hash32(col: Column, salt: str) -> Column:
    """The first 8 hex digits of md5(salt || '|' || col) as a bigint in
    [0, 2^32): the one salted-hash recipe of this module."""
    h = F.md5(F.concat(F.lit(salt), F.lit("|"), col.cast("string")))
    return F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint")


def hash_unit(col: Column, salt: str = "") -> Column:
    """Deterministic uniform [0,1) from a salted md5 of ``col``.

    First 8 hex digits -> 32-bit int -> divide by 2^32. Identical
    arithmetic in DuckDB (see module docstring), so sampled row sets
    are oracle-checkable exactly.
    """
    return _hash32(col, salt) / HASH_SPACE


def stratified_sample(
    docs: DataFrame,
    fractions: dict[str, float],
    strata_col: str = "stratum",
    salt: str = "sample",
) -> DataFrame:
    """Keep each row with its stratum's probability, deterministically.

    A row survives iff ``hash_unit(salt, doc_id) < fractions[stratum]``.
    Unknown strata are dropped. Narrow (no shuffle, no
    RNG): the filter pushes to the scan side and the same ids survive
    on every run/cluster — what an incremental 100 TB pipeline needs
    (re-sampling a late partition must not flap rows).
    """
    frac = F.lit(0.0)
    for value, f in sorted(fractions.items()):
        frac = F.when(
            F.col(strata_col) == value, F.lit(float(f))
        ).otherwise(frac)
    return docs.filter(hash_unit(F.col("doc_id"), salt) < frac)


def pack_sequences(
    docs: DataFrame,
    budget: int,
    n_buckets: int = 8,
) -> DataFrame:
    """(doc_id, bucket, shard, n_tokens): fixed-token-budget shard
    packing.

    Documents are hash-bucketed (uniform md5 keys — each bucket packs
    independently in parallel; a global pack would serialize 100 TB
    through one window). Within a bucket, documents are ordered by id
    and packed contiguously: ``shard = floor(tokens_before / budget)``
    where ``tokens_before`` is the running token sum EXCLUDING the
    current doc — so a shard can overrun the budget only by its final
    document, and a doc larger than the budget gets a shard to itself.

    A document's tokens are the whitespace tokens of ``text``; its
    bucket hashes ``doc_id`` salted with ``"pack"``. Fully
    deterministic; one shuffle (the per-bucket window sort).
    """
    # words_of semantics (textstats.py): filtered split, so empty/
    # whitespace-only docs count 0 tokens, not 1 phantom — a bare split
    # counts a leading-tab doc one token high
    from .textstats import words_of

    tokens = F.size(words_of(F.col("text")))
    bucket = _hash32(F.col("doc_id"), "pack") % n_buckets
    staged = docs.select(
        "doc_id",
        bucket.alias("bucket"),
        tokens.cast("bigint").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("n_tokens").over(w)
    return staged.select(
        "doc_id",
        "bucket",
        F.floor((cum - F.col("n_tokens")) / budget).cast("int").alias(
            "shard"
        ),
        "n_tokens",
    )


def top_n_per_group(docs: DataFrame, n: int) -> DataFrame:
    """Deterministic per-``source`` uniform subsample: the ``n`` rows of
    each source with the smallest ``"topn"``-salted ``doc_id`` hash — a
    reservoir-sample equivalent whose membership is a pure function of
    the id, so re-runs and incremental appends keep identical rows per
    source.

    One shuffle (the per-group window); rank ties broken by id so the
    ordering is total even under (astronomically unlikely) hash
    collisions. The standard "cap any one domain's contribution" move
    in crawl curation.
    """
    h = hash_unit(F.col("doc_id"), "topn")
    w = Window.partitionBy("source").orderBy(h.asc(), F.col("doc_id").asc())
    return (
        docs.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= n)
        .drop("_rk")
    )


def rebalance_mixture(docs: DataFrame, target: dict[str, float]) -> DataFrame:
    """Downsample ``lang`` strata so the OUTPUT approximates the
    ``target`` mixture (curriculum/data-mixing weights for a training
    run) — by downsampling only, never upsampling.

    Let c_s be stratum counts and t_s the target shares. The largest
    achievable total is T = min over s (c_s / t_s); each stratum keeps
    fraction T * t_s / c_s of its rows via the deterministic salted-
    hash filter (:func:`stratified_sample`), so expected output shares
    equal the target. Strata missing from ``target`` are dropped.

    The per-stratum counts are a driver-side collect of ONE small
    aggregate row per stratum (languages/sources — dims, not data), the
    same driver-sized materialization pattern as IVF centroids; the
    corpus itself sees only the narrow hash filter.
    """
    counts = {
        r[0]: r[1]
        for r in docs.groupBy("lang")
        .agg(F.count("*").alias("c"))
        .collect()
    }
    eligible = {
        s: t for s, t in target.items() if t > 0 and counts.get(s, 0) > 0
    }
    if not eligible:
        return docs.filter(F.lit(False))
    total = min(counts[s] / t for s, t in eligible.items())
    fractions = {s: total * t / counts[s] for s, t in eligible.items()}
    return stratified_sample(docs, fractions, strata_col="lang", salt="mix")
