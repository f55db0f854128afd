"""Similarity search over ``embedding`` columns (array<float>) keyed by
``vec_id`` — the embeddings table's schema; every operator here reads
those two columns.

- brute-force cosine top-k: the exactness baseline. Dot products run as
  sequential ``F.aggregate`` folds over zipped arrays (JVM-side,
  deterministic order -> bit-stable in double precision, comparable with
  the DuckDB oracle), top-k via window row_number.
- LSH-bucketed ANN: random-hyperplane signatures with md5-derived
  deterministic planes; candidates share a signature bucket, then exact
  re-rank. The scale path: the quadratic crossJoin becomes a bucket
  equi-join.

Scale notes: brute force is O(Q x N) — fine when the query side is small
and broadcast. For corpus-vs-corpus at 10^9 vectors use the LSH variant
(bucket join) or the IVF partitioner (nearest hash-seeded centroid),
both of which shuffle on uniform keys.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .textstats import round6

# embedding near-dups: the cosine floor, and the LSH blocking that finds
# >= 90% of the pairs above it (4 planes x 16 OR-amplified tables)
NEAR_DUP_COSINE = 0.35
NEAR_DUP_N_PLANES = 4
NEAR_DUP_N_TABLES = 16
# IVF ANN: top-k per query, coarse cells, and the cells each query probes
IVF_K = 5
IVF_N_CENTROIDS = 16
IVF_N_PROBE = 8


def _dot(a: Column, b: Column) -> Column:
    """Deterministic sequential-fold dot product (double)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a,
            F.lit(0.0),
            lambda acc, v: acc + v.cast("double") * v.cast("double"),
        )
    )


def cosine_sim(a: Column, b: Column) -> Column:
    """Sequential-fold cosine: bit-stable order, DuckDB-oracle parity.

    Interpreted per element (HOFs are CodegenFallback) — use ONLY where
    hash-parity with an oracle matters (brute_force_topk,
    exact_near_dup_pairs). Bulk scoring
    goes through :func:`vectorized_cosine` (~40x faster, measured)."""
    return _dot(a, b) / (_norm(a) * _norm(b))


def vectorized_cosine(a: Column, b: Column) -> Column:
    """Arrow-vectorized cosine (pandas UDF, numpy batch matmul).

    The hot-path scorer for candidate verification: N^2-ish candidate
    volumes x interpreted fold evaluation is the bottleneck (measured
    60 s -> 1.5 s on 2M pairs). Not bit-identical to the sequential
    fold (pairwise numpy summation) — keep it off hash-compared
    oracle entries; rank flips at 1e-16 are audit noise."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _cos(sa: pd.Series, sb: pd.Series) -> pd.Series:
        import numpy as np

        # null-propagate per row like the fold form: np.stack over a
        # batch containing None crashes the whole Arrow batch otherwise
        valid = sa.notna() & sb.notna()
        out = pd.Series(pd.array([pd.NA] * len(sa), dtype="Float64"))
        if valid.any():
            try:
                mat_a = np.stack(sa[valid].values).astype(np.float64)
                mat_b = np.stack(sb[valid].values).astype(np.float64)
            except ValueError as e:
                raise ValueError(
                    "vectorized_cosine: ragged embedding arrays in "
                    f"batch (all vectors must share one dim): {e}"
                ) from None
            num = (mat_a * mat_b).sum(axis=1)
            den = np.linalg.norm(mat_a, axis=1) * np.linalg.norm(
                mat_b, axis=1
            )
            out[valid.values] = num / den
        return out

    return _cos(a, b)


def _renamed(df: DataFrame, ident: str, vec: str) -> DataFrame:
    """``df``'s (vec_id, embedding) columns, renamed (ident, vec)."""
    return df.select(
        F.col("vec_id").alias(ident), F.col("embedding").alias(vec)
    )


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    vectorized: bool = False,
) -> DataFrame:
    """(query_id, neighbor_id, cosine, rank): exact top-k per query.

    The query side is broadcast (small by contract); ties broken by
    neighbor id for determinism. Self-matches excluded.

    ``vectorized`` scores with the Arrow batch cosine instead of the
    sequential fold — use for recall audits and scale benchmarks; the
    default fold keeps bit-parity with the DuckDB oracle
    (ann_cosine_topk is hash-compared).
    """
    from pyspark.sql import Window

    cos = vectorized_cosine if vectorized else cosine_sim
    q = _renamed(queries, "query_id", "qv")
    c = _renamed(corpus, "neighbor_id", "cv")
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            cos(F.col("qv"), F.col("cv")).alias("cos_raw"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_raw"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            round6(F.col("cos_raw")).alias("cosine"),
            "rank",
        )
    )


def _plane_signs(dim: int, n_planes: int, table: int) -> list[list[float]]:
    """Driver-side ±1 sign matrix for the deterministic hyperplanes.

    Component j of plane i = +1/-1 by the parity of hex digit (j mod 32)
    of md5(f"plane-{table}-{i}-{j//32}") — fully derived from
    (table, i, j), no RNG state, identical across engines and runs.
    """
    import hashlib

    planes: list[list[float]] = []
    for i in range(n_planes):
        row: list[float] = []
        for chunk in range((dim + 31) // 32):
            h = hashlib.md5(
                f"plane-{table}-{i}-{chunk}".encode()
            ).hexdigest()
            row.extend(1.0 if int(d, 16) % 2 == 1 else -1.0 for d in h)
        planes.append(row[:dim])
    return planes


def hyperplane_signature(
    vec_col: Column, dim: int, n_planes: int = 8, table: int = 0
) -> Column:
    """Deterministic random-hyperplane LSH signature (int bucket id) —
    EXPRESSION form, kept as the executable spec for the batched
    :func:`hyperplane_signatures` the operators actually run (the same
    role word_shingles plays for the Arrow shingler); a pytest pins the
    two forms' bucket ids equal on real embeddings.

    Signature bit i = sign of the projection onto plane i. The planes
    are pure functions of (table, i, j) — see _plane_signs — and are
    embedded as array literals, so each bit costs one multiply-add fold.
    ``table`` seeds an independent hash table for OR-amplified
    multi-table LSH.
    """
    bits = []
    for i, signs in enumerate(_plane_signs(dim, n_planes, table)):
        # F.lit(list) -> ONE ArrayType literal node (not a dim-child
        # CreateArray) — keeps Catalyst analysis/codegen time flat in dim
        plane = F.lit(signs)
        proj = F.aggregate(
            F.zip_with(
                vec_col, plane, lambda v, s: v.cast("double") * s
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        bits.append(F.when(proj > 0, F.lit(2 ** i)).otherwise(F.lit(0)))
    sig = bits[0]
    for b in bits[1:]:
        sig = sig + b
    return sig.cast("int")


def hyperplane_signatures(
    vec_col: Column, dim: int, n_planes: int, n_tables: int
) -> Column:
    """All ``n_tables`` LSH signatures in ONE Arrow batch matmul
    (array<int>, one bucket id per table).

    Same ±1 planes as :func:`hyperplane_signature` (md5-derived,
    :func:`_plane_signs`), but evaluated as a single (batch x dim) @
    (dim x tables*planes) numpy product instead of tables x planes
    interpreted fold-aggregates — the folds are CodegenFallback and
    dominated the lsh_topk cold run (measured ~9 s -> ~2 s at 2k
    vectors x 8 tables). Sign(projection) can differ from the
    sequential fold only on exact-zero projections (1e-16 ties);
    both join sides use this same evaluator, so bucketing stays
    consistent.
    """
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    mats = np.array(
        [_plane_signs(dim, n_planes, t) for t in range(n_tables)]
    )  # (tables, planes, dim)
    flat = mats.reshape(-1, dim)  # (tables*planes, dim)
    weights = 2 ** np.arange(n_planes)

    @pandas_udf("array<int>")
    def _sigs(v: pd.Series) -> pd.Series:
        # null embeddings get a null signature (they drop out of the
        # bucket explode downstream) instead of crashing the batch
        valid = v.notna()
        res: list = [None] * len(v)
        if valid.any():
            try:
                vecs = np.stack(v[valid].values).astype(np.float64)
            except ValueError as e:
                raise ValueError(
                    "hyperplane_signatures: ragged embedding arrays "
                    f"in batch (expected dim={dim}): {e}"
                ) from None
            bits = (vecs @ flat.T > 0).reshape(
                int(valid.sum()), n_tables, n_planes
            )
            sigs = (bits * weights).sum(axis=2).astype(np.int32)
            # positional fill as python lists: pandas unwraps/flattens
            # ndarray cells on masked or iat assignment
            for pos, sig in zip(np.flatnonzero(valid.values), sigs):
                res[pos] = sig.tolist()
        return pd.Series(res, dtype="object")

    return _sigs(vec_col)


def lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    dim: int,
    k: int = 5,
    n_planes: int = 8,
    n_tables: int = 4,
    multiprobe: bool = False,
) -> DataFrame:
    """Approximate top-k: bucket equi-join on hyperplane signatures,
    exact cosine re-rank within buckets.

    OR-amplified multi-table LSH: a candidate qualifies by matching the
    query's bucket in ANY of ``n_tables`` independent tables (fewer
    planes per table -> wider buckets; more tables -> higher recall).
    With ``multiprobe`` the QUERY side also probes every bucket at
    Hamming distance 1 from its signature (single-plane sign flips —
    multi-probe LSH, Lv et al. VLDB 2007): per-table collision for a
    pair at angle theta rises from q^b to q^b + b*q^(b-1)*(1-q),
    q = 1 - theta/pi, at (b+1)x query-side bucket fan-out and ZERO extra
    corpus-side cost — the corpus index is untouched, which is what
    matters at 10^9 vectors.
    """
    from pyspark.sql import Window

    def with_buckets(df: DataFrame, ident: str, vec_alias: str, probe: bool) -> DataFrame:
        # one Arrow matmul for all table signatures, then probes fan out
        # as plain int ops on the materialized column (Catalyst would
        # not CSE a per-probe signature subtree)
        sigged = df.select(
            F.col("vec_id").alias(ident),
            F.col("embedding").alias(vec_alias),
            hyperplane_signatures(
                F.col("embedding"), dim, n_planes, n_tables
            ).alias("_sigs"),
        )
        per_table = []
        for t in range(n_tables):
            sig = F.element_at("_sigs", t + 1)
            base = t * (2 ** n_planes)  # disjoint bucket spaces per table
            per_table.append(sig + base)
            if probe:
                per_table.extend(
                    sig.bitwiseXOR(F.lit(1 << b)) + base
                    for b in range(n_planes)
                )
        return sigged.select(
            ident,
            vec_alias,
            F.explode(F.array(*per_table)).alias("bucket"),
        )

    q = with_buckets(queries, "query_id", "qv", multiprobe)
    c = with_buckets(corpus, "neighbor_id", "cv", False)
    # candidate rows carry IDS ONLY, deduped BEFORE scoring: a pair
    # colliding in several tables/probes would re-pay the cosine
    # (measured ~2.7x duplication), and shipping both 64-float vectors
    # per candidate through the join + distinct shuffles ~100x the bytes
    # of the id pair. Vectors are fetched after dedup: queries by
    # broadcast (small by contract), corpus by equi-join.
    cand = (
        c.select("neighbor_id", "bucket")
        .join(F.broadcast(q.select("query_id", "bucket")), "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    qv = _renamed(queries, "query_id", "qv")
    cv = _renamed(corpus, "neighbor_id", "cv")
    scored = (
        cand.join(F.broadcast(qv), "query_id")
        .join(cv, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            vectorized_cosine(F.col("qv"), F.col("cv")).alias("cos_raw"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_raw"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            round6(F.col("cos_raw")).alias("cosine"),
            "rank",
        )
    )


def seed_centroids(corpus: DataFrame, n_centroids: int) -> DataFrame:
    """(centroid_id, cvec): deterministic UNBIASED initial centroids — the
    ``n_centroids`` corpus vectors minimizing ``md5(id)``.

    Hash-ordering is the fix for the round-3 seeding-bias nit: first-N-
    by-id picks spatially clustered seeds whenever ids correlate with
    insertion order or content (they usually do in real corpora — crawl
    order, shard order), collapsing the initial cells into one region.
    ``md5`` scrambles any such correlation while staying fully
    deterministic and engine-portable; the plan is still a cheap
    TakeOrdered (no shuffle of the corpus). Ties broken by id (md5
    collisions aside, there are none)."""
    seeds = corpus.orderBy(
        F.md5(F.col("vec_id").cast("string")), F.col("vec_id")
    ).limit(n_centroids)
    return _renamed(seeds, "centroid_id", "cvec")


def ivf_topk(queries: DataFrame, corpus: DataFrame) -> DataFrame:
    """IVF-style ANN: coarse quantize -> probe nearest cells -> top
    ``IVF_K``.

    Centroids are a deterministic hash-ordered sample of
    ``IVF_N_CENTROIDS`` vectors (:func:`seed_centroids`), used as drawn:
    no Lloyd refinement. Every corpus vector is assigned to its nearest
    centroid (broadcast centroid join); each query probes its
    ``IVF_N_PROBE`` nearest cells and exact-cosine re-ranks within them.

    Scale shape: the corpus-side assignment is a broadcast join + window
    (one shuffle on cell), the query side touches ``IVF_N_PROBE /
    IVF_N_CENTROIDS`` of the corpus — the standard recall/cost dial.
    """
    from pyspark.sql import Window

    cents = seed_centroids(corpus, IVF_N_CENTROIDS)

    def assign(df: DataFrame, ident: str, vec: str, keep: int) -> DataFrame:
        scored = df.crossJoin(F.broadcast(cents)).select(
            ident,
            vec,
            "centroid_id",
            vectorized_cosine(F.col(vec), F.col("cvec")).alias("csim"),
        )
        w = Window.partitionBy(ident).orderBy(
            F.desc("csim"), F.asc("centroid_id")
        )
        return (
            scored.withColumn("crank", F.row_number().over(w))
            .filter(F.col("crank") <= keep)
            .drop("csim", "crank")
        )

    c = assign(
        _renamed(corpus, "neighbor_id", "cv"), "neighbor_id", "cv", 1
    )
    q = assign(
        _renamed(queries, "query_id", "qv"), "query_id", "qv", IVF_N_PROBE
    )
    scored = (
        c.join(q, "centroid_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        # (query, neighbor) is unique here — corpus rows live in exactly
        # one cell (keep=1) — so no pre-scoring dedup is needed
        .select(
            "query_id",
            "neighbor_id",
            vectorized_cosine(F.col("qv"), F.col("cv")).alias("cos_raw"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_raw"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= IVF_K)
        .select(
            "query_id",
            "neighbor_id",
            round6(F.col("cos_raw")).alias("cosine"),
            "rank",
        )
    )


def recall_at_k(
    approx: DataFrame,
    exact: DataFrame,
    floor: float = 0.6,
    mean_floor: float = 0.9,
) -> DataFrame:
    """(query_id, n_hit, n_exact, recall, mean_recall, passed): per-query
    recall of an ANN result against the exact ``brute_force_topk``
    ground truth.

    The self-check for rows-only ANN entries: recall is algorithm-defined
    (no SQL oracle), but a regression must not pass silently. Two dials:
    ``floor`` bounds EVERY query (kept loose — per-query recall@5 is
    quantized to 0.2 steps, so one near-tie flip moves it 20 points) and
    ``mean_floor`` bounds the MEAN across queries (tight: a systematic
    regression shifts the mean far more than tie noise does). ``passed``
    requires both; pytest asserts it on the seeded corpus.

    ``mean_recall`` is the MICRO average sum(n_hit)/sum(n_exact): with a
    fixed k it equals the macro mean exactly, and — unlike a float mean
    over per-query ratios — it is ONE integer division, so the DuckDB
    oracle reproduces it bit-identically regardless of row order (the
    driver hash-compares this column since round 4).
    """
    hits = exact.join(
        approx.select("query_id", "neighbor_id"),
        ["query_id", "neighbor_id"],
        "left_semi",
    )
    per_q = (
        exact.groupBy("query_id")
        .agg(F.count("*").alias("n_exact"))
        .join(
            hits.groupBy("query_id").agg(F.count("*").alias("n_hit")),
            "query_id",
            "left",
        )
        .fillna(0, "n_hit")
    )
    recall = F.col("n_hit") / F.col("n_exact")
    # the audit frame is a handful of rows — an unpartitioned window
    # over it is driver-trivial and keeps the entry a single DataFrame
    w_all = Window.partitionBy()
    mean_recall = F.sum("n_hit").over(w_all) / F.sum("n_exact").over(w_all)
    return per_q.select(
        "query_id",
        F.col("n_hit").cast("long").alias("n_hit"),
        F.col("n_exact").cast("long").alias("n_exact"),
        round6(recall).alias("recall"),
        round6(mean_recall).alias("mean_recall"),
        ((recall >= floor) & (mean_recall >= mean_floor)).alias(
            "passed"
        ),
    ).orderBy("query_id")


def exact_near_dup_pairs(vectors: DataFrame) -> DataFrame:
    """(vec_a, vec_b, cosine): EXACT all-pairs ground truth (cosine at
    least ``NEAR_DUP_COSINE``) for near-dup recall audits. O(N^2) —
    audit/test scale only; the production path is
    ``embedding_near_dups`` (LSH-blocked).

    Scores with the sequential fold :func:`cosine_sim`, which keeps bit
    parity with DuckDB's sequential ``list_cosine_similarity(DOUBLE[])``
    — the hash-compared ``embedding_near_dups`` gate entry needs it,
    since one threshold-boundary flip would shift ``n_true``."""
    v = _renamed(vectors, "vid", "v")
    return (
        v.alias("a")
        .join(v.alias("b"), F.col("a.vid") < F.col("b.vid"))
        .select(
            F.col("a.vid").alias("vec_a"),
            F.col("b.vid").alias("vec_b"),
            cosine_sim(F.col("a.v"), F.col("b.v")).alias("cos_raw"),
        )
        .filter(F.col("cos_raw") >= NEAR_DUP_COSINE)
        .select("vec_a", "vec_b", round6(F.col("cos_raw")).alias("cosine"))
    )


def embedding_near_dups(vectors: DataFrame, dim: int) -> DataFrame:
    """(vec_a, vec_b, cosine) pairs with cosine at least
    ``NEAR_DUP_COSINE`` — embedding-cosine near-dup detection,
    LSH-blocked then exactly verified.

    The ``NEAR_DUP_N_TABLES`` tables OR-amplify recall exactly as in
    :func:`lsh_topk`: a pair is a candidate if it collides in ANY table.
    Precision is always 1.0 (candidates verify with exact cosine);
    recall for a pair at angle theta is ``1 - (1 - (1 - theta/pi)^P)^T``
    with P = NEAR_DUP_N_PLANES planes and T = NEAR_DUP_N_TABLES tables.
    """
    vecs = _renamed(vectors, "vid", "v")
    sigged = vectors.select(
        F.col("vec_id").alias("vid"),
        hyperplane_signatures(
            F.col("embedding"), dim, NEAR_DUP_N_PLANES, NEAR_DUP_N_TABLES
        ).alias("_sigs"),
    )
    # bucket rows carry IDS ONLY: shipping the vector through the bucket
    # join duplicates it once per bucket-mate per table (~1 GB of array
    # bytes through the shuffle at just 2k vectors x 8 tables); instead
    # dedup the candidate id-pairs, then fetch each vector once per pair
    v = sigged.select(
        "vid",
        F.explode(
            F.array(
                *[
                    F.element_at("_sigs", t + 1)
                    + t * (2 ** NEAR_DUP_N_PLANES)
                    for t in range(NEAR_DUP_N_TABLES)
                ]
            )
        ).alias("bucket"),
    )
    cand = (
        v.alias("a")
        .join(v.alias("b"), "bucket")
        .filter(F.col("a.vid") < F.col("b.vid"))
        .select(
            F.col("a.vid").alias("vec_a"), F.col("b.vid").alias("vec_b")
        )
        .distinct()
    )
    pairs = (
        cand.join(vecs.withColumnsRenamed({"vid": "vec_a", "v": "va"}), "vec_a")
        .join(vecs.withColumnsRenamed({"vid": "vec_b", "v": "vb"}), "vec_b")
        .select(
            "vec_a",
            "vec_b",
            vectorized_cosine(F.col("va"), F.col("vb")).alias("cos_raw"),
        )
    )
    return pairs.filter(F.col("cos_raw") >= NEAR_DUP_COSINE).select(
        "vec_a", "vec_b", round6(F.col("cos_raw")).alias("cosine")
    )
