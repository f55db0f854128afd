"""Similarity search: exactness of brute force, recall of ANN variants."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from studiocr_spark.operators import similarity
from studiocr_spark.operators.similarity import (
    IVF_K,
    IVF_N_CENTROIDS,
    brute_force_topk,
    embedding_near_dups,
    ivf_topk,
    lsh_topk,
    seed_centroids,
)

from .conftest import sf_dir

N_QUERIES = 8
# every ANN check here measures at ivf_topk's fixed top-k
K = IVF_K


@pytest.fixture(scope="module")
def emb(spark):
    df = spark.read.parquet(f"{sf_dir('0.001')}/embeddings.parquet").cache()
    df.count()
    return df


@pytest.fixture(scope="module")
def truth(emb):
    """numpy ground-truth top-k per query."""
    rows = sorted(emb.collect(), key=lambda r: r.vec_id)
    ids = np.array([r.vec_id for r in rows])
    mat = np.array([r.embedding for r in rows], dtype=np.float64)
    mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    out = {}
    for qi in range(N_QUERIES):
        sims = mat @ mat[qi]
        sims[qi] = -np.inf
        order = np.argsort(-sims, kind="stable")
        out[int(ids[qi])] = [int(ids[j]) for j in order[:K]]
    return out


def test_brute_force_exact(emb, truth):
    got = {}
    res = brute_force_topk(emb.filter(F.col("vec_id") < N_QUERIES), emb, k=K)
    for r in res.collect():
        got.setdefault(r.query_id, []).append((r.rank, r.neighbor_id))
    for q, pairs in got.items():
        ordered = [n for _, n in sorted(pairs)]
        assert ordered == truth[q], q


@pytest.mark.parametrize(
    "fn,kwargs,min_recall",
    [
        (lsh_topk, {"dim": 64, "k": K, "n_planes": 5, "n_tables": 8}, 0.3),
        # ivf_topk's dials are the IVF_* module constants
        (ivf_topk, {}, 0.2),
    ],
)
def test_ann_recall(emb, truth, fn, kwargs, min_recall):
    res = fn(emb.filter(F.col("vec_id") < N_QUERIES), emb, **kwargs)
    got: dict[int, set] = {}
    for r in res.collect():
        got.setdefault(r.query_id, set()).add(r.neighbor_id)
    hits = total = 0
    for q, true_k in truth.items():
        hits += len(got.get(q, set()) & set(true_k))
        total += K
    recall = hits / total
    assert recall >= min_recall, f"recall {recall:.2f}"
    # every returned neighbor must be a real corpus vector, never self
    for q, ns in got.items():
        assert q not in ns


def test_recall_audit_floors(emb):
    """The driver-gate ANN entries are self-checking recall audits; with
    the entry parameters every per-query row must meet the 0.6 floor AND
    the mean across queries must meet 0.9 — a systematic recall
    regression can no longer pass the rows-only gate."""
    from studiocr_spark.operators.similarity import (
        exact_near_dup_pairs,
        recall_at_k,
    )

    q = emb.filter(F.col("vec_id") < N_QUERIES)
    exact = brute_force_topk(q, emb, k=K)
    lsh = recall_at_k(
        lsh_topk(
            q, emb, dim=64, k=K, n_planes=4, n_tables=8, multiprobe=True
        ),
        exact,
    ).collect()
    assert all(r.passed for r in lsh), lsh
    # IVF floors match the gate entry (0.2/0.6): on this isotropic
    # corpus recall tops out near the probe fraction with unbiased
    # seeding — see the ann_ivf_topk entry docstring
    ivf = recall_at_k(
        ivf_topk(q, emb),
        exact,
        floor=0.2,
        mean_floor=0.6,
    ).collect()
    assert all(r.passed for r in ivf), ivf

    found = embedding_near_dups(emb, dim=64)
    truth = exact_near_dup_pairs(emb)
    n_true = truth.count()
    n_hit = found.join(
        truth.select("vec_a", "vec_b"), ["vec_a", "vec_b"], "left_semi"
    ).count()
    assert n_true > 0
    assert n_hit / n_true >= 0.9, (n_hit, n_true)


def test_null_embeddings_propagate_not_crash(spark):
    """A NULL embedding must yield a null cosine / null signature per
    row — not crash the whole Arrow batch inside np.stack."""
    from studiocr_spark.operators.similarity import (
        hyperplane_signatures,
        vectorized_cosine,
    )

    df = spark.createDataFrame(
        [(0, [1.0, 0.0], [1.0, 0.0]),
         (1, None, [1.0, 0.0]),
         (2, [0.0, 1.0], None)],
        "vec_id long, a array<double>, b array<double>",
    )
    rows = df.select(
        "vec_id", vectorized_cosine(F.col("a"), F.col("b")).alias("cos")
    ).orderBy("vec_id").collect()
    assert rows[0].cos == pytest.approx(1.0)
    assert rows[1].cos is None and rows[2].cos is None

    sigs = df.select(
        "vec_id",
        hyperplane_signatures(F.col("a"), 2, 4, 2).alias("sigs"),
    ).orderBy("vec_id").collect()
    assert sigs[0].sigs is not None and len(sigs[0].sigs) == 2
    assert sigs[1].sigs is None
    assert sigs[2].sigs is not None


def test_signature_forms_agree(emb):
    """The batched matmul signatures (production path) must produce the
    SAME bucket ids as the expression form that serves as their spec."""
    from studiocr_spark.operators.similarity import (
        hyperplane_signature,
        hyperplane_signatures,
    )

    n_planes, n_tables = 4, 3
    batched = emb.select(
        "vec_id",
        hyperplane_signatures(
            F.col("embedding"), 64, n_planes, n_tables
        ).alias("sigs"),
    )
    expr = emb.select(
        "vec_id",
        F.array(
            *[
                hyperplane_signature(
                    F.col("embedding"), 64, n_planes, table=t
                )
                for t in range(n_tables)
            ]
        ).alias("sigs"),
    )
    assert batched.exceptAll(expr).count() == 0
    assert expr.exceptAll(batched).count() == 0


def test_embedding_near_dups_are_true_pairs(emb):
    from studiocr_spark.operators.similarity import NEAR_DUP_COSINE

    pairs = embedding_near_dups(emb, dim=64)
    rows = pairs.collect()
    assert rows, f"expected some near-dup pairs at cosine {NEAR_DUP_COSINE}"
    vecs = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in emb.collect()}
    for r in rows:
        a, b = vecs[r.vec_a], vecs[r.vec_b]
        cos = float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
        assert cos >= NEAR_DUP_COSINE - 1e-9
        assert abs(cos - r.cosine) < 1e-4
        assert r.vec_a < r.vec_b


def test_ivf_seeding_unbiased_on_id_correlated_corpus(spark, monkeypatch):
    """Round-4 fix for the seeding-bias nit: ids assigned contiguously
    per content cluster (crawl/shard order — the common real-corpus
    case) must not degrade IVF recall vs the same vectors under
    permuted ids. First-N-by-id seeding put all 16 seeds in cluster 0
    here; hash-ordered seeding spreads them over all four clusters.
    Queries probe one cell, so recall rests on where the cells sit:
    probing 4 or 8 of the 16 cells reaches the true neighbors even from
    first-N-by-id seeds (correlated recall 0.95 and 1.0)."""
    monkeypatch.setattr(similarity, "IVF_N_PROBE", 1)
    rng = np.random.RandomState(7)
    dim, per, ncl = 8, 60, 4
    centers = rng.randn(ncl, dim) * 5.0
    vecs = np.concatenate(
        [centers[c] + rng.randn(per, dim) for c in range(ncl)]
    )
    n = ncl * per
    q_pos = list(range(0, n, per)) + [5, 65, 125, 185]

    unit = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)

    def frame(ids):
        rows = [
            (int(ids[i]), [float(x) for x in vecs[i]]) for i in range(n)
        ]
        return spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        )

    def layout_recall(ids):
        df = frame(ids)
        qids = [int(ids[p]) for p in q_pos]
        res = ivf_topk(df.filter(F.col("vec_id").isin(qids)), df)
        got: dict[int, set] = {}
        for r in res.collect():
            got.setdefault(r.query_id, set()).add(r.neighbor_id)
        hits = total = 0
        for p in q_pos:
            sims = unit @ unit[p]
            sims[p] = -np.inf
            true_pos = np.argsort(-sims, kind="stable")[:K]
            true_ids = {int(ids[j]) for j in true_pos}
            hits += len(got.get(int(ids[p]), set()) & true_ids)
            total += K
        return hits / total

    seeds = seed_centroids(frame(np.arange(n)), IVF_N_CENTROIDS).collect()
    assert {r.centroid_id // per for r in seeds} == set(range(ncl))
    correlated = layout_recall(np.arange(n))
    permuted = layout_recall(np.random.RandomState(11).permutation(n))
    assert correlated >= 0.5, correlated
    assert correlated >= permuted - 0.1, (correlated, permuted)
