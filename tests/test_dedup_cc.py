"""Connected-components clustering over near-dup pairs."""

import pytest


def test_connected_components(spark):
    from studiocr_spark.operators.dedup import connected_components

    # two components: a chain 1-2-3-4 and a pair 10-11
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "doc_a long, doc_b long"
    )
    got = {
        r.doc_id: r.cluster_id for r in connected_components(pairs).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_long_chain_converges_within_budget(spark, monkeypatch):
    """A 60-hop chain exceeds a 20-round plain-propagation budget; the
    pointer-jumping shortcut must converge it in O(log diameter) rounds
    — round-2 behavior was a silently WRONG (unconverged) labeling."""
    from studiocr_spark.operators import dedup
    from studiocr_spark.operators.dedup import connected_components

    monkeypatch.setattr(dedup, "CC_MAX_ITER", 10)
    n = 60
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "doc_a long, doc_b long"
    )
    got = {
        r.doc_id: r.cluster_id
        for r in connected_components(pairs).collect()
    }
    assert got == {i: 0 for i in range(n + 1)}


def test_nonconvergence_raises_not_mislabels(spark, monkeypatch):
    from studiocr_spark.operators import dedup
    from studiocr_spark.operators.dedup import connected_components

    monkeypatch.setattr(dedup, "CC_MAX_ITER", 1)
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "doc_a long, doc_b long"
    )
    with pytest.raises(RuntimeError, match="CC_MAX_ITER=1 rounds"):
        connected_components(pairs).collect()


def test_cc_result_schema_and_internal_flag_not_leaked(spark, monkeypatch):
    """Round-6: the convergence check rides an `old_label` column on the
    checkpointed label frame instead of a per-round join — that column
    must never leak into the operator's output, and convergence must
    still be detected by the first no-change round: this star graph
    stops changing after round 2, so round 3 must read 'no change' from
    the carried column (it would raise at CC_MAX_ITER=3 otherwise)."""
    from studiocr_spark.operators import dedup
    from studiocr_spark.operators.dedup import connected_components

    monkeypatch.setattr(dedup, "CC_MAX_ITER", 3)
    pairs = spark.createDataFrame(
        [(5, 1), (5, 2), (5, 3)], "doc_a long, doc_b long"
    )
    out = connected_components(pairs)
    assert out.columns == ["doc_id", "cluster_id"]
    got = {r.doc_id: r.cluster_id for r in out.collect()}
    assert got == {1: 1, 2: 1, 3: 1, 5: 1}


def test_keep_best_in_clusters_argmax_policy(spark):
    """Clusters keep their highest-score member (ties -> min id);
    singletons always keep themselves."""
    from studiocr_spark.operators.dedup import keep_best_in_clusters

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "doc_a long, doc_b long"
    )
    scored = spark.createDataFrame(
        [(1, 0.4), (2, 0.9), (3, 0.6), (10, 0.5), (11, 0.5), (99, 0.1)],
        "doc_id long, quality double",
    )
    got = {r.doc_id: r for r in keep_best_in_clusters(scored, pairs).collect()}
    # cluster {1,2,3}: argmax quality = 2
    assert [got[i].keep for i in (1, 2, 3)] == [False, True, False]
    assert {got[i].cluster_id for i in (1, 2, 3)} == {1}
    # tie at 0.5 -> min id wins
    assert (got[10].keep, got[11].keep) == (True, False)
    # singleton (no pair) keeps itself, cluster_id = own id
    assert got[99].keep and got[99].cluster_id == 99
