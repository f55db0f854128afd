"""Benchmark decontamination: planted-overlap semantics + scale plan."""

from __future__ import annotations

from pyspark.sql import functions as F

from studiocr_spark.operators.decontam import (
    contamination_pairs,
    decontaminate,
)


def _frames(spark):
    train = spark.createDataFrame(
        [
            # shares the full benchmark sentence -> many 3-grams
            (100, "the quick brown fox jumps over the lazy dog today"),
            # shares exactly one 3-gram ("quick brown fox") -> below floor
            (101, "a quick brown fox appeared in my garden yesterday"),
            # no overlap at all
            (102, "completely unrelated text about spark partitions"),
            # repeats one benchmark phrase many times -> still ONE
            # distinct shared 3-gram (distinct-shingle semantics)
            (103, "lazy dog today lazy dog today lazy dog today"),
        ],
        "doc_id long, text string",
    )
    ev = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog today")],
        "eval_id long, text string",
    )
    return train, ev


def test_contamination_pairs_distinct_ngram_semantics(spark):
    train, ev = _frames(spark)
    got = {
        r.doc_id: r.shared_ngrams
        for r in contamination_pairs(train, ev).collect()
    }
    # doc 100: 8 shared 3-grams; 101: 1 (< floor); 103: "lazy dog today"
    # once despite 3 repetitions (distinct) -> < floor
    assert got == {100: 8}

    kept = decontaminate(train, ev)
    assert sorted(r.doc_id for r in kept.collect()) == [101, 102, 103]
    assert kept.columns == train.columns


def test_eval_side_broadcasts_corpus_stays_narrow(spark):
    """The benchmark side must ride a BroadcastHashJoin on shingle; the
    only shuffle in the plan is the final per-(doc, eval) count agg —
    corpus shingles never exchange before the join."""
    from studiocr_spark.plans.explain import (
        formatted_plan,
        shuffle_exchanges,
    )

    train, ev = _frames(spark)
    df = contamination_pairs(train, ev)
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan, plan
    assert len(shuffle_exchanges(df)) == 1, plan


def test_large_eval_side_falls_back_to_shuffle_join(spark, monkeypatch):
    """Round-4 guard: past MAX_BROADCAST_EVAL_DOCS the eval side takes a
    plain shuffle join (no broadcast hint in the optimized plan) and the
    results are identical to the broadcast path."""
    from studiocr_spark.operators import decontam

    monkeypatch.setattr(decontam, "MAX_BROADCAST_EVAL_DOCS", 0)
    train, ev = _frames(spark)
    df = contamination_pairs(train, ev)
    # the hint must be ABSENT from the optimized logical plan (Catalyst
    # may still cost-pick a broadcast at this toy scale — that's fine)
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    assert "strategy=broadcast" not in opt, opt
    got = {r.doc_id: r.shared_ngrams for r in df.collect()}
    assert got == {100: 8}


def test_contamination_pairs_custom_id_cols(spark):
    """Round-4 ADVICE fix: the pairs key on (doc_id, eval_id) whatever
    other columns either side carries (shingle_table once hard-coded
    doc_id, and the eval side's id must not collide with it)."""
    train, ev = _frames(spark)
    got = {
        (r.doc_id, r.eval_id): r.shared_ngrams
        for r in contamination_pairs(
            train.withColumn("url", F.concat(F.lit("u"), "doc_id")),
            ev.withColumn("bench_id", F.col("eval_id") + 7),
        ).collect()
    }
    assert got == {(100, 1): 8}
