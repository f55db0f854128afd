"""Plan-quality pins: pushdown, pruning, broadcasts, shuffle counts.

These encode the 100 TB design intent: if a filter stops reaching the
parquet scan or a dim join loses its broadcast, these fail before the
cluster bill does.
"""

from __future__ import annotations

import re

import __spark_entry__ as entry
from pyspark.sql import functions as F

from studiocr_spark.plans.explain import (
    formatted_plan,
    has_broadcast_join,
    pushed_filters,
    read_schemas,
    shuffle_exchanges,
)

from .conftest import sf_dir

SF = sf_dir("0.001")


def test_q1_filter_pushed_and_columns_pruned(spark):
    df = entry.q1_pricing_summary(spark, SF)
    pushed = pushed_filters(df)
    assert any("l_shipdate" in p for p in pushed), pushed
    # the scan must not read all 11 lineitem columns for a 7-column agg
    schemas = read_schemas(df)
    assert schemas and all("l_orderkey" not in s for s in schemas), schemas


def test_q3_broadcasts_customer_dim(spark):
    df = entry.q3_shipping_priority(spark, SF)
    assert has_broadcast_join(df)
    pushed = pushed_filters(df)
    assert any("c_mktsegment" in p for p in pushed), pushed
    assert any("o_orderdate" in p for p in pushed), pushed


def test_q5_broadcasts_small_dims(spark):
    df = entry.q5_supplier_volume(spark, SF)
    assert has_broadcast_join(df)


def test_point_lookup_pushes_url_filter(spark, pages_df, tmp_path):
    """F4: doc lookup by key is partition-prunable at the scan."""
    p = str(tmp_path / "pages")
    pages_df.write.mode("overwrite").parquet(p)
    df = spark.read.parquet(p).filter(
        F.col("url") == "https://host0.example/p10"
    )
    pushed = pushed_filters(df)
    assert any("url" in x and "IsNotNull" not in x.replace("IsNotNull(url)", "")
               or "EqualTo(url" in x for x in pushed), pushed


def test_extract_pipeline_is_shuffle_free(spark, pages_df):
    """decode -> blocks -> page stats: zero shuffle exchanges."""
    from studiocr_spark.operators.extract import blocks_from_raw, extract_raw

    raw = extract_raw(pages_df, backend="bitmap")
    ok = raw.filter(F.col("error").isNull())
    blocks = blocks_from_raw(ok)
    assert shuffle_exchanges(blocks) == [], formatted_plan(blocks)
    stats = ok.select("url", "page_no", "page_stats")
    assert shuffle_exchanges(stats) == []


def test_in_doc_search_broadcasts_words(spark, extracted):
    from studiocr_spark.operators.search import in_doc_search

    _, _, ocr_blocks = extracted
    url = ocr_blocks.select("url").first().url
    df = in_doc_search(ocr_blocks, url, "cat dog")
    # a contains-theta join plans as BroadcastNestedLoopJoin with the tiny
    # words side broadcast — the design intent; a non-broadcast NLJ or a
    # CartesianProduct here would be the regression
    plan = formatted_plan(df)
    assert "BroadcastNestedLoopJoin" in plan and "CartesianProduct" not in plan


def test_assemble_doc_text_single_shuffle(spark, extracted):
    from studiocr_spark.operators.extract import assemble_doc_text

    raw, _, _ = extracted
    df = assemble_doc_text(raw)
    # exactly one exchange: the groupBy(url); partial agg applies map-side
    assert len(shuffle_exchanges(df)) == 1, formatted_plan(df)


def test_exact_dedup_single_shuffle_per_agg(spark):
    df = entry.dedup_exact(spark, SF)
    # groupBy(text) + join back: AQE may plan 2 exchanges pre-runtime but
    # the join must not be a cartesian
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan


def test_minhash_lsh_no_cartesian(spark):
    df = entry.dedup_minhash_lsh(spark, SF)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    # the band self-join is an equi-join (hash-partitioned), never NLJ
    assert "BroadcastNestedLoopJoin" not in plan


def test_ann_brute_force_broadcasts_queries(spark):
    df = entry.ann_cosine_topk(spark, SF)
    plan = formatted_plan(df)
    # the small query side must be broadcast into the corpus scan side
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_indexed_search_broadcasts_dictionary(spark):
    df = entry.j3_indexed_search(spark, SF)
    assert has_broadcast_join(df)


def test_lsh_topk_broadcasts_query_buckets(spark):
    """ANN LSH: candidate join broadcasts the tiny query-bucket side;
    corpus vectors rejoin by equi-join; never a cartesian."""
    df = entry.ann_lsh_topk(spark, SF)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan, plan


def test_ngram_jaccard_broadcasts_hot_set_only(spark):
    """The skew guard must broadcast the HOT shingle set (tiny by
    construction) as a left-anti build side — broadcasting the rare set
    (~all distinct shingles) was the round-1 scale hazard. Checkpointing
    is disabled so the candidate subplan stays visible to the pin (the
    entry runs with it on; same logical shape)."""
    from studiocr_spark.operators.dedup import ngram_jaccard_pairs

    docs = entry._t(spark, SF, "documents")
    df = ngram_jaccard_pairs(docs, checkpoint_candidates=False)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "LeftAnti" in plan and "BuildRight" in plan, plan


def test_simhash_pairs_single_band_join(spark):
    """Pigeonhole banding: ONE equi-join on (band, val) — exploded
    bands, not one join per band — and no cartesian."""
    df = entry.dedup_simhash_pairs(spark, SF)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin") <= 1, plan


def test_bm25_is_lazy_and_broadcasts_stats(spark, extracted):
    """Building the BM25 plan must trigger NO job (stats are a 1-row
    broadcast cross-join, not a driver collect)."""
    from studiocr_spark.operators.index import build_postings
    from studiocr_spark.operators.search import bm25_search

    _, _, ocr_blocks = extracted
    postings = build_postings(ocr_blocks)
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup() or [])
    df = bm25_search(postings, "cat dog")  # plan construction only
    after = len(tracker.getJobIdsForGroup() or [])
    assert after == before, "bm25_search plan-build submitted a Spark job"
    plan = formatted_plan(df)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_bm25_never_hints_doc_length_broadcast(spark, extracted):
    """doc_len is a per-url aggregate of the FULL postings corpus — at
    10^9 docs a broadcast HINT on it is a driver OOM regardless of the
    cost model. Only per-term stats joins may carry a broadcast hint;
    the url-keyed dl join must be left to the planner (cost-based
    broadcast at toy scale is fine — a forced hint is the hazard)."""
    from studiocr_spark.operators.index import build_postings
    from studiocr_spark.operators.search import bm25_search

    _, _, ocr_blocks = extracted
    postings = build_postings(ocr_blocks)
    df = bm25_search(postings, "cat dog")
    optimized = df._jdf.queryExecution().optimizedPlan().toString()
    url_joins = [
        line
        for line in optimized.splitlines()
        if re.search(r"Join .*\(url#\d+ = url#\d+\)", line)
    ]
    assert url_joins, optimized
    assert all("broadcast" not in line for line in url_joins), url_joins
    # term-keyed stats joins keep their hints
    assert "strategy=broadcast" in optimized
    # on bare postings the query terms filter BELOW the in-plan tf
    # aggregate, so it aggregates only the query's terms
    lines = optimized.splitlines()
    tf_agg = next(
        i for i, line in enumerate(lines)
        if re.search(r"Aggregate \[(term#\d+, url|url#\d+, term)#\d+\]", line)
    )
    term_filters = [
        i for i, line in enumerate(lines)
        if re.search(r" IN \((cat|dog),(cat|dog)\)", line)
    ]
    assert term_filters and min(term_filters) > tf_agg, optimized


def test_bm25_materialized_plan_is_narrow(spark, extracted, tmp_path):
    """Round-5 (verdict task 6): served from the index-build-time
    (term, url, tf) + (url, dl) tables, the BM25 query plan drops from
    8 exchanges to <=4, the query terms push into the parquet scan as
    an IN filter, and the url-keyed dl join still carries no broadcast
    hint (corpus-sized side)."""
    from studiocr_spark.operators.index import (
        build_postings,
        read_doc_lens,
        read_term_stats,
        write_postings_segment,
    )
    from studiocr_spark.operators.search import bm25_search

    _, _, ocr_blocks = extracted
    root = str(tmp_path / "bm25_store")
    write_postings_segment(build_postings(ocr_blocks), root, term_buckets=2)
    df = bm25_search(
        None, "cat dog",
        term_stats=read_term_stats(spark, root),
        doc_lens=read_doc_lens(spark, root),
    )
    assert len(shuffle_exchanges(df)) <= 4
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    from studiocr_spark.plans.explain import pushed_filters

    assert any("In(term" in p for p in pushed_filters(df)), plan
    optimized = df._jdf.queryExecution().optimizedPlan().toString()
    url_joins = [
        line
        for line in optimized.splitlines()
        if re.search(r"Join .*\(url#\d+ = url#\d+\)", line)
    ]
    assert url_joins, optimized
    assert all("broadcast" not in line for line in url_joins), url_joins
    # the store's aux tables rank like tables derived in-plan
    adhoc = bm25_search(build_postings(ocr_blocks), "cat dog")
    assert sorted(map(tuple, df.collect())) == sorted(
        map(tuple, adhoc.collect())
    )


def test_clean_corpus_single_exchange(spark):
    """The composed cleaning pipeline attaches lang/quality as pure
    projections and dedups via a digest-keyed window: exactly ONE
    shuffle exchange in the whole plan (round 2 had 3+ from self-joins
    of narrow projections back onto the same relation)."""
    df = entry.clean_corpus(spark, SF)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert len(shuffle_exchanges(df)) == 1, plan


def test_range_join_entry_is_equijoin(spark):
    df = entry.range_join_events(spark, SF)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_round4_entry_shuffle_budgets(spark):
    """Plan-shape budgets for the round-4 curation entries: each one's
    exchange count is pinned at the number its scale story promises —
    a regression that adds a shuffle (a lost narrow projection, an
    accidental repartition) fails here before it costs anything at
    100 TB."""
    from studiocr_spark.plans.explain import (
        formatted_plan,
        shuffle_exchanges,
    )

    budgets = {
        # narrow projections: zero shuffles
        "gopher_quality": 0,
        "rebalance_mixture": 0,   # count dim collected; corpus side narrow
        # one shuffle: per-group window / digest grouping
        "sample_top_n_per_source": 1,
        # exactly the two-phase salted aggregate
        "domain_stats": 2,
        # line freq agg + rebuild agg + totals join
        "line_dedup": 3,
    }
    for name, budget in budgets.items():
        df = entry.queries()[name](spark, SF)
        got = len(shuffle_exchanges(df))
        assert got <= budget, (name, got, budget, formatted_plan(df))
    url = entry.queries()["url_canonical_dedup"](spark, SF)
    plan = formatted_plan(url)
    assert "CartesianProduct" not in plan
    assert len(shuffle_exchanges(url)) <= 2, plan
