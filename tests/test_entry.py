"""Driver-contract smoke: entry() runs, queries/oracles are consistent."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod  # noqa: E402

from .conftest import sf_dir


def test_entry_returns_rows(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) == 80
    assert set(df.columns) == {
        "url", "n_blocks", "n_words", "conf_sum", "hit", "byte_identical"
    }
    assert any(r.hit for r in rows)
    assert all(r.byte_identical for r in rows)


def test_query_and_oracle_keys_align():
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    assert set(oracles) <= set(qs)
    # every callable is actually callable
    assert all(callable(f) for f in qs.values())
    # round-4: the last rows-only entries (the ANN recall audits) were
    # oracle-ified via the dump technique — EVERY entry now has a
    # DuckDB oracle
    assert set(qs) == set(oracles)


@pytest.mark.parametrize(
    "name", ["q1_pricing_summary", "j3_keyword_search", "dedup_minhash_lsh",
             "ann_cosine_topk", "quality_scores", "domain_stats",
             "bm25_ranked_search", "j3_indexed_search"]
)
def test_query_matches_oracle_sample(spark, name):
    """Spot-check the oracle gate in-suite (full sweep: tools/check_oracle.py).

    The DuckDB oracle is BM25's independent reference. The bm25 case
    starts from a stale store stamp, so the call must rebuild the store
    as a segment store."""
    import duckdb

    d = sf_dir("0.001")
    store = os.path.join(entry_mod._BM25_INDEX, os.path.basename(d))
    if name == "bm25_ranked_search":
        os.makedirs(store, exist_ok=True)
        with open(os.path.join(store, "_FPR"), "w") as f:
            f.write("v2 stale\n")
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        p = os.path.join(d, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    sdf = entry_mod.queries()[name](spark, d)
    duck_pdf = con.execute(entry_mod.oracle_sql()[name]).df()
    from tools.check_oracle import canon

    assert canon(sdf.toPandas()) == canon(duck_pdf)
    if name == "bm25_ranked_search":
        assert os.path.exists(os.path.join(store, "SEGMENTS"))
