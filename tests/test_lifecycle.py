"""Lifecycle DML (D1-D4, J6, W2) vs reference semantics."""

from __future__ import annotations

import pytest

from studiocr_spark.operators.lifecycle import (
    dedup_manifest,
    delete_document,
    rename_document,
    renumber_pages,
    resolve_unique_names,
)
from studiocr_spark.sources.catalog import ParquetCatalog


def reference_suffix_loop(existing: set[str], names: list[str]) -> list[str]:
    """Transcription of OcrEngine.py:112-118, applied serially."""
    taken = set(existing)
    out = []
    for name in names:
        new_name, n = name, 0
        while new_name in taken:
            n += 1
            new_name = name + str(n)
        taken.add(new_name)
        out.append(new_name)
    return out


@pytest.mark.parametrize(
    "existing,names",
    [
        (set(), ["a", "a", "a"]),
        ({"a"}, ["a", "a"]),
        ({"a", "a1", "a3"}, ["a", "a", "a"]),
        ({"doc", "doc1", "doc2"}, ["doc", "other", "doc2"]),
        ({"x9"}, ["x", "x9"]),
        ({"b10"}, ["b1", "b"]),
    ],
)
def test_unique_names_match_reference(spark, existing, names):
    candidates = spark.createDataFrame(
        [(f"u{i}", n, i) for i, n in enumerate(names)],
        "url string, name string, submit_idx int",
    )
    ex = (
        spark.createDataFrame([(n,) for n in existing], "name string")
        if existing
        else None
    )
    got = {
        r.url: r.name
        for r in resolve_unique_names(candidates, ex).collect()
    }
    expected = reference_suffix_loop(existing, names)
    assert [got[f"u{i}"] for i in range(len(names))] == expected


def test_renumber_pages_with_offset(spark):
    """W2: dense renumber + offset from existing page count (OcrEngine.py:127-128)."""
    new = spark.createDataFrame(
        [("u1", 10), ("u1", 3), ("u1", 7), ("u2", 5)],
        "url string, page_idx int",
    )
    existing = spark.createDataFrame(
        [("u1", 0), ("u1", 1)], "url string, page_no int"
    )
    got = {
        (r.url, r.page_no)
        for r in renumber_pages(new, existing).collect()
    }
    # u1 has 2 existing pages -> new pages numbered 2,3,4 in page_idx order
    assert got == {("u1", 2), ("u1", 3), ("u1", 4), ("u2", 0)}


def test_delete_document_cascade(spark, tmp_path):
    cat = ParquetCatalog(spark, str(tmp_path))
    cat.overwrite(
        spark.createDataFrame([("u1", "d1", 1), ("u2", "d2", 1)],
                              "url string, name string, n_pages int"),
        "documents",
    )
    cat.overwrite(
        spark.createDataFrame([("u1", 0), ("u2", 0)], "url string, page_no int"),
        "ocr_pages",
    )
    cat.overwrite(
        spark.createDataFrame(
            [("u1", 0, 0), ("u1", 0, 1), ("u2", 0, 0)],
            "url string, page_no int, block_no int",
        ),
        "ocr_blocks",
    )
    deleted = delete_document(cat, "u1")
    assert deleted == {"ocr_blocks": 2, "ocr_pages": 1, "documents": 1}
    assert {r.url for r in cat.read("documents").collect()} == {"u2"}
    assert {r.url for r in cat.read("ocr_blocks").collect()} == {"u2"}
    # vacuum keeps only the newest version per table
    assert cat.vacuum("documents") == 0  # already vacuumed by delete


def test_rename_document(spark, tmp_path):
    cat = ParquetCatalog(spark, str(tmp_path))
    cat.overwrite(
        spark.createDataFrame([("u1", "d1", 1), ("u2", "d2", 1)],
                              "url string, name string, n_pages int"),
        "documents",
    )
    assert rename_document(cat, "u1", "d2") is False  # F5 clash
    assert rename_document(cat, "u1", "fresh") is True
    names = {r.url: r.name for r in cat.read("documents").collect()}
    assert names == {"u1": "fresh", "u2": "d2"}
    assert rename_document(cat, "u1", "fresh") is True  # own name: allowed


def test_dedup_manifest(spark):
    df = spark.createDataFrame(
        [("u1", 1), ("u1", 2), ("u2", 3)], "url string, x int"
    )
    assert dedup_manifest(df).count() == 2


def test_catalog_append_and_versions(spark, tmp_path):
    cat = ParquetCatalog(spark, str(tmp_path))
    cat.overwrite(spark.range(3).toDF("id"), "t")
    cat.append(spark.range(3, 5).toDF("id"), "t")
    assert cat.read("t").count() == 5
    # two versions exist until vacuum
    assert cat.vacuum("t") == 1
    assert cat.read("t").count() == 5


def test_catalog_upsert_merge_semantics(spark, tmp_path):
    """Round-4 MERGE INTO equivalent: matched keys replaced, new keys
    inserted, one snapshot commit (old version still readable until
    vacuum)."""
    from studiocr_spark.sources.catalog import ParquetCatalog

    cat = ParquetCatalog(spark, str(tmp_path / "cat"))
    base = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)],
        "id long, name string, v long",
    )
    cat.overwrite(base, "t")
    inc = spark.createDataFrame(
        [(2, "b2", 200), (4, "d", 40)], "id long, name string, v long"
    )
    counts = cat.upsert(inc, "t", ["id"])
    assert counts == {"updated": 1, "inserted": 1}
    got = {r.id: (r.name, r.v) for r in cat.read("t").collect()}
    assert got == {1: ("a", 10), 2: ("b2", 200), 3: ("c", 30), 4: ("d", 40)}
    # first-write path
    counts2 = cat.upsert(inc, "t2", ["id"])
    assert counts2 == {"updated": 0, "inserted": 2}
    # the statement the production path would submit
    from studiocr_spark.sources.catalog import IcebergCatalog

    sql = IcebergCatalog.merge_sql(
        type("C", (), {"catalog": "cat"})(), "ocr_pages", "updates",
        ["url", "page_no"],
    )
    assert "MERGE INTO cat.ocr.ocr_pages t" in sql
    assert "t.url = s.url AND t.page_no = s.page_no" in sql
    assert "WHEN MATCHED THEN UPDATE SET *" in sql
