"""Extract pipeline vs the pure-Python oracle + the byte-identical contract."""

from __future__ import annotations

from pyspark.sql import functions as F

from studiocr_spark.functions.glyphs import page_image_to_data
from studiocr_spark.operators.extract import assemble_doc_text
from studiocr_spark.sources.decode import bitmap_decode

from . import oracle


def test_extracted_text_byte_identical(pages_df, extracted):
    """north_rule: extracted text per url == ground-truth text, 100%."""
    raw, _, _ = extracted
    joined = assemble_doc_text(raw).join(
        pages_df.select("url", "text"), "url"
    )
    n_total = joined.count()
    n_match = joined.filter(
        F.col("extracted_text").eqNullSafe(F.col("text"))
    ).count()
    assert n_total == 120
    assert n_match == n_total


def test_blocks_match_oracle(pages_df, extracted):
    """ocr_blocks rows == oracle commit_blocks per (url, page_no)."""
    _, _, ocr_blocks = extracted
    got = {}
    for r in ocr_blocks.collect():
        got.setdefault((r.url, r.page_no), []).append(
            {
                "block_no": r.block_no,
                "left": r.left,
                "top": r.top,
                "width": r.width,
                "height": r.height,
                "conf": r.conf,
                "text": r.text,
            }
        )
    for key in got:
        got[key].sort(key=lambda b: b["block_no"])

    expected = {}
    for row in pages_df.select("url", "html").collect():
        for page_no, (_, data, _t) in enumerate(bitmap_decode(bytes(row.html))):
            expected[(row.url, page_no)] = oracle.commit_blocks(data)

    assert set(got) == set(expected)
    for key, exp in expected.items():
        assert got[key] == exp, key


def test_structural_rows_kept(extracted):
    """Quirk 1: conf=-1 empty-text rows survive the whitespace filter."""
    _, _, ocr_blocks = extracted
    n_structural = ocr_blocks.filter(
        (F.col("text") == "") & (F.col("conf") == -1)
    ).count()
    assert n_structural > 0


def test_whitespace_only_dropped(spark):
    """Quirk 1 inverse: non-empty all-whitespace texts are dropped."""
    from studiocr_spark.operators.extract import non_whitespace_filter

    df = spark.createDataFrame(
        [("",), (" ",), ("\t",), ("  \t ",), ("a",), (" a ",), (" ",)],
        "text string",
    )
    kept = [
        r.text for r in df.filter(non_whitespace_filter(F.col("text"))).collect()
    ]
    # matches Python's `not t.isspace()` row for row
    assert kept == [t for t in ["", " ", "\t", "  \t ", "a", " a ", " "] if not t.isspace()]


def test_page_stats_match_oracle(pages_df, extracted):
    """page_stats struct == oracle OcrPageData transcription."""
    _, ocr_pages, _ = extracted
    got = {
        (r.url, r.page_no): r.page_stats.asDict(recursive=True)
        for r in ocr_pages.select("url", "page_no", "page_stats").collect()
    }
    sample = 0
    for row in pages_df.select("url", "html").limit(40).collect():
        for page_no, (_, data, _t) in enumerate(bitmap_decode(bytes(row.html))):
            exp = oracle.page_stats(data)
            g = got[(row.url, page_no)]
            assert g["word_counts"] == exp["word_counts"]
            assert g["unique_texts"] == exp["unique_texts"]
            assert g["char_counts"] == exp["char_counts"]
            assert sorted(g["unique_chars"]) == exp["unique_chars"]
            assert g["ascii_histogram"] == exp["ascii_histogram"]
            assert {k: list(v) for k, v in g["conf_by_text"].items()} == exp[
                "conf_by_text"
            ]
            sample += 1
    assert sample >= 40


def test_quirk_fixture_unit():
    """FIXTURES.md §2 hand-built parallel arrays through the oracle."""
    data = {
        "left": [0, 5, 9, 9, 13, 2, 7],
        "top": [0, 1, 2, 2, 3, 4, 5],
        "width": [10, 3, 3, 3, 8, 2, 4],
        "height": [5, 1, 1, 1, 1, 1, 1],
        "conf": [-1, 95, 42, 17, 95, 88, -1],
        "text": ["", "cat", "cat", "cat", "concatenate", "Cat", "   "],
    }
    blocks = oracle.commit_blocks(data)
    # whitespace-only dropped, empty kept
    assert [b["text"] for b in blocks] == ["", "cat", "cat", "cat", "concatenate", "Cat"]
    stats = oracle.page_stats(data)
    assert stats["word_counts"] == {"": 1, "cat": 3, "concatenate": 1, "Cat": 1}
    assert stats["conf_by_text"]["cat"] == [17, 42, 95]  # set -> sorted
    # char stats over RAW texts include the whitespace-only row's spaces
    assert stats["char_counts"][" "] == 3
    assert stats["ascii_histogram"][ord(" ") - 32] == 3


def test_page_stats_map_key_order_is_first_occurrence():
    """Map key order in page_stats is part of the fixture contract: the
    committed extract fixture is compared via to_json, which serializes
    maps in INSERTION order, so word_counts/char_counts/conf_by_text
    must keep Counter-style first-occurrence order. Pins the round-6
    bincount fast path (np.unique(return_index) reorder) against the
    natural-but-wrong ascending-code order."""
    from studiocr_spark.functions.pagestats import compute_page_stats

    data = {
        "left": [0, 1, 2, 3],
        "top": [0] * 4,
        "width": [1] * 4,
        "height": [1] * 4,
        "conf": [-1, 9, 7, 9],
        "text": ["", "zebra", "apple", "zebra"],
    }
    stats = compute_page_stats(data)
    # 'z' precedes 'a' in the joined raw text -> must precede it in the map
    assert list(stats["word_counts"]) == ["", "zebra", "apple"]
    assert list(stats["char_counts"])[:4] == ["z", "e", "b", "r"]
    assert list(stats["conf_by_text"]) == ["", "zebra", "apple"]
    # value lists stay sorted and dense regardless of key order
    assert stats["conf_by_text"]["zebra"] == [9]
    assert stats["unique_chars"] == sorted(stats["unique_chars"])


def test_tesseract_jpeg_q100():
    """S4 parity (OcrEngine.py:82-83): the tesseract backend stores
    JPEG q100 page images. cv2-gated — sandbox has no JPEG codec, so
    assert the documented NotImplementedError gate instead."""
    import pytest

    from studiocr_spark.functions.png import encode_png
    from studiocr_spark.sources.decode import tesseract_decode

    try:
        import cv2  # noqa: F401
        import pytesseract  # noqa: F401
        from pdf2image import convert_from_bytes  # noqa: F401
    except ImportError:
        with pytest.raises(NotImplementedError):
            tesseract_decode(b"%PDF-fake")
        return

    import numpy as np

    png = encode_png(np.full((32, 32), 200, dtype=np.uint8))
    pages = tesseract_decode(png)
    assert len(pages) == 1
    blob = pages[0][0]
    assert blob[:3] == b"\xff\xd8\xff"  # JPEG SOI marker


def test_live_decode_matches_committed_fixture(spark):
    """The 60-doc raw decode must stay byte-identical to the committed
    fixture (tests/fixtures/extract_raw_expected) — the driver's extract
    oracles hash-compare live decode output against SQL over this
    fixture, so silent decode drift would fail the gate; this test
    catches it at pytest time with a readable diff surface."""
    import os

    import __spark_entry__ as entry

    live = entry._extract_raw_live(spark)
    fixture = spark.read.parquet(entry._EXTRACT_FIXTURE)
    assert os.path.exists(entry._EXTRACT_FIXTURE)
    # struct/map columns aren't comparable via exceptAll on MapType —
    # compare the json-serialized canonical rows
    from pyspark.sql import functions as F

    def canon(df):
        return sorted(
            r.j
            for r in df.select(
                F.to_json(
                    F.struct("url", "page_no", "raw", "page_stats")
                ).alias("j")
            ).collect()
        )

    assert canon(live) == canon(fixture)


def test_bad_payloads_become_quarantine_rows(spark):
    """A null payload, a truncated PNG, random bytes and a container
    with no pages planted among good pages each become one quarantine
    row (page_no -1, non-empty error) without failing a task; every
    good url still extracts byte-identical text."""
    import random

    from studiocr_spark.gen import make_doc
    from studiocr_spark.operators.extract import extract_raw, quarantine
    from studiocr_spark.sources.decode import pack_mpdf

    good = [make_doc(i) for i in range(12)]
    png = next(d["html"] for d in good if d["html"][:4] == b"\x89PNG")
    bad = {
        "https://bad.example/null": None,
        "https://bad.example/truncated-png": png[: len(png) // 2],
        "https://bad.example/random": b"\x00" + random.Random(7).randbytes(255),
        "https://bad.example/no-pages": pack_mpdf([]),
    }
    rows = [(d["url"], d["html"]) for d in good] + list(bad.items())
    pages = spark.createDataFrame(rows, "url string, html binary")

    sc = spark.sparkContext
    raw = extract_raw(pages, backend="bitmap").cache()
    sc.setJobGroup("quarantine-test", "bad payload isolation")
    try:
        q = {r.url: r.error for r in quarantine(raw).collect()}
        marker_pages = {
            r.url: r.page_no
            for r in raw.filter(F.col("error").isNotNull()).collect()
        }
        texts = {
            r.url: r.extracted_text for r in assemble_doc_text(raw).collect()
        }
        tracker = sc.statusTracker()
        stage_ids = [
            s
            for j in tracker.getJobIdsForGroup("quarantine-test")
            for s in tracker.getJobInfo(j).stageIds
        ]
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        raw.unpersist()

    assert set(q) == set(bad)
    assert all(err for err in q.values())
    assert q["https://bad.example/no-pages"] == (
        "ValueError: payload has no pages"
    )
    assert marker_pages == {url: -1 for url in bad}
    assert stage_ids
    for s in stage_ids:
        info = tracker.getStageInfo(s)
        assert info is not None and info.numFailedTasks == 0, s
    assert texts == {d["url"]: d["text"] for d in good}


def test_lean_task_pauses_gc_for_the_generator_life():
    """The extract UDF's generator runs with the cyclic GC off, also
    while suspended between yields, and turns it back on when it is
    exhausted or closed mid-stream."""
    import gc

    from studiocr_spark.operators.extract import _lean_task

    def batches(n):
        with _lean_task():
            for _ in range(n):
                yield gc.isenabled()

    try:
        assert gc.isenabled()
        assert list(batches(3)) == [False, False, False]
        assert gc.isenabled()
        stream = batches(3)
        assert next(stream) is False
        assert not gc.isenabled()
        stream.close()
        assert gc.isenabled()
    finally:
        gc.enable()


def test_lean_task_evicts_zip_importers_and_imports_still_work(
    tmp_path, monkeypatch
):
    """A zipimporter cached for a zip on sys.path is gone after the
    context exits, and a module from that zip still imports, from the
    cached zip directory without reading it again."""
    import importlib
    import sys
    import zipfile
    import zipimport

    from studiocr_spark.operators.extract import _lean_task

    archive = tmp_path / "lean_task_probe.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("lean_task_probe_mod.py", "VALUE = 42\n")
    path = str(archive)
    monkeypatch.syspath_prepend(path)
    monkeypatch.setitem(
        sys.path_importer_cache, path, zipimport.zipimporter(path)
    )

    with _lean_task():
        pass
    assert path not in sys.path_importer_cache

    def no_reread(archive_path):
        raise AssertionError(f"zip directory re-read: {archive_path}")

    monkeypatch.setattr(zipimport, "_read_directory", no_reread)
    try:
        mod = importlib.import_module("lean_task_probe_mod")
        assert mod.VALUE == 42
        assert isinstance(mod.__loader__, zipimport.zipimporter)
    finally:
        sys.modules.pop("lean_task_probe_mod", None)
