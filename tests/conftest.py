"""Shared pytest fixtures: one SparkSession per test run, small corpora."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from studiocr_spark.session import get_spark  # noqa: E402

TESTDATA = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="studiocr_spark-tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={"spark.driver.memory": "4g"},
    )
    yield s


@pytest.fixture(scope="session")
def pages_df(spark):
    """Deterministic 120-doc synthetic corpus (cached)."""
    from studiocr_spark.gen import generate_pages

    df = generate_pages(spark, 120, partitions=4).cache()
    df.count()
    return df


@pytest.fixture(scope="session")
def extracted(spark, pages_df):
    """(raw_df, ocr_pages, ocr_blocks) for the 120-doc corpus, cached."""
    from studiocr_spark.operators.extract import (
        blocks_from_raw,
        extract_raw,
    )

    raw = extract_raw(pages_df, backend="bitmap").cache()
    raw.count()
    ocr_pages = raw.select(
        "url", "page_no", "image", "page_text", "page_stats"
    )
    ocr_blocks = blocks_from_raw(raw).cache()
    ocr_blocks.count()
    return raw, ocr_pages, ocr_blocks


@pytest.fixture(scope="session")
def extract_job():
    """The ``jobs/extract_submit.py`` module, loaded from its file."""
    import importlib.util

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "extract_submit_test", os.path.join(repo, "jobs", "extract_submit.py")
    )
    job = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(job)
    return job


def sf_dir(sf: str) -> str:
    return os.path.join(TESTDATA, f"sf{sf}")
