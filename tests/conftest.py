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


def _load_job(spark, name: str):
    """``jobs/<name>.py`` loaded from its file, its ``main`` run in this
    process on the session fixture.

    The job's ``get_spark`` call reuses the session but re-applies the
    job's runtime conf, which resets ``spark.sql.shuffle.partitions``
    from the fixture's 4 to ``max(cpus, 8)``; ``main`` restores it so
    later tests keep the fixture's plans."""
    import importlib.util

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        f"{name}_test", os.path.join(repo, "jobs", f"{name}.py")
    )
    job = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(job)
    job_main = job.main

    def main(argv):
        keep = spark.conf.get("spark.sql.shuffle.partitions")
        try:
            return job_main(argv)
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", keep)

    job.main = main
    return job


@pytest.fixture(scope="session")
def extract_job(spark):
    """The ``jobs/extract_submit.py`` module (see :func:`_load_job`)."""
    return _load_job(spark, "extract_submit")


@pytest.fixture(scope="session")
def clean_job(spark):
    """The ``jobs/clean_submit.py`` module (see :func:`_load_job`)."""
    return _load_job(spark, "clean_submit")


def sf_dir(sf: str) -> str:
    return os.path.join(TESTDATA, f"sf{sf}")
