"""S9: Iceberg catalog — jar-gated integration smoke test.

The sandbox ships no Iceberg runtime, so the full test SKIPS here and
runs automatically in any environment that provides the jars (detected
on disk). What ALWAYS runs is the availability-detection contract: the
round-2 probe used ``spark._jvm.org.apache.iceberg.Table``, which py4j
resolves to a truthy JavaPackage even with nothing on the classpath —
IcebergCatalog's loud-failure guard silently never fired.
"""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _find_iceberg_jar() -> str | None:
    import pyspark

    patterns = [
        os.path.join(
            os.path.dirname(pyspark.__file__),
            "jars",
            "iceberg-spark-runtime*.jar",
        ),
        os.path.join(
            os.environ.get("SPARK_HOME", "/opt/spark"),
            "jars",
            "iceberg-spark-runtime*.jar",
        ),
        os.path.expanduser("~/.ivy2/jars/*iceberg-spark-runtime*.jar"),
    ]
    for pat in patterns:
        hits = sorted(glob.glob(pat))
        if hits:
            return hits[-1]
    return None


def test_iceberg_detection_is_false_without_jars(spark):
    """Without the runtime on the classpath, availability must be False
    and IcebergCatalog must refuse construction — not explode later on a
    JavaPackage."""
    from studiocr_spark.sources.catalog import (
        IcebergCatalog,
        iceberg_available,
    )

    if _find_iceberg_jar() is not None:
        pytest.skip("Iceberg jars present; negative detection not testable")
    assert iceberg_available(spark) is False
    with pytest.raises(RuntimeError, match="Iceberg runtime"):
        IcebergCatalog(spark)


_SMOKE = """
import json, sys, tempfile
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession

wh = tempfile.mkdtemp(prefix="ice_wh_")
spark = (
    SparkSession.builder.master("local[2]")
    .config("spark.jars", {jar!r})
    .config("spark.sql.extensions",
            "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions")
    .config("spark.sql.catalog.ice", "org.apache.iceberg.spark.SparkCatalog")
    .config("spark.sql.catalog.ice.type", "hadoop")
    .config("spark.sql.catalog.ice.warehouse", wh)
    .config("spark.sql.shuffle.partitions", "2")
    .getOrCreate()
)
from studiocr_spark.sources.catalog import IcebergCatalog, iceberg_available
assert iceberg_available(spark), "jar configured but detection says no"
cat = IcebergCatalog(spark, catalog="ice", n_buckets=4, term_buckets=4)
cat.create_tables()
pages = spark.createDataFrame(
    [("u://1", None, None, "hello world", "en"),
     ("u://2", None, None, "goodbye", "en")],
    "url string, warc_ts timestamp, html binary, text string, lang string",
)
cat.append(pages, "pages")
n1 = cat.read("pages").count()
cat.append(pages.filter("url = 'u://1'"), "pages")
n2 = cat.read("pages").count()
cat.delete_where("pages", "url = 'u://2'")
n3 = cat.read("pages").count()
part = spark.sql("SELECT partition FROM ice.ocr.pages.files").count()
print(json.dumps({"n1": n1, "n2": n2, "n3": n3, "files": part}))
"""


def test_iceberg_ddl_append_delete_roundtrip():
    """Full S9 smoke: DDL (bucket-by-url), snapshot append, DELETE FROM.
    Runs only where an iceberg-spark-runtime jar is discoverable."""
    jar = _find_iceberg_jar()
    if jar is None:
        pytest.skip("no Iceberg runtime jar in this environment")
    proc = subprocess.run(
        [sys.executable, "-c", _SMOKE.format(repo=REPO, jar=jar)],
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["n1"] == 2 and out["n2"] == 3 and out["n3"] == 2
    assert out["files"] >= 1


def test_merge_sql_names_keys_and_both_branches():
    """The MERGE INTO statement IcebergCatalog builds: matched keys are
    replaced, new keys inserted. Building it needs no jar or session."""
    from studiocr_spark.sources.catalog import IcebergCatalog

    cat = object.__new__(IcebergCatalog)
    cat.catalog = "cat"
    sql = cat.merge_sql("ocr_pages", "updates", ["url", "page_no"])
    assert "MERGE INTO cat.ocr.ocr_pages t USING updates s" in sql
    assert "ON t.url = s.url AND t.page_no = s.page_no" in sql
    assert "WHEN MATCHED THEN UPDATE SET *" in sql
    assert "WHEN NOT MATCHED THEN INSERT *" in sql
