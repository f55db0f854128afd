"""SparkSession factory with scale-oriented defaults.

Every config here is chosen for the 100 TB target, then sized down for a
local run: ``SPARK_GRAFT_CPUS`` sets the local width (default: every core
of the host).

- AQE on (runtime coalescing, skew-join splitting) — the north_rule mandates
  explicit skew handling; AQE is the first line, salting
  (``operators/skew.py``, ``asof.range_join``) the second.
- ``spark.sql.shuffle.partitions`` ~ cores locally; on a real cluster this is
  overridden per job (2-3x total cores) and AQE coalesces down.
- Arrow enabled everywhere: every hot Python path is a pandas UDF.
- OMP_THREAD_LIMIT=1 for executor-side native libs: parallelism comes from
  Spark tasks, not intra-task OMP threads (reference pins the same —
  /root/reference/StudiOCR/OcrEngine.py:87).

HARNESS-PARITY RULE (round-5 lesson, owned here because this factory owns
the conf): ``spark.sql.files.maxPartitionBytes`` decides scan-task count,
which decides per-task overhead on this host — the round-4 "extract 2.1x
regression" was two harnesses measuring the same operator under 4 MB
(query suite: tiny sf files need the split fan-out) vs 8 MB (scaling
worker: 60k-doc corpus) scan partitions. Any new benchmark must either
match the conf of the numbers it compares against (bench.py sets 8 MB for
the extract region, 4 MB for the query suite, min-of-N both) or not
compare at all. Never read a throughput delta across different
maxPartitionBytes settings.
"""

from __future__ import annotations

import os
import tempfile
import zipfile

from pyspark.sql import SparkSession

# Arrow batch size for the extract UDF: pages carry ~100 KB binary payloads,
# so cap batches well below the default 10k rows to bound UDF memory.
ARROW_BATCH_ROWS = 512


def get_spark(
    app_name: str = "studiocr_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    ``master`` defaults to ``local[N]`` with N from ``SPARK_GRAFT_CPUS`` (or
    all cores) — but ONLY for bare ``python`` runs. Under ``spark-submit``
    (detected via the pre-launched JVM gateway, PYSPARK_GATEWAY_PORT) the
    submitted ``--master`` is respected: calling ``builder.master()`` here
    would silently override ``--master yarn`` and run a cluster job
    single-node on the driver container.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    under_submit = "PYSPARK_GATEWAY_PORT" in os.environ
    if master is None and not under_submit:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # size post-shuffle partitions by BYTES, not by cluster width
        # (guide §2.2/§9; Spark docs recommend parallelismFirst=false in
        # production). Scale-adaptive by construction: a 100 TB shuffle
        # still fans out to thousands of 64 MB partitions, while a
        # kilobyte-scale shuffle coalesces instead of running
        # `defaultParallelism` near-empty tasks. Interleaved A/B at
        # sf0.1 (OPTIMIZATION_r06.md): no entry slower, several 10-40%
        # faster.
        .config(
            "spark.sql.adaptive.coalescePartitions.parallelismFirst",
            "false",
        )
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_BATCH_ROWS)
        )
        # native-lib thread cap inside UDF workers (tesseract/numpy BLAS):
        # one task = one core; cf. reference OcrEngine.py:87.
        .config("spark.executorEnv.OMP_THREAD_LIMIT", "1")
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
    )
    if master is not None:
        builder = builder.master(master)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    ship_package(spark)
    return spark


def build_pyfiles_zip(dest: str | None = None) -> str:
    """Zip this package for ``spark-submit --py-files`` / ``addPyFile``.

    The same artifact serves both the production submit path
    (``spark-submit --py-files studiocr_spark.zip jobs/extract_submit.py``)
    and local sessions whose driver cwd is not the repo root.
    """
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    if dest is None:
        dest = os.path.join(tempfile.gettempdir(), "studiocr_spark.zip")
    with zipfile.ZipFile(dest, "w", zipfile.ZIP_DEFLATED) as zf:
        for root, _dirs, files in os.walk(pkg_dir):
            if "__pycache__" in root:
                continue
            for fn in files:
                if not fn.endswith(".py"):
                    continue
                full = os.path.join(root, fn)
                rel = os.path.join(
                    "studiocr_spark", os.path.relpath(full, pkg_dir)
                )
                zf.write(full, rel)
    return dest


_SHIPPED_APPS: set[str] = set()


def ship_package(spark: SparkSession) -> None:
    """Make ``studiocr_spark`` importable inside Python UDF workers.

    Driver-side ``sys.path`` does not propagate to executor Python
    workers; ``addPyFile`` does. Idempotent per application (re-adding
    the same path logs a warning, so we track it).
    """
    try:
        app_id = spark.sparkContext.applicationId
        if app_id in _SHIPPED_APPS:
            return
        spark.sparkContext.addPyFile(build_pyfiles_zip())
        _SHIPPED_APPS.add(app_id)
    except Exception:
        # e.g. Spark Connect sessions without an SC — UDFs then rely on a
        # cluster-provided --py-files artifact.
        pass
