"""Focused per-entry benchmark for optimization A/B runs (guide §1.4).

Same session conf, warmup and min-of-N methodology as the frozen
bench.py, but times ONLY the entries named on the command line — so an
operator change can be re-measured in seconds instead of a full suite
run. Results print as one JSON line; this file is NOT part of the
driver's measurement protocol (bench.py is frozen for that).

Usage: python bench_extra.py [-nN] entry [entry ...]
Env:   SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
       SPARK_GRAFT_CPUS (default: all cores, as session.get_spark)
"""

from __future__ import annotations

import json
import os
import sys
import time

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def _force(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def _window_control() -> float:
    """No-Spark micro-control (docs/sec, single process): the same
    decode+stats kernel bench_scaling's hardware control runs. A
    depressed reading means the HOST is degraded — interpret the Spark
    timings in this output as window-limited, not code-attributable
    (bench.py is frozen, so the window stamp lives here; round-5
    verdict task 1)."""
    import time as _time

    from studiocr_spark.functions.pagestats import compute_page_stats
    from studiocr_spark.gen import make_doc
    from studiocr_spark.sources.decode import bitmap_decode

    docs = [make_doc(i, 200, 400)["html"] for i in range(10)]
    n = 0
    t_end = _time.time() + 2.0
    while _time.time() < t_end:
        for h in docs:
            for _png, data, _text in bitmap_decode(h):
                compute_page_stats(data)
            n += 1
    return n / 2.0


def main() -> None:
    os.environ["SPARK_GRAFT_ANN_SKIP_DUMP"] = "1"
    args = sys.argv[1:]
    repeats = 2
    if args and args[0].startswith("-n"):
        repeats = int(args[0][2:])
        args = args[1:]
    names = args

    import __spark_entry__ as entry

    from studiocr_spark.session import get_spark

    spark = get_spark(
        app_name="studiocr-bench-extra",
        master=f"local[{CPUS}]",
        shuffle_partitions=max(CPUS, 8),
        extra_conf={"spark.sql.files.maxPartitionBytes": str(4 * 1024 * 1024)},
    )
    qs = entry.queries()
    # identical warmup protocol to bench.py
    _force(qs["q1_pricing_summary"](spark, SF_DIR))
    _force(qs["token_counts"](spark, SF_DIR))
    from pyspark.sql import functions as _F
    from pyspark.sql.functions import pandas_udf as _pudf

    @_pudf("long")
    def _warm(s: pd.Series) -> pd.Series:
        return s

    _force(spark.range(CPUS * 4).repartition(CPUS).select(_warm(_F.col("id"))))

    load_before = os.getloadavg()
    ctl_before = _window_control()
    timings: dict[str, float] = {}
    for name in names:
        spark.sparkContext.setJobDescription(f"bench_extra: {name}")
        runs = []
        for _ in range(repeats):
            t0 = time.time()
            _force(qs[name](spark, SF_DIR))
            runs.append(time.time() - t0)
        timings[name] = round(min(runs), 3)
        spark.sparkContext.setJobDescription(None)
    ctl_after = _window_control()
    print(json.dumps({
        "queries": timings, "sf": SF_DIR, "cpus": CPUS, "repeats": repeats,
        "window": {
            "loadavg_before": [round(x, 2) for x in load_before],
            "loadavg_after": [round(x, 2) for x in os.getloadavg()],
            "control_docs_per_sec": [round(ctl_before, 1),
                                     round(ctl_after, 1)],
        },
    }))
    spark.stop()


if __name__ == "__main__":
    main()
