#!/usr/bin/env python3
"""Layered benchmark of the OCR extract job and the search it serves.

Run from the repository root::

    python3 perfbench/run.py --workload extract_decode --seed 1 --seconds 10 --trace 0

Workloads (see ``perfbench/README.md`` for the why, the layer map and the
session conf):

- ``extract_decode``: read -> ``extract_raw(backend="bitmap")`` -> noop sink,
  back to back for ``--seconds``.
- ``extract_job``: ``jobs/extract_submit.main`` with ``--backend bitmap
  --build-index``, each run into a fresh output directory: one cold job,
  then warm jobs back to back for ``--seconds``.
- ``search_mix``: one closed-loop client sending equal shares of
  ``global_search_indexed``, ``bm25_search`` and ``in_doc_search`` for
  ``--seconds``, against an index that ``jobs/extract_submit.main`` built
  (``--backend bitmap --build-index``) outside the timed region.

Each run starts its own JVM at ``local[nproc]``, generates its inputs from
``--seed``, checks every output and prints two JSON lines: a report with
every measured value, its unit and sample count, then the result line
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` reports the per-layer metrics and writes
the spans under ``.perfbench_out/``. The exit status is non-zero when any
operation fails or any check finds a wrong output. All files a run writes
stay under the directory the command runs from.
"""

import argparse
import contextlib
import functools
import importlib.util
import io
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import inputs  # noqa: E402
import kernel  # noqa: E402
from spans import Tracer, sql_max_stage, sql_total  # noqa: E402

NPROC = len(os.sched_getaffinity(0))
# extract_decode needs thousands of docs in few, large scan tasks: at 800
# docs in 16 tasks, per-task and per-pass costs took 85% of the stage's task
# time; at 2400-3200 docs in 4 tasks the decode kernel takes about half.
# The production job is dominated by its fixed costs (sinks, manifest, index
# build), so its wall barely depends on the corpus size: at local[4], with
# 16 scan tasks, a warm job took about 8 s on 400 docs and 10 s on 800.
CORPUS_DOCS = {"extract_decode": 2400, "extract_job": 400, "search_mix": 300}
# the job's checkpoint buckets and the index's term buckets, sized for the
# corpus (the production defaults, 1024 and 256, target billions of docs)
N_BUCKETS = 4
TERM_BUCKETS = 4
# One file per core. Under the default maxPartitionBytes (128 MiB) Spark
# makes each of these equal-sized files one scan task.
CORPUS_FILES = NPROC
# session restarts after the cold start; setup_s is their median
SETUP_RESTARTS = 3
# the production job runs once cold, then at least this many times warm.
# Over 11 runs with three warm jobs each, the mean of the first two spread
# less (IQR / median 0.11) than the median of all three (0.16), and a
# third job costs about 6.5 s a run.
WARM_JOBS = 2
KERNEL_SAMPLE_DOCS = 200
BM25_LIMIT = 10


def _now() -> float:
    return time.perf_counter()


def _median(xs):
    return statistics.median(xs) if xs else None


def _dir_stats(path: str) -> tuple[int, int]:
    """(bytes, parquet data files) of every regular file under ``path``."""
    size = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(root, n))
            files += n.endswith(".parquet")
    return size, files


class Bench:
    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, work: str):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.tracer = Tracer(trace)
        self.spark = None
        self.n_docs = CORPUS_DOCS[workload]
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.e2e: dict[str, float] = {}
        self.layers: dict[str, float] = {}
        self.report: dict = {}
        self.samples: dict[str, int] = {}

    # -- bookkeeping ------------------------------------------------------

    @contextlib.contextmanager
    def phase(self, name: str):
        """Wall of one step of the run, for the report."""
        t0 = _now()
        try:
            yield
        finally:
            phases = self.report.setdefault("phases_s", {})
            phases[name] = phases.get(name, 0.0) + _now() - t0

    def check(self, name: str, ok: bool, detail=None) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(f"{name}: {detail}"[:300])

    def attempt(self, name: str, fn):
        """Run one operation; a raise counts as a failed operation."""
        self.attempted += 1
        try:
            return True, fn()
        except Exception as exc:  # one failed operation must not end the run
            self.failed += 1
            self.failures.append(f"{name}: {type(exc).__name__}: {exc}"[:300])
            return False, None

    # -- inputs -----------------------------------------------------------

    def make_inputs(self) -> None:
        rows, corrupt = inputs.make_corpus(self.seed, self.n_docs, NPROC)
        self.pages_path = os.path.join(self.work, "pages")
        inputs.write_corpus(rows, self.pages_path, CORPUS_FILES)
        self.corrupt = corrupt
        self.queries = inputs.make_queries(self.seed, rows, corrupt)
        sample = [r["html"] for r in rows if r["url"] not in corrupt]
        self.kernel_sample = sample[:KERNEL_SAMPLE_DOCS]
        self.multipage_docs = sum(1 for h in sample if h[:4] == inputs.MPDF_MAGIC)

    # -- session ----------------------------------------------------------

    def _start(self):
        from studiocr_spark.session import get_spark

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
        }
        return get_spark(
            app_name=f"perfbench-{self.workload}", master=f"local[{NPROC}]", extra_conf=conf
        )

    def _warm_workers(self) -> None:
        """One tiny UDF task per core, so every Python worker is started and
        has imported the package before anything is timed."""
        import pandas as pd
        from pyspark.sql import functions as F

        @F.pandas_udf("long")
        def touch(s: pd.Series) -> pd.Series:
            import studiocr_spark.operators.extract  # noqa: F401

            return s

        (
            self.spark.range(0, NPROC * 4, numPartitions=NPROC)
            .select(touch("id"))
            .write.format("noop").mode("overwrite").save()
        )

    def setup(self, prepare=None, open_index=None) -> None:
        """One cold session start, which launches the JVM, then
        SETUP_RESTARTS session restarts in that JVM. Each is session start
        + Python worker warmup (+ opening the index). setup_s is the median
        of the restarts; the cold start is reported as setup_cold_s.
        ``prepare`` runs untimed in the first session (input preparation
        that needs Spark, such as building the index under test)."""
        parts: dict[str, list[float]] = {"get": [], "warm": [], "open": [], "total": []}
        for cycle in range(1 + SETUP_RESTARTS):
            with self.phase("setup"):
                if self.spark is not None:
                    self.spark.stop()
                t0 = _now()
                self.spark = self._start()
                t1 = _now()
                self._warm_workers()
                t2 = _now()
            self.tracer.attach(self.spark)
            if cycle == 0 and prepare is not None:
                with self.phase("prepare"):
                    prepare()
            with self.phase("setup"):
                t3 = _now()
                if open_index is not None:
                    self.index = open_index()
                t4 = _now()
            parts["get"].append(t1 - t0)
            parts["warm"].append(t2 - t1)
            parts["open"].append(t4 - t3)
            parts["total"].append(t2 - t0 + t4 - t3)
        self.report["setup_cold_s"] = parts["total"][0]
        self.report["setup_restarts_s"] = parts["total"][1:]
        self.e2e["setup_s"] = _median(parts["total"][1:])
        self.samples["setup_s"] = SETUP_RESTARTS
        self.layers["session.get_spark_s"] = _median(parts["get"][1:])
        self.layers["session.worker_warmup_s"] = _median(parts["warm"][1:])
        self.layers["session.get_spark_cold_s"] = parts["get"][0]
        self.layers["session.worker_warmup_cold_s"] = parts["warm"][0]
        if open_index is not None:
            self.layers["operators.index.read_open_s"] = _median(parts["open"][1:])

    def shutdown(self) -> None:
        """Stop the session, then the JVM, and wait for it to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None

    # -- the production job ----------------------------------------------

    def _extract_submit(self):
        spec = importlib.util.spec_from_file_location(
            "extract_submit", os.path.join(ROOT, "jobs", "extract_submit.py")
        )
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        return mod

    @contextlib.contextmanager
    def _instrumented(self):
        """Traced runs only: wrap the layer entry points the job calls in
        spans (the job imports them from their modules at call time)."""
        if not self.tracer.enabled:
            yield
            return
        from studiocr_spark.operators import index
        from studiocr_spark.streaming import incremental

        targets = [
            (incremental, "run_checkpointed_extract", "streaming.incremental"),
            (incremental, "pending_buckets", "streaming.incremental"),
            (index, "write_postings_segment", "operators.index"),
        ]
        saved = [(mod, name, getattr(mod, name)) for mod, name, _ in targets]
        for mod, name, layer in targets:
            setattr(mod, name, self._wrap(getattr(mod, name), layer, name))
        try:
            yield
        finally:
            for mod, name, fn in saved:
                setattr(mod, name, fn)

    def _wrap(self, fn, layer: str, name: str):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.tracer.span(layer, name) as rec:
                if name != "run_checkpointed_extract":
                    return fn(*args, **kwargs)
                with self._cache_poller(rec):
                    return fn(*args, **kwargs)

        return wrapper

    @contextlib.contextmanager
    def _cache_poller(self, rec: dict):
        """Peak bytes Spark holds cached while the span runs."""
        stop = threading.Event()
        peak = [0]
        jsc = self.spark.sparkContext._jsc.sc()

        def poll():
            while not stop.wait(0.1):
                total = sum(i.memSize() + i.diskSize() for i in jsc.getRDDStorageInfo())
                peak[0] = max(peak[0], total)

        t = threading.Thread(target=poll, daemon=True)
        t.start()
        try:
            yield
        finally:
            stop.set()
            t.join()
            rec["cached_bytes"] = peak[0]

    def run_job(self, out: str) -> list[dict]:
        """One production job into ``out``; returns its JSON summary lines."""
        argv = [
            "--input", self.pages_path, "--output", out,
            "--backend", "bitmap", "--build-index",
            "--n-buckets", str(N_BUCKETS), "--term-buckets", str(TERM_BUCKETS),
        ]
        job = self._extract_submit()
        buf = io.StringIO()
        with self.tracer.span("jobs", "extract_submit"), contextlib.redirect_stdout(buf), self._instrumented():
            rc = job.main(argv)
        if rc != 0:
            raise RuntimeError(f"extract_submit exited {rc}")
        return [json.loads(x) for x in buf.getvalue().splitlines() if x.startswith("{")]

    # -- checks -------------------------------------------------------------

    def check_extract(self, pages_df, page_texts) -> None:
        """Byte-identical text per url and the exact quarantine set, in one
        Spark job. ``page_texts`` holds (url, page_no, page_text, error)
        rows; a url with no error-free row is quarantined."""
        from pyspark.sql import functions as F
        from studiocr_spark.operators.extract import assemble_doc_text

        rows = (
            pages_df.select("url", "text")
            .join(assemble_doc_text(page_texts), "url", "left")
            .select(
                "url",
                F.col("extracted_text").isNull().alias("missing"),
                F.col("extracted_text").eqNullSafe(F.col("text")).alias("same"),
            )
            .collect()
        )
        quarantined = {r.url for r in rows if r.missing}
        differ = sum(1 for r in rows if not r.missing and not r.same)
        self.check("text_byte_identical", differ == 0, f"{differ} of {len(rows)} docs differ")
        self.check(
            "quarantine_equals_planted", quarantined == self.corrupt,
            f"{len(quarantined)} quarantined, {len(self.corrupt)} planted, "
            f"{len(quarantined ^ self.corrupt)} differ",
        )
        self.layers["operators.extract.quarantined_out"] = len(quarantined)

    def check_job_outputs(self, out: str) -> None:
        """Manifest totals equal the row counts of the job's outputs."""
        from pyspark.sql import functions as F
        from studiocr_spark.streaming.incremental import read_manifest

        spark = self.spark
        totals = tuple(
            read_manifest(spark, out).agg(F.sum("n_urls"), F.sum("n_pages"), F.sum("n_blocks")).first()
        )
        pages_row = (
            spark.read.parquet(os.path.join(out, "ocr_pages"))
            .agg(F.count_distinct("url"), F.count("*")).first()
        )
        n_blocks = spark.read.parquet(os.path.join(out, "ocr_blocks")).count()
        outputs = (pages_row[0], pages_row[1], n_blocks)
        self.check(
            "manifest_totals_equal_outputs", totals == outputs,
            f"manifest {totals} vs outputs {outputs}",
        )
        self.check(
            "job_url_count_equals_decodable", pages_row[0] == self.n_docs - len(self.corrupt),
            f"{pages_row[0]} urls out of {self.n_docs}, {len(self.corrupt)} planted corrupt",
        )
        self.layers["operators.extract.pages_out"] = pages_row[1]
        self.layers["operators.extract.blocks_out"] = n_blocks
        self.layers["operators.extract.quarantined_out"] = self.n_docs - pages_row[0]

    # -- workloads ------------------------------------------------------------

    def run_extract_decode(self) -> None:
        from pyspark import StorageLevel
        from pyspark.sql import functions as F
        from studiocr_spark.operators.extract import blocks_from_raw, extract_raw

        self.setup()
        pages = self.spark.read.parquet(self.pages_path)
        with self.phase("checks"):
            raw = extract_raw(pages, backend="bitmap")
            if self.tracer.enabled:
                raw = raw.persist(StorageLevel.MEMORY_AND_DISK)
            self.check_extract(pages, raw)
            if self.tracer.enabled:
                ok = raw.filter(F.col("error").isNull())
                self.layers["operators.extract.pages_out"] = ok.count()
                self.layers["operators.extract.blocks_out"] = blocks_from_raw(ok).count()
                raw.unpersist()

        def op():
            extract_raw(pages, backend="bitmap").write.format("noop").mode("overwrite").save()

        # the check's plan differs from the timed one, whose first pass
        # still ran about 25% slower than the next ones
        with self.phase("warm"):
            op()
        with self.phase("measure"):
            walls = self.timed_loop(op, "operators.extract", "extract_raw_noop", 3)
        self.e2e["docs_per_s"] = self.n_docs / _median(walls)
        self.samples["docs_per_s"] = len(walls)
        self.report["extract_wall_s"] = walls
        if self.tracer.enabled:
            spans = [s for s in self.tracer.spans if s["name"] == "extract_raw_noop"]
            self.layers.update(self.extract_layer(spans))

    def run_extract_job(self) -> None:
        from pyspark.sql import functions as F

        self.setup()
        # The first job in a JVM runs cold: about 2.5 times the wall of the
        # next, from class loading, JIT and plan-code compilation. One cold
        # sample a run spread too widely to gate, so it is reported as
        # job_cold_wall_s, and the gate times the warm jobs after it.
        with self.phase("cold_job"):
            t0 = _now()
            ok, cold = self.attempt("extract_submit", lambda: self.run_job(os.path.join(self.work, "out-cold")))
            self.report["job_cold_wall_s"] = _now() - t0
        self.report["job_summary"] = cold
        if not ok:
            return
        outs: list[str] = []
        summaries: list[list[dict]] = [cold]

        def op():
            outs.append(os.path.join(self.work, f"out-{len(outs)}"))
            summaries.append(self.run_job(outs[-1]))

        with self.phase("measure"):
            walls = self.timed_loop(op, "jobs", "warm_extract_submit", WARM_JOBS)
        if len(walls) < len(outs):
            return
        self.e2e["docs_per_s"] = self.n_docs / _median(walls)
        self.samples["docs_per_s"] = len(walls)
        self.report["job_wall_s"] = walls
        out = outs[-1]
        with self.phase("checks"):
            ocr_pages = self.spark.read.parquet(os.path.join(out, "ocr_pages"))
            self.check_extract(
                self.spark.read.parquet(self.pages_path),
                ocr_pages.select(
                    "url", "page_no", "page_text", F.lit(None).cast("string").alias("error")
                ),
            )
            self.check_job_outputs(out)
            counts = [_summary_counts(s) for s in summaries]
            self.check("job_summaries_agree", len(set(counts)) == 1, counts)
        self.layers.update(self.job_layers(out))

    def run_search_mix(self) -> None:
        from studiocr_spark.operators.index import read_doc_lens, read_postings, read_term_stats
        from studiocr_spark.operators.search import bm25_search, global_search_indexed, in_doc_search

        out = os.path.join(self.work, "out")
        root = os.path.join(out, "postings")

        def build_index():
            t0 = _now()
            ok, summary = self.attempt("extract_submit", lambda: self.run_job(out))
            self.report["job_cold_wall_s"] = _now() - t0
            self.report["job_summary"] = summary
            if not ok:
                raise RuntimeError("the index build failed: " + self.failures[-1])
            self.check_job_outputs(out)
            self.layers.update(self.job_layers(out))

        def open_index():
            spark = self.spark
            return {
                "postings": read_postings(spark, root),
                "term_stats": read_term_stats(spark, root),
                "doc_lens": read_doc_lens(spark, root),
                "blocks": spark.read.parquet(os.path.join(out, "ocr_blocks")),
            }

        self.setup(prepare=build_index, open_index=open_index)
        ix = self.index
        plans = {
            "global": lambda q: global_search_indexed(ix["postings"], q),
            "bm25": lambda q: bm25_search(
                None, q, limit=BM25_LIMIT, term_stats=ix["term_stats"], doc_lens=ix["doc_lens"]
            ),
            "indoc": lambda uq: in_doc_search(ix["blocks"], uq[0], uq[1]),
        }

        with self.phase("warm"):
            for kind, plan in plans.items():  # untimed: compiles each plan shape
                plan(self.queries[kind][0]).collect()
        lat: dict[str, list[float]] = {k: [] for k in plans}
        results: dict[tuple, list] = {}
        round_means: list[float] = []
        with self.phase("measure"):
            t_end = _now() + self.seconds
            n = 0
            while _now() < t_end or (not round_means and n < 3):
                total = 0.0
                for kind, plan in plans.items():
                    q = self.queries[kind][n % len(self.queries[kind])]
                    with self.tracer.span("operators.search", kind, query=str(q)) as rec:
                        t0 = _now()
                        df = plan(q)
                        ok, rows = self.attempt(f"search.{kind}", df.collect)
                        wall = _now() - t0
                        if rec is not None and ok:
                            rec["plan_ms"] = self.tracer.probe.plan_phases_ms(df)
                            rec["result_rows"] = len(rows)
                    if ok:
                        lat[kind].append(wall)
                        results.setdefault((kind, q), rows)
                    total += wall
                round_means.append(total / len(plans))
                n += 1
        self.e2e["docs_per_s"] = self.n_docs / _median(round_means)
        self.samples["docs_per_s"] = len(round_means)
        pooled = sorted(x for xs in lat.values() for x in xs)
        for kind, xs in lat.items():
            self.report[f"search.{kind}_p50_ms"] = _median(xs) * 1e3 if xs else None
            self.samples[f"search.{kind}_p50_ms"] = len(xs)
        self.report["search.p90_ms"] = (
            statistics.quantiles(pooled, n=10)[-1] * 1e3 if len(pooled) > 1 else None
        )
        self.samples["search.p90_ms"] = len(pooled)
        with self.phase("checks"):
            self.check_search(results)
        if self.tracer.enabled:
            self.layers.update(self.search_layer())

    def check_search(self, results: dict) -> None:
        """Each distinct query's result against a plain-Python recompute
        from the blocks table (not the index): one Spark job collects the
        per-url term counts, the rest runs in Python."""
        from pyspark.sql import functions as F

        blocks = self.index["blocks"]
        tf: dict[str, dict[str, int]] = {}
        with self.phase("check_counts"):
            for r in blocks.groupBy("url", F.lower("text").alias("term")).count().collect():
                tf.setdefault(r.term, {})[r.url] = r["count"]
        dl: dict[str, int] = {}
        for postings in tf.values():
            for url, n in postings.items():
                dl[url] = dl.get(url, 0) + n
        for (kind, q), got in results.items():
            if kind == "global":
                self.check("global_vs_python", [r.url for r in got] == _global_python(tf, q), q)
            elif kind == "bm25":
                want = _bm25_python(tf, dl, q, BM25_LIMIT)
                same = [r.url for r in got] == [u for u, _s in want] and all(
                    abs(r.score - s) <= 1e-6 for r, (_u, s) in zip(got, want)
                )
                self.check("bm25_vs_python", same, q)
        indoc = [(k, q) for (k, q) in results if k == "indoc"]
        urls = sorted({uq[0] for _k, uq in indoc})
        by_url: dict[str, list] = {u: [] for u in urls}
        with self.phase("check_indoc"):
            for r in blocks.filter(F.col("url").isin(urls)).collect():
                by_url[r.url].append(r)
        for kind, uq in indoc:
            got = [
                (r.page_no, [tuple(b) for b in r.matched_blocks]) for r in results[(kind, uq)]
            ]
            self.check("indoc_vs_python", got == _indoc_python(by_url[uq[0]], uq[1]), uq)

    def timed_loop(self, op, module: str, name: str, min_tries: int) -> list[float]:
        """Run ``op`` back to back for ``seconds`` and at least ``min_tries``
        times; walls of the ones that succeeded."""
        walls: list[float] = []
        t_end = _now() + self.seconds
        tries = 0
        while _now() < t_end or tries < min_tries:
            tries += 1
            with self.tracer.span(module, name):
                t0 = _now()
                ok, _ = self.attempt(name, op)
                wall = _now() - t0
            if ok:
                walls.append(wall)
        return walls

    # -- per-layer metrics -------------------------------------------------

    def extract_layer(self, spans: list[dict]) -> dict[str, float]:
        """operators.extract from the spans whose group ran the MapInPandas
        stage; medians over those spans.

        The stage's task time splits into the decode kernel (timed apart,
        in one process), the rest of the Python side and the JVM side.
        Spark's "time to run Python workers" sums, per task, Python's
        finish time minus the JVM's task start: the task's whole Python
        side. Its "time to start/initialize Python workers" start from the
        worker's own clock reading at the top of its main loop. A reused
        worker takes that reading as soon as its previous task ends, so
        those two count its idle wait between tasks, not work of the task.
        They are reported as ``python_start_init_s`` and belong to no split.
        """
        kernel_ms = self.layers["sources.kernel_ms_per_doc"]
        per: dict[str, list[float]] = {}
        for s in spans:
            g = s["spark"]
            sid = sql_max_stage(g, "MapInPandas", "time to run Python workers")
            stage = next((st for st in g["stages"] if st["id"] == sid), None)
            if stage is None:
                continue
            python_s = sql_total(g, "MapInPandas", "time to run Python workers")
            task_ms = stage["run_s"] * 1e3 / self.n_docs
            python_ms = python_s * 1e3 / self.n_docs
            vals = {
                "python_run_s": python_s,
                "python_start_init_s": sql_total(g, "MapInPandas", "time to start Python workers")
                + sql_total(g, "MapInPandas", "time to initialize Python workers"),
                "bytes_to_python_per_doc": sql_total(g, "MapInPandas", "data sent to Python workers")
                / self.n_docs,
                "bytes_from_python_per_doc": sql_total(g, "MapInPandas", "data returned from Python workers")
                / self.n_docs,
                "task_ms_per_doc": task_ms,
                "outside_kernel_ms_per_doc": task_ms - kernel_ms,
                "python_outside_kernel_ms_per_doc": python_ms - kernel_ms,
                "jvm_ms_per_doc": task_ms - python_ms,
                "gc_s": stage["gc_s"],
                "core_busy_frac": stage["run_s"] / (stage["wall_s"] * NPROC) if stage["wall_s"] else 0.0,
                "stage_wall_s": stage["wall_s"],
                "stage_tasks": stage["tasks"],
                "other_stages_task_s": sum(st["run_s"] for st in g["stages"] if st["id"] != sid),
            }
            for k, v in vals.items():
                per.setdefault(k, []).append(v)
        return {f"operators.extract.{k}": _median(v) for k, v in per.items()}

    def job_layers(self, out: str) -> dict[str, float]:
        """Byte counts of the job's outputs, and, when traced, the
        streaming.incremental and operators.index spans of the last job."""
        layers: dict[str, float] = {}
        written = sum(_dir_stats(os.path.join(out, d))[0] for d in ("ocr_pages", "ocr_blocks", "manifest"))
        ix_bytes, ix_files = _dir_stats(os.path.join(out, "postings"))
        self.report["stored_bytes_per_doc"] = (written + ix_bytes) / self.n_docs
        layers["streaming.incremental.bytes_written_per_doc"] = written / self.n_docs
        layers["operators.index.bytes_written_per_doc"] = ix_bytes / self.n_docs
        layers["operators.index.files_written"] = ix_files
        if not self.tracer.enabled:
            return layers
        job = [s for s in self.tracer.spans if s["name"] == "extract_submit"][-1]
        spans = [s for s in self.tracer.spans if s["parent"] == job["id"]]
        run = next(s for s in spans if s["name"] == "run_checkpointed_extract")
        seg = next(s for s in spans if s["name"] == "write_postings_segment")
        sid = sql_max_stage(run["spark"], "MapInPandas", "time to run Python workers")
        stages = run["spark"]["stages"]
        layers.update(
            {
                "streaming.incremental.run_s": run["end_s"] - run["start_s"],
                "streaming.incremental.pending_buckets_s": sum(
                    s["end_s"] - s["start_s"] for s in spans if s["name"] == "pending_buckets"
                ),
                "streaming.incremental.cached_bytes": run["cached_bytes"],
                "streaming.incremental.write_task_s": sum(st["run_s"] for st in stages if st["id"] != sid),
                "streaming.incremental.stages": len(stages),
                "streaming.incremental.tasks": sum(st["tasks"] for st in stages),
                "operators.index.write_segment_s": seg["end_s"] - seg["start_s"],
                "operators.index.shuffle_write_bytes_per_doc": sum(
                    st["shuffle_write_bytes"] for st in seg["spark"]["stages"]
                )
                / self.n_docs,
                "jobs.extract_submit_s": job["end_s"] - job["start_s"],
            }
        )
        layers.update(self.extract_layer([run]))
        return layers

    def search_layer(self) -> dict[str, float]:
        out: dict[str, float] = {}
        for kind in ("global", "bm25", "indoc"):
            recs = [s for s in self.tracer.spans if s["module"] == "operators.search" and s["name"] == kind and "plan_ms" in s]
            vals: dict[str, list[float]] = {}
            for s in recs:
                g = s["spark"]
                wall_ms = (s["end_s"] - s["start_s"]) * 1e3
                plan_ms = sum(s["plan_ms"].values())
                vals.setdefault("plan_ms", []).append(plan_ms)
                vals.setdefault("exec_ms", []).append(wall_ms - plan_ms)
                vals.setdefault("jobs_per_query", []).append(g["jobs"])
                vals.setdefault("tasks_per_query", []).append(sum(st["tasks"] for st in g["stages"]))
                vals.setdefault("files_read_per_query", []).append(sql_total(g, "Scan parquet", "number of files read"))
                vals.setdefault("bytes_read_per_query", []).append(sql_total(g, "Scan parquet", "size of files read"))
                vals.setdefault("rows_scanned_per_result", []).append(
                    sql_total(g, "Scan parquet", "number of output rows") / max(1, s["result_rows"])
                )
            for k, v in vals.items():
                out[f"operators.search.{kind}.{k}"] = _median(v)
        return out

    # -- run ---------------------------------------------------------------------

    def run(self) -> None:
        t_start = _now()
        self.report["loadavg_before"] = os.getloadavg()
        with self.phase("inputs"):
            self.make_inputs()
        self.report["corpus"] = {
            "docs": self.n_docs, "corrupt": len(self.corrupt),
            "multipage_docs": self.multipage_docs,
            "first_doc_id": inputs.doc_offset(self.seed),
        }
        with self.phase("kernel"):
            control_ms = kernel.kernel_ms_per_doc(self.kernel_sample)
            if self.tracer.enabled:
                self.layers.update(kernel.layer_profile(self.kernel_sample))
        self.report["window_control_docs_per_s_1proc"] = 1e3 / control_ms
        self.layers["sources.kernel_ms_per_doc"] = control_ms
        self.layers["sources.kernel_docs_per_s_1proc"] = 1e3 / control_ms
        getattr(self, f"run_{self.workload}")()
        self.report["loadavg_after"] = os.getloadavg()
        self.report["run_wall_s"] = _now() - t_start


def _summary_counts(summary: list[dict]) -> tuple:
    """(n_urls, n_pages, n_blocks) from a job's summary lines."""
    line = next(x for x in summary if "n_urls" in x)
    return line["n_urls"], line["n_pages"], line["n_blocks"]


def _global_python(tf: dict, query: str) -> list[str]:
    """Urls with any block text containing any query word (substring match,
    case-insensitive), in lower-cased url order."""
    words = query.lower().split()
    urls = {u for term, postings in tf.items() if any(w in term for w in words) for u in postings}
    return sorted(urls, key=str.lower)


def _bm25_python(tf: dict, dl: dict, query: str, limit: int, k1=1.2, b=0.75) -> list:
    """Top ``limit`` (url, score) by BM25 over the blocks' lower-cased texts,
    scores rounded half-up to 1e-6, ties by url."""
    n_docs = float(len(dl))
    avg_dl = sum(dl.values()) / len(dl)
    scores: dict[str, float] = {}
    for term in set(query.lower().split()):
        postings = tf.get(term, {})
        df = len(postings)
        idf = math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))
        for url, n in postings.items():
            scores[url] = scores.get(url, 0.0) + idf * n / (n + k1 * ((1 - b) + b * dl[url] / avg_dl))
    ranked = sorted(((u, math.floor(s * 1e6 + 0.5) / 1e6) for u, s in scores.items()), key=lambda us: (-us[1], us[0]))
    return ranked[:limit]


def _indoc_python(blocks: list, query: str) -> list:
    """In-doc search recomputed in plain Python from the doc's block rows:
    pages with a match, in page order; per page, each block once per query
    word it contains, in (block_no, word) order."""
    words = query.lower().split()
    pages: dict[int, list] = {}
    for b in blocks:
        text = b.text.lower()
        for i, w in enumerate(words):
            if w in text:
                color = "green" if b.conf >= 80 else "blue" if b.conf >= 40 else "red"
                pages.setdefault(b.page_no, []).append(
                    ((b.block_no, i), (b.left, b.top, b.width, b.height, b.conf, b.text, color))
                )
    return [(p, [blk for _k, blk in sorted(pages[p], key=lambda kb: kb[0])]) for p in sorted(pages)]


def _isolate(work: str) -> None:
    """Point every temporary and Spark scratch directory inside ``work``.

    The JVM options reach both JVMs ``spark-submit`` starts (its launcher
    and the driver): no perf-data files and no temporary files elsewhere.
    """
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    tempfile.tempdir = None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(CORPUS_DOCS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    import studiocr_spark  # noqa: F401  (fails fast outside a full checkout)

    work = os.path.join(os.getcwd(), ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    _isolate(work)
    bench = Bench(args.workload, args.seed, args.seconds, bool(args.trace), work)
    try:
        bench.run()
    finally:
        with bench.phase("shutdown"):
            bench.shutdown()
            shutil.rmtree(work, ignore_errors=True)
            with contextlib.suppress(OSError):  # kept while other runs use it
                os.rmdir(os.path.dirname(work))

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        wanted = json.load(f)["per_layer" if args.trace else "end_to_end"]
    source = bench.layers if args.trace else bench.e2e
    metrics = {
        m["name"]: {"value": source[m["name"]], "unit": m["unit"]}
        for m in wanted
        if source.get(m["name"]) is not None
    }
    complete = len(metrics) == len(wanted)
    correct = bench.failed == 0 and complete
    report = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "nproc": NPROC, "end_to_end": bench.e2e, "samples": bench.samples,
        "error_rate": bench.failed / max(1, bench.attempted),
        "failures": bench.failures[:5], **bench.report,
    }
    if args.trace:
        report["per_layer"] = bench.layers
        os.makedirs(".perfbench_out", exist_ok=True)
        path = os.path.join(".perfbench_out", f"trace-{args.workload}-{args.seed}.json")
        with open(path, "w") as f:
            json.dump({"report": report, "spans": bench.tracer.dump()}, f, indent=1)
    print(json.dumps({"report": report}, default=str))
    print(json.dumps({
        "correct": correct,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": metrics,
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
