"""Spans from the benchmark's own calls, plus Spark's own instrumentation.

A span wraps one call from the benchmark into a layer of the package. In a
traced run each span also sets a Spark job group, and when it closes it
reads what Spark recorded for the jobs of that group:

- the app status store's ``lastStageAttempt`` per stage (task time, GC,
  shuffle bytes, stage wall);
- the SQL status store's per-node plan metrics (the MapInPandas node's
  Python worker times and bytes, scan files and bytes);
- for collected queries, ``QueryExecution.tracker().phases()``.

All of these work with ``spark.ui.enabled=false``. Spans stay in memory
until the run ends. An untraced run makes no spans, sets no job groups
and reads nothing back.
"""

from __future__ import annotations

import contextlib
import re
import time

from py4j.protocol import Py4JJavaError

_UNIT = {
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40,
}
_MAX_AT = re.compile(r"\(stage (\d+)\.\d+: task \d+\)")


def parse_sql_metric(text: str) -> float:
    """Total of a formatted SQL metric, in seconds, bytes or a plain count.

    Spark formats them as ``'261'``, ``'8 ms'`` or
    ``'total (min, med, max (stageId: taskId))\\n10.7 s (2.5 s, ...)'``.
    """
    head = text.strip().splitlines()[-1].split(" (")[0].split()
    value = float(head[0].replace(",", ""))
    return value * _UNIT[head[1]] if len(head) > 1 else value


def _iter(scala_seq):
    it = scala_seq.iterator()
    while it.hasNext():
        yield it.next()


class SparkProbe:
    """Reads Spark's status stores for the jobs of one job group."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.status = self.sc.statusTracker()
        self.store = self.sc._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()

    def n_executions(self) -> int:
        return self.sql.executionsCount()

    def group(self, group_id: str, first_execution: int) -> dict:
        jobs = set(self.status.getJobIdsForGroup(group_id))
        stages = []
        for job in sorted(jobs):
            info = self.status.getJobInfo(job)
            for sid in (info.stageIds if info else []):
                stage = self._stage(sid)
                if stage is not None:
                    stages.append(stage)
        nodes: list[tuple[str, str, str]] = []
        n_exec = self.sql.executionsCount()
        if jobs and n_exec > first_execution:
            for ex in _iter(self.sql.executionsList(first_execution, n_exec - first_execution)):
                if not jobs & {int(j) for j in _iter(ex.jobs().keys())}:
                    continue
                eid = ex.executionId()
                values = self.sql.executionMetrics(eid)
                for node in _iter(self.sql.planGraph(eid).allNodes()):
                    for m in _iter(node.metrics()):
                        v = values.get(m.accumulatorId())
                        if v.isDefined():
                            nodes.append((node.name().strip(), m.name(), v.get()))
        return {"jobs": len(jobs), "stages": stages, "sql": nodes}

    def _stage(self, sid: int) -> dict | None:
        try:
            sd = self.store.lastStageAttempt(sid)
        except Py4JJavaError:  # stage skipped: never attempted, so not stored
            return None
        if sd.status().toString() == "SKIPPED":
            return None
        sub, done = sd.submissionTime(), sd.completionTime()
        wall = (
            (done.get().getTime() - sub.get().getTime()) / 1e3
            if sub.isDefined() and done.isDefined()
            else 0.0
        )
        return {
            "id": sid,
            "tasks": sd.numTasks(),
            "run_s": sd.executorRunTime() / 1e3,
            "gc_s": sd.jvmGcTime() / 1e3,
            "shuffle_write_bytes": sd.shuffleWriteBytes(),
            "wall_s": wall,
        }

    @staticmethod
    def plan_phases_ms(df) -> dict[str, float]:
        """Durations of the QueryPlanningTracker phases of ``df``'s last run."""
        phases = df._jdf.queryExecution().tracker().phases()
        out = {}
        for name in ("analysis", "optimization", "planning"):
            p = phases.get(name)
            out[name] = float(p.get().durationMs()) if p.isDefined() else 0.0
        return out


def sql_total(group: dict, node: str, metric: str) -> float:
    """Sum of one metric over every plan node whose name starts with ``node``."""
    return sum(
        parse_sql_metric(v)
        for n, m, v in group["sql"]
        if n.startswith(node) and m == metric
    )


def sql_max_stage(group: dict, node: str, metric: str) -> int | None:
    """Stage id where ``metric`` peaked on ``node`` (from Spark's max note)."""
    for n, m, v in group["sql"]:
        if n.startswith(node) and m == metric:
            hit = _MAX_AT.search(v)
            if hit:
                return int(hit.group(1))
    return None


class Tracer:
    """In-memory spans; a no-op when ``enabled`` is false."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.t0 = time.perf_counter()
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.probe: SparkProbe | None = None

    def attach(self, spark) -> None:
        if self.enabled:
            self.probe = SparkProbe(spark)

    @contextlib.contextmanager
    def span(self, module: str, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "parent": self._stack[-1] if self._stack else None,
            "module": module,
            "name": name,
            "start_s": time.perf_counter() - self.t0,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        probe = self.probe
        group_id = f"{module}:{name}#{rec['id']}"
        if probe is not None:
            prev = probe.sc.getLocalProperty("spark.jobGroup.id")
            first_exec = probe.n_executions()
            probe.sc.setJobGroup(group_id, group_id, False)
        try:
            yield rec
        finally:
            rec["end_s"] = time.perf_counter() - self.t0
            self._stack.pop()
            if probe is not None:
                if prev is None:
                    probe.sc._jsc.clearJobGroup()
                else:
                    probe.sc.setJobGroup(prev, prev, False)
                rec["spark"] = probe.group(group_id, first_exec)

    def dump(self) -> list[dict]:
        """Spans with duration, self time (duration minus child spans) and
        a summary of their Spark jobs instead of the raw metric strings."""
        out = []
        for s in self.spans:
            d = dict(s)
            d["dur_s"] = s["end_s"] - s["start_s"]
            children = sum(
                c["end_s"] - c["start_s"] for c in self.spans if c["parent"] == s["id"]
            )
            d["self_s"] = d["dur_s"] - children
            g = d.pop("spark", None)
            if g is not None:
                stages = g["stages"]
                d["spark"] = {
                    "jobs": g["jobs"],
                    "stages": len(stages),
                    "tasks": sum(st["tasks"] for st in stages),
                    "task_s": sum(st["run_s"] for st in stages),
                    "gc_s": sum(st["gc_s"] for st in stages),
                    "shuffle_write_bytes": sum(st["shuffle_write_bytes"] for st in stages),
                }
            out.append(d)
        return out
