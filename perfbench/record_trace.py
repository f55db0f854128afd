#!/usr/bin/env python3
"""Write the committed traced-run artifact, ``perfbench/TRACE_local<N>.json``.

Run from the repository root::

    python3 perfbench/record_trace.py --seed 7 --seconds 10

For each workload it runs the benchmark untraced and then traced on the same
seed, each in its own process, and records:

- every per-layer metric of the traced run, grouped by module;
- the traced run's spans;
- the tracing overhead: traced minus untraced, per timed operation and for
  the whole run;
- a split of the timed walls by layer (``splits`` below), including whether
  about half of the extract wall lies outside the decode kernel.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from run import CORPUS_DOCS, NPROC  # noqa: E402


def _run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
    ]
    proc = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or len(lines) < 2:
        raise SystemExit(f"{' '.join(cmd)} exited {proc.returncode}\n{proc.stderr[-2000:]}")
    return {"report": json.loads(lines[-2])["report"], "result": json.loads(lines[-1])}


def _op_walls(report: dict) -> list[float]:
    """Walls of the timed operations (search: the per-type medians)."""
    if report["workload"] == "extract_decode":
        return report["extract_wall_s"]
    if report["workload"] == "extract_job":
        return report["job_wall_s"]
    return [report[f"search.{k}_p50_ms"] / 1e3 for k in ("global", "bm25", "indoc")]


def _by_module(layers: dict) -> dict:
    out: dict[str, dict] = {}
    for name, value in sorted(layers.items()):
        module, _, metric = name.rpartition(".")
        if module.startswith("operators.search."):
            module, kind = module.rsplit(".", 1)
            metric = f"{kind}.{metric}"
        out.setdefault(module, {})[metric] = value
    return out


def _decode_split(report: dict, layers: dict) -> dict:
    """extract_decode wall and the extract stage's task time.

    The task time splits into the decode kernel (timed in one process), the
    rest of the Python side (Arrow to pandas, the UDF's row building, pandas
    to Arrow) and the JVM side (scan, Arrow exchange, noop sink).
    """
    docs = report["corpus"]["docs"]
    wall = statistics.median(report["extract_wall_s"])
    kernel_ms = layers["sources.kernel_ms_per_doc"]
    task_ms = layers["operators.extract.task_ms_per_doc"]
    stage_wall = layers["operators.extract.stage_wall_s"]
    # kernel time spread over every core, as a share of the timed wall
    kernel_wall = kernel_ms * docs / 1e3 / NPROC
    outside = 1.0 - kernel_wall / wall
    return {
        "extract_wall_s": wall,
        "kernel_wall_equiv_s": kernel_wall,
        "extract_stage_outside_kernel_wall_equiv_s": (task_ms - kernel_ms) * docs / 1e3 / NPROC,
        "outside_extract_stage_s": wall - stage_wall,
        "task_ms_per_doc": {
            "kernel": kernel_ms,
            "python_outside_kernel": layers["operators.extract.python_outside_kernel_ms_per_doc"],
            "jvm": layers["operators.extract.jvm_ms_per_doc"],
        },
        "kernel_share_of_task_time": kernel_ms / task_ms,
        "share_of_wall_outside_kernel": outside,
        "half_outside_kernel": (
            f"reproduced: {outside:.0%} of the wall lies outside the kernel"
            if 0.35 <= outside <= 0.65
            else f"not reproduced: {outside:.0%} of the wall lies outside the kernel"
        ),
    }


def _job_split(layers: dict) -> dict:
    """The wall of the run's last production job: extract, incremental
    writes, index."""
    job = layers["jobs.extract_submit_s"]
    run = layers["streaming.incremental.run_s"]
    seg = layers["operators.index.write_segment_s"]
    extract_stage = layers["operators.extract.stage_wall_s"]
    return {
        "job_wall_s": job,
        "extract_stage_s": extract_stage,
        "incremental_writes_and_audit_s": run - extract_stage,
        "index_segment_write_s": seg,
        "other_s": job - run - seg,
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--seconds", type=int, default=10)
    args = ap.parse_args()

    artifact = {"nproc": NPROC, "seed": args.seed, "seconds": args.seconds, "workloads": {}}
    for workload in sorted(CORPUS_DOCS):
        plain = _run(workload, args.seed, args.seconds, 0)
        traced = _run(workload, args.seed, args.seconds, 1)
        trace_file = os.path.join(".perfbench_out", f"trace-{workload}-{args.seed}.json")
        with open(trace_file) as f:
            spans = json.load(f)["spans"]
        layers = traced["report"]["per_layer"]
        entry = {
            "untraced": plain["report"],
            "traced_result": traced["result"],
            "per_layer": _by_module(layers),
            "tracing_overhead": {
                "op_wall_median_s": statistics.median(_op_walls(traced["report"]))
                - statistics.median(_op_walls(plain["report"])),
                "run_wall_s": traced["report"]["run_wall_s"] - plain["report"]["run_wall_s"],
            },
            "splits": (
                {"extract_decode": _decode_split(traced["report"], layers)}
                if workload == "extract_decode"
                else {"extract_submit": _job_split(layers)}
            ),
            "spans": spans,
        }
        artifact["workloads"][workload] = entry
    out = os.path.join(HERE, f"TRACE_local{NPROC}.json")
    with open(out, "w") as f:
        json.dump(artifact, f, indent=1, sort_keys=True)
        f.write("\n")
    print(out)
    return 0


if __name__ == "__main__":
    sys.exit(main())
