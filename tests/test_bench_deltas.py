"""bench.py's regression guard must watch the extract protocol times.

Round-4 post-mortem: the extract docs/sec halved in the driver's bench
artifact and `_deltas` said nothing because it iterated only the query
timings dict — the guard was blind to the project's headline metric.
These tests pin the round-5 fix with a fabricated previous-round file
(no Spark involved).
"""

from __future__ import annotations

import importlib.util
import json
import os
import shutil
import sys


def _load_bench():
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "bench_under_test", os.path.join(repo, "bench.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _bench_with_artifacts(tmp_path, monkeypatch, artifacts):
    """bench.py copied into ``tmp_path`` next to fabricated previous-round
    files (name -> JSON object), then imported from there."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    shutil.copy(os.path.join(repo, "bench.py"), tmp_path / "bench.py")
    for name, obj in artifacts.items():
        (tmp_path / name).write_text(json.dumps(obj))
    # bench.py prepends its own directory to sys.path on import
    monkeypatch.setattr(sys, "path", list(sys.path))
    spec = importlib.util.spec_from_file_location(
        "bench_copy", tmp_path / "bench.py"
    )
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)
    return bench


def test_deltas_flags_extract_regression(monkeypatch, capsys):
    bench = _load_bench()
    prev = {
        "queries": {"q1": 1.0},
        "extract": {"sec": 10.0, "pipeline_sec": 20.0},
    }
    # point the previous-round loader at a fabricated artifact
    monkeypatch.setattr(
        bench, "_prev_round", lambda: ("BENCH_rTEST.json", prev)
    )
    out = bench._deltas(
        {"q1": 1.1}, extract={"sec": 21.0, "pipeline_sec": 19.0}
    )
    # q1's 1.1x is under the threshold, pipeline_sec improved slightly
    assert out["regressions"] == 1 and out["improvements"] == 0
    assert (out["worst"], out["worst_ratio"]) == ("extract.sec", 2.1)
    err = capsys.readouterr().err
    assert "BENCH REGRESSION extract.sec: 10.0s -> 21.0s (2.1x)" in err
    assert "q1" not in err and "pipeline_sec" not in err


def test_deltas_flags_extract_improvement_and_handles_absence(monkeypatch):
    bench = _load_bench()
    prev = {"queries": {"q1": 1.0}}  # old artifact without extract block
    monkeypatch.setattr(
        bench, "_prev_round", lambda: ("BENCH_rTEST.json", prev)
    )
    # no extract in the previous round -> no extract rows, no crash
    out = bench._deltas({"q1": 0.5}, extract={"sec": 5.0})
    assert out["improvements"] == 1 and out["regressions"] == 0
    assert (out["worst"], out["worst_ratio"]) == ("q1", 0.5)
    prev2 = {
        "queries": {},
        "extract": {"sec": 10.0, "pipeline_sec": 20.0},
    }
    monkeypatch.setattr(
        bench, "_prev_round", lambda: ("BENCH_rTEST.json", prev2)
    )
    out2 = bench._deltas({}, extract={"sec": 6.0, "pipeline_sec": 9.0})
    assert out2["improvements"] == 2
    assert (out2["worst"], out2["worst_ratio"]) == ("extract.sec", 0.6)


def test_result_line_fits_the_reader_tail(monkeypatch, capsys):
    """Every headline query and both extract times regressed, at
    seven-digit timings: the result line still fits the 2000-char tail
    its reader parses, and stderr still names every regressed query."""
    bench = _load_bench()
    prev = {
        "queries": {q: 0.001 for q in bench.HEADLINE},
        "extract": {"sec": 0.001, "pipeline_sec": 0.001},
    }
    monkeypatch.setattr(
        bench, "_prev_round", lambda: ("BENCH_r99.json", prev)
    )
    slow = 9999999.999
    line = bench._result_line(
        {q: slow for q in bench.HEADLINE}, slow, slow
    )
    assert len(line) <= 2000, len(line)
    deltas = json.loads(line)["deltas"]
    assert deltas["regressions"] == len(bench.HEADLINE) + 2
    err = capsys.readouterr().err
    assert all(f"BENCH REGRESSION {q}:" in err for q in bench.HEADLINE)


def test_deltas_survive_poisoned_previous_round(tmp_path, monkeypatch):
    """A newest BENCH_r*.json recorded with ``"parsed": null`` (what a
    round records when bench.py's JSON line overflowed the reader's tail
    buffer) means "no previous round" — `_deltas` must return None, not
    crash on ``parsed.get``."""
    bench = _bench_with_artifacts(
        tmp_path,
        monkeypatch,
        {
            "BENCH_r01.json": {"parsed": {"queries": {"q1": 1.0}}},
            "BENCH_r02.json": {"parsed": None},
        },
    )

    assert bench._prev_round() is None
    assert bench._deltas({"q1": 5.0}, extract={"sec": 1.0}) is None


def test_deltas_skip_a_baseline_from_another_core_count(
    tmp_path, monkeypatch, capsys
):
    """A baseline recorded at another core count (top level of the
    driver's wrapper, or inside ``parsed``) yields no ratios and no
    regression lines, only the reason it was skipped; one recorded at
    this run's core count is still compared."""
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "4")
    prev = {"queries": {"q1": 1.0}, "extract": {"sec": 1.0}}
    for artifact in (
        {"cpus": 32, "parsed": prev},
        {"parsed": {**prev, "cpus": 32}},
    ):
        bench = _bench_with_artifacts(
            tmp_path, monkeypatch, {"BENCH_r07.json": artifact}
        )
        out = bench._deltas({"q1": 9.0}, extract={"sec": 9.0})
        assert out == {"baseline": "BENCH_r07.json", "skipped": "cpus 32 != 4"}
        assert "BENCH REGRESSION" not in capsys.readouterr().err

    bench = _bench_with_artifacts(
        tmp_path, monkeypatch, {"BENCH_r07.json": {"cpus": 4, "parsed": prev}}
    )
    out = bench._deltas({"q1": 9.0}, extract={"sec": 9.0})
    assert out["regressions"] == 2 and "skipped" not in out
    assert "BENCH REGRESSION q1:" in capsys.readouterr().err
