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
import sys


def _load_bench():
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "bench_under_test", os.path.join(repo, "bench.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


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
    import shutil

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    shutil.copy(os.path.join(repo, "bench.py"), tmp_path / "bench.py")
    (tmp_path / "BENCH_r01.json").write_text(
        json.dumps({"parsed": {"queries": {"q1": 1.0}}})
    )
    (tmp_path / "BENCH_r02.json").write_text(json.dumps({"parsed": None}))
    # bench.py prepends its own directory to sys.path on import
    monkeypatch.setattr(sys, "path", list(sys.path))
    spec = importlib.util.spec_from_file_location(
        "bench_poisoned", tmp_path / "bench.py"
    )
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)

    assert bench._prev_round() is None
    assert bench._deltas({"q1": 5.0}, extract={"sec": 1.0}) is None
