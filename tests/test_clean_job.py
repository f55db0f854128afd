"""jobs/clean_submit.py end-to-end: runs, writes both sinks, and is
deterministic across re-runs (salted-hash sampling). The job runs in
process on the session fixture, as the extract-job tests do."""

from __future__ import annotations

import json
import os

from .conftest import sf_dir


def _run(job, argv, capsys) -> dict:
    """Run the job and parse its JSON summary line."""
    capsys.readouterr()  # drop anything printed before this run
    assert job.main(argv) == 0
    return json.loads(capsys.readouterr().out.strip().splitlines()[-1])


def test_clean_submit_runs_and_is_deterministic(clean_job, tmp_path, capsys):
    out = str(tmp_path / "clean")
    argv = [
        "--input", os.path.join(sf_dir("0.001"), "documents.parquet"),
        "--output", out,
        "--sample", "0.5",
        "--shard-budget", "300",
        "--shard-buckets", "4",
        "--master", "local[4]",
    ]

    first = _run(clean_job, argv, capsys)
    assert first["docs_in"] == 500
    assert 0 < first["docs_kept"] < 500
    assert first["n_shards"] > 0 and first["n_tokens"] > 0
    assert os.path.isdir(f"{out}/clean_docs") and os.path.isdir(f"{out}/shards")

    second = _run(clean_job, argv, capsys)  # deterministic: identical summary
    assert second == first


def test_clean_submit_curation_flags(clean_job, tmp_path, capsys):
    """Round-4 stages: line dedup, per-source cap, and decontamination
    compose into the job and stay deterministic across re-runs."""
    out = str(tmp_path / "clean2")
    eval_dir = str(tmp_path / "eval")
    # eval set = a copy of some documents (guaranteed 3-gram overlap)
    import duckdb

    duckdb.sql(
        f"COPY (SELECT doc_id, text FROM read_parquet("
        f"'{sf_dir('0.001')}/documents.parquet') WHERE doc_id < 5) "
        f"TO '{eval_dir}' (FORMAT PARQUET)"
    )
    argv = [
        "--input", os.path.join(sf_dir("0.001"), "documents.parquet"),
        "--output", out,
        "--sample", "0.9",
        "--shard-budget", "300",
        "--shard-buckets", "4",
        "--line-dedup-min-df", "2",
        "--max-per-source", "20",
        "--decontam-eval", eval_dir,
        "--master", "local[4]",
    ]

    first = _run(clean_job, argv, capsys)
    assert first["docs_in"] == 500
    assert 0 < first["docs_kept"] < 500
    second = _run(clean_job, argv, capsys)
    assert second == first
