"""Generate BENCH/PLANS.md: physical-plan vitals for every gate entry.

One row per ``__spark_entry__.queries()`` entry: shuffle-exchange count,
join strategies chosen, whether any filter pushed into a parquet scan,
and hazard flags (CartesianProduct, per-row PythonUDF in the plan). The
table is the at-a-glance answer to "would this plan survive 100x" — and
a diffable artifact, so a regression that adds a shuffle or drops a
broadcast shows up in review even before the plan-pin tests run.

Usage: python tools/plan_report.py <sf_dir>
"""

from __future__ import annotations

import os
import re
import sys
from datetime import datetime, timezone

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    if len(sys.argv) < 2:
        print("usage: python tools/plan_report.py <sf_dir>")
        raise SystemExit(2)
    sf_dir = sys.argv[1]

    # plan inspection must not execute the ANN entries' oracle-dump
    # writes (round-5 ADVICE: an eager dump here could interleave with
    # a concurrent check_oracle run) — and the skipped variant has the
    # same physical plan for the operator under inspection
    os.environ["SPARK_GRAFT_ANN_SKIP_DUMP"] = "1"

    import __spark_entry__ as entry
    from studiocr_spark.plans.explain import (
        formatted_plan,
        pushed_filters,
        shuffle_exchanges,
    )
    from studiocr_spark.session import get_spark

    spark = get_spark(
        app_name="plan-report", master="local[4]", shuffle_partitions=4
    )

    # Entries whose plans hide exchanges behind lazy localCheckpoints:
    # re-derive the FULL count from the same operator built with its
    # checkpoint escape hatch off (round-6, verdict task: the vitals
    # table shows true totals, not just the post-checkpoint tail).
    # The uncheckpointed build is the whole logical pipeline in one
    # visible plan; its exchange count is what the checkpointed entry
    # actually pays across its materialization steps.
    def _full_builders():
        from pyspark.sql import functions as F

        from studiocr_spark.operators.dedup import (
            line_dedup as _ld,
            minhash_lsh_dedup,
            ngram_jaccard_pairs,
            simhash_near_dups,
        )
        from studiocr_spark.operators.textstats import words_of

        def _line_dedup_full(spark, sf):
            docs = entry._t(spark, sf, "documents")
            w = words_of(F.col("text"))
            n_chunks = F.ceil(F.size(w) / F.lit(5)).cast("int")
            chunks = F.transform(
                F.sequence(F.lit(0), F.greatest(n_chunks - 1, F.lit(0))),
                lambda i: F.array_join(F.slice(w, i * 5 + 1, 5), " "),
            )
            lined = docs.select(
                "doc_id", F.array_join(chunks, "\n").alias("text")
            )
            return _ld(lined, min_doc_freq=2)

        return {
            "dedup_minhash_lsh": lambda spark, sf: minhash_lsh_dedup(
                entry._t_wide(spark, sf, "documents"),
                checkpoint_candidates=False,
            ),
            "dedup_simhash_pairs": lambda spark, sf: simhash_near_dups(
                entry._t_wide(spark, sf, "documents"),
                checkpoint_banded=False,
            ),
            "dedup_ngram_jaccard": lambda spark, sf: ngram_jaccard_pairs(
                entry._t(spark, sf, "documents"),
                checkpoint_candidates=False,
            ),
            "line_dedup": _line_dedup_full,
        }

    full_builders = _full_builders()
    rows = []
    for name, fn in entry.queries().items():
        try:
            df = fn(spark, sf_dir)
            plan = formatted_plan(df)
        except Exception as exc:  # a broken entry must be visible, not skipped
            rows.append((name, "ERROR", "", "", f"{type(exc).__name__}"))
            continue
        n_ex = len(shuffle_exchanges(df))
        ex_cell = str(n_ex)
        if name in full_builders:
            try:
                full = full_builders[name](spark, sf_dir)
                n_full = len(shuffle_exchanges(full))
                ex_cell = f"{n_ex} ({n_full} incl. checkpointed)"
            except Exception as exc:
                ex_cell = f"{n_ex} (full: {type(exc).__name__})"
        joins = sorted(
            {
                m
                for m in re.findall(
                    r"\b(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|"
                    r"BroadcastNestedLoopJoin|CartesianProduct)\b",
                    plan,
                )
            }
        )
        pushed = "yes" if any(
            p not in ("[]", "") for p in pushed_filters(df)
        ) else ""
        hazards = []
        if "CartesianProduct" in plan:
            hazards.append("CARTESIAN")
        # per-row Python UDFs are the slow path; Arrow batches are fine
        if re.search(r"\bBatchEvalPython\b", plan):
            hazards.append("ROW-PYUDF")
        rows.append(
            (name, ex_cell, "+".join(j.replace("Join", "") for j in joins),
             pushed, " ".join(hazards))
        )

    stamp = datetime.now(timezone.utc).isoformat()
    out = [
        "# BENCH/PLANS — physical-plan vitals per gate entry",
        "",
        f"Generated {stamp} by tools/plan_report.py at "
        f"{os.path.basename(os.path.normpath(sf_dir))}.",
        "Exchanges = shuffle exchanges in the submitted plan (broadcast",
        "exchanges excluded); hazards flag CartesianProduct and",
        "row-at-a-time Python UDFs (Arrow/pandas UDFs do not flag).",
        "Lazily-checkpointed subplans (minhash/simhash bands, candidate",
        "pairs) hide their upstream exchanges from explain — those",
        "entries also show '(N incl. checkpointed)': the exchange count",
        "of the same operator built with its checkpoint escape hatch",
        "off. That single-plan equivalent re-counts a shared subplan",
        "once PER REFERENCE (checkpointing exists precisely to run it",
        "once), so N is an upper bound on what the entry pays; the",
        "per-step budgets are pinned in tests/test_plans.py.",
        "",
        "| entry | exchanges | joins | pushdown | hazards |",
        "|---|---|---|---|---|",
    ]
    for name, n_ex, joins, pushed, hazards in rows:
        out.append(f"| {name} | {n_ex} | {joins} | {pushed} | {hazards} |")
    path = os.path.join(REPO, "BENCH", "PLANS.md")
    with open(path, "w") as f:
        f.write("\n".join(out) + "\n")
    print(f"wrote {path} ({len(rows)} entries)")
    bad = [r for r in rows if r[4] or r[1] == "ERROR"]
    for r in bad:
        print("HAZARD", r)
    spark.stop()


if __name__ == "__main__":
    main()
