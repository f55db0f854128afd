"""Dump .explain("formatted") for gate entries into plans/r06/.

Usage: python tools/dump_plans.py <tag> <sf_dir> [entry ...]

Writes plans/r06/<entry>_<tag>.txt for each requested entry (default:
every ``queries()`` entry). Plan capture only — ANN dump writes are
skipped so inspection does not execute oracle plumbing.
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    if len(sys.argv) < 3:
        print("usage: python tools/dump_plans.py <tag> <sf_dir> [entry ...]")
        sys.exit(2)
    tag, sf_dir = sys.argv[1:3]
    only = set(sys.argv[3:])

    os.environ["SPARK_GRAFT_ANN_SKIP_DUMP"] = "1"

    import __spark_entry__ as entry
    from studiocr_spark.plans.explain import formatted_plan
    from studiocr_spark.session import get_spark

    out_dir = os.path.join(REPO, "plans", "r06")
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(app_name="dump-plans", shuffle_partitions=8)
    for name, fn in entry.queries().items():
        if only and name not in only:
            continue
        try:
            plan = formatted_plan(fn(spark, sf_dir))
        except Exception as exc:
            plan = f"ERROR {type(exc).__name__}: {exc}"
        with open(os.path.join(out_dir, f"{name}_{tag}.txt"), "w") as f:
            f.write(plan)
        print("wrote", name)
    spark.stop()


if __name__ == "__main__":
    main()
