"""Physical-plan introspection helpers.

Used by tests to pin the plans we designed for, so a regression that
silently de-optimizes (a lost broadcast, a filter that stops pushing into
the parquet scan, an extra shuffle) fails CI rather than melting a 100 TB
run. The checks parse ``explain('formatted')`` output — the same artifact
a human reads when tuning.
"""

from __future__ import annotations

import io
import re
from contextlib import redirect_stdout

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def shuffle_exchanges(df: DataFrame) -> list[str]:
    """The shuffle-exchange plan lines (hashpartitioning/rangepartitioning)."""
    plan = formatted_plan(df)
    out = []
    lines = plan.splitlines()
    for i, line in enumerate(lines):
        if re.search(r"\)\s+Exchange\b", line) and "Broadcast" not in line:
            out.append(line.strip())
    # 'Arguments: hashpartitioning...' details live in the operator detail
    # section; the operator headers above are enough to count/flag
    return out


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in formatted_plan(df)


def pushed_filters(df: DataFrame) -> list[str]:
    """PushedFilters lists from every parquet scan in the plan."""
    plan = formatted_plan(df)
    return re.findall(r"PushedFilters: \[([^\]]*)\]", plan)


def read_schemas(df: DataFrame) -> list[str]:
    """ReadSchema of every file scan (column-pruning evidence)."""
    plan = formatted_plan(df)
    return re.findall(r"ReadSchema: (\S+)", plan)
