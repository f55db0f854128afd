"""Explicit skew handling for hot keys (north_rule mandate).

AQE's skew-join splitting (enabled in session.py) covers joins at
runtime; this module covers the AGGREGATION side, where one hot key
(a crawl host with 10^8 pages, the term "the" in an inverted index)
would otherwise funnel through a single reducer:

``salted_aggregate`` is a generic two-phase aggregation: phase 1 groups
by (key, salt) so the hot key's partial aggregation spreads over
``N_SALTS`` reducers, phase 2 merges the partials. Works for any
algebraic aggregate given its (partial, merge) expression pair. The
``domain_stats`` entry runs it against a plain GROUP BY oracle.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

N_SALTS = 8


def salted_aggregate(
    df: DataFrame,
    key_cols: list[str],
    partial_aggs: list[Column],
    merge_aggs: Callable[[], list[Column]],
) -> DataFrame:
    """Two-phase salted aggregation.

    ``partial_aggs``: aggregate expressions for phase 1 (must alias their
    outputs); ``merge_aggs``: callable producing the phase-2 expressions
    that combine the phase-1 columns (sum of counts, max of maxes, ...).
    The salt is a uniform hash of the full row, so the hot key's rows
    spread evenly.
    """
    salted = df.withColumn(
        "_salt", F.pmod(F.xxhash64(*df.columns), F.lit(N_SALTS))
    )
    phase1 = salted.groupBy(*key_cols, "_salt").agg(*partial_aggs)
    return phase1.groupBy(*key_cols).agg(*merge_aggs())
