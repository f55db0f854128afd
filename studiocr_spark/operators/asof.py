"""Temporal joins Spark lacks as built-ins: as-of join and bucketed
range join.

As-of join: for every left row, the most recent right row at or
before it, per key (event attribution, price lookup, config-at-time).

Spark has no ASOF JOIN operator; the naive formulation is a range theta
join (quadratic per key) or a join + window re-rank (two shuffles and a
blown-up intermediate). This implements the scalable union-tag shape:

    union(left tagged 1, right tagged 0)
      -> ONE shuffle on the key
      -> ONE per-key sort on (time, tag)
      -> last(carried right struct, ignorenulls) over the preceding rows
      -> keep left rows

Cost is a single hash partitioning plus a partition-local sort — the
same wire bytes as a groupBy over the union, no matter how wide the
time skew — and left rows with no prior right row keep a null carry
(LEFT-join semantics). Right rows tagged 0 sort BEFORE left rows at an
equal timestamp, giving the inclusive ``l.ts >= r.ts`` semantics of
DuckDB's ``ASOF LEFT JOIN`` (the oracle for the gate entry).

Determinism: at most one right row per (key, time) must survive into
the union — otherwise "the" last row at a timestamp is partition-order
dependent. So the right side is first collapsed to one row per
(key, time): the one maximizing its payload, first ``right_cols``
column first. That pre-aggregate is the plan's second exchange, on
(key, time); its map-side partial aggregate collapses ties before it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# range_join dials: 10-minute time buckets (the width of the fixed
# 600 s window of the range_join_events entry, so an interval spans at
# most two buckets) and 8 salts per bucket
RANGE_BUCKET_SECONDS = 600
RANGE_SALT_BUCKETS = 8


def asof_join(
    left: DataFrame,
    right: DataFrame,
    right_cols: list[str] | None = None,
) -> DataFrame:
    """Left as-of-backward join (inclusive) on ``ts`` per ``user_id``:
    every ``left`` row gains ``asof_<c>`` for each ``c`` in
    ``right_cols``, taken from the latest ``right`` row with the same
    ``user_id`` and ``right.ts <= left.ts``; nulls when no such row
    exists.

    Right rows that tie on (``user_id``, ``ts``) first collapse to the
    one maximizing its payload struct in ``right_cols`` order — a total
    order, so the carry is deterministic regardless of partition order;
    fully identical rows are interchangeable by definition. Payload
    columns must be orderable types (no maps)."""
    if right_cols is None:
        right_cols = [
            c for c in right.columns if c not in ("ts", "user_id")
        ]
    if not right_cols:
        raise ValueError(
            "asof_join needs at least one right payload column beyond "
            "(ts, user_id): a payload-free right side has nothing to "
            "carry, and nothing to tie-break on"
        )
    # Join-semantics parity: a right row with NULL ts can never satisfy
    # l.ts >= r.ts, and a NULL key never equi-matches — but ascending
    # orderBy sorts nulls FIRST and window partitionBy groups nulls
    # TOGETHER, so unfiltered they would be carried into left rows.
    right = right.filter(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
    )
    # one whole-row struct per (key, ts): max_by on a TOTAL order —
    # partial-agg-friendly (map-side combine collapses ties before the
    # (key, ts) exchange). The ordering struct is the whole payload,
    # first right column leading: ordering by one column alone would
    # leave rows that ALSO tie on it resolved partition-order-
    # dependently. The ordering values sit inside a struct because
    # max_by IGNORES rows whose ordering value is NULL, which would
    # silently drop a (key, ts) whose only row carries a null first
    # column — a struct with null fields is never null itself (null
    # fields sort lowest).
    row = F.struct(*[F.col(c) for c in right_cols])
    picked = right.groupBy("user_id", "ts").agg(
        F.max_by(row, row).alias("_row")
    )
    r = picked.select(
        "user_id",
        "ts",
        F.lit(0).alias("_tag"),
        F.col("_row").alias("_carry"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c)
          for c in left.columns if c not in ("ts", "user_id")],
    )
    l_extra = [c for c in left.columns if c not in ("ts", "user_id")]
    l = left.select(
        "user_id",
        "ts",
        F.lit(1).alias("_tag"),
        F.lit(None).cast(
            r.schema["_carry"].dataType
        ).alias("_carry"),
        *l_extra,
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "_tag")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = r.unionByName(l).withColumn(
        "_last", F.last("_carry", ignorenulls=True).over(w)
    )
    return filled.filter(F.col("_tag") == 1).select(
        "user_id",
        "ts",
        *l_extra,
        *[F.col("_last").getField(c).alias(f"asof_{c}") for c in right_cols],
    )


def range_join(points: DataFrame, intervals: DataFrame) -> DataFrame:
    """Point-in-interval join (half-open: ``start <= ts < end``, with
    ``ts`` a ``points`` column and ``start``/``end`` ``intervals``
    columns) without a quadratic range theta join.

    Catalyst plans a bare inequality join as BroadcastNestedLoopJoin or
    a cartesian — O(|points| x |intervals|). The scale shape here is
    interval bucketing: each interval explodes into the fixed-width
    time buckets it covers, each point lives in exactly ONE bucket, and
    candidates meet on a bucket equi-join, then the exact range
    predicate filters. Because a point has one bucket, every qualifying
    (point, interval) pair meets exactly once — no dedup pass.
    ``RANGE_BUCKET_SECONDS`` trades shuffle fan-out (intervals emit
    span/RANGE_BUCKET_SECONDS rows) against candidate selectivity; it
    sits near the median interval length.

    Skew: the equi-join key is the time bucket alone, so a bursty stream
    would put a whole burst (plus every interval overlapping it) into
    ONE reducer. The join therefore salts: each point hashes its full
    row into one of ``RANGE_SALT_BUCKETS`` salts, each interval-bucket
    row replicates across ALL salts, and the join key becomes (bucket,
    salt) — a burst spreads over ``RANGE_SALT_BUCKETS`` reducers at the
    cost of ``RANGE_SALT_BUCKETS``× interval fan-out (cheap: intervals
    are the small side of a point-in-interval join).

    Output: all point columns plus every interval column (interval
    columns keep their names; disambiguate before calling if they
    clash).
    """
    keys = ["_bucket", "_salt"]

    def epoch(c: str):
        # TIMESTAMP_NTZ has no direct long cast; unix_timestamp is
        # deterministic under the session's pinned-UTC timezone
        return F.unix_timestamp(F.col(c))

    p = points.withColumn(
        "_bucket", F.floor(epoch("ts") / RANGE_BUCKET_SECONDS)
    )
    i = intervals.withColumn(
        "_bucket",
        F.explode(
            F.sequence(
                F.floor(epoch("start") / RANGE_BUCKET_SECONDS),
                F.floor(epoch("end") / RANGE_BUCKET_SECONDS),
            )
        ),
    )
    # hash the WHOLE point row: a burst shares its timestamp, so
    # hashing ts alone would put the burst back on one reducer
    p = p.withColumn(
        "_salt",
        F.pmod(
            F.hash(*[F.col(c) for c in points.columns]),
            F.lit(RANGE_SALT_BUCKETS),
        ),
    )
    i = i.withColumn(
        "_salt",
        F.explode(F.sequence(F.lit(0), F.lit(RANGE_SALT_BUCKETS - 1))),
    )
    return (
        p.join(i, keys)
        .filter(
            (F.col("ts") >= F.col("start")) & (F.col("ts") < F.col("end"))
        )
        .drop(*keys)
    )
