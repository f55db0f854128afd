"""As-of join: inclusive backward semantics, LEFT nulls, one shuffle."""

from __future__ import annotations

from pyspark.sql import functions as F

from studiocr_spark.operators.asof import asof_join


def _frames(spark):
    left = spark.createDataFrame(
        [
            (1, 5, "a"),   # before any right row -> nulls
            (1, 10, "b"),  # equal ts -> inclusive match at 10
            (1, 17, "c"),  # between 15 and 30 -> match 15
            (2, 50, "d"),  # other key
            (3, 9, "e"),   # key with no right rows at all
        ],
        "user_id long, ts long, tag string",
    )
    right = spark.createDataFrame(
        [(1, 10, 100.0), (1, 15, 150.0), (1, 30, 300.0), (2, 49, 490.0)],
        "user_id long, ts long, v double",
    )
    return left, right


def test_asof_backward_inclusive(spark):
    left, right = _frames(spark)
    got = {
        r.tag: r.asof_v
        for r in asof_join(left, right).collect()
    }
    assert got == {"a": None, "b": 100.0, "c": 150.0, "d": 490.0, "e": None}


def test_asof_carries_nulls_inside_struct(spark):
    """A right row whose carried VALUE is null must still win the as-of
    (the struct carry distinguishes 'no row' from 'row with null')."""
    left = spark.createDataFrame([(1, 20, "x")], "user_id long, ts long, tag string")
    right = spark.createDataFrame(
        [(1, 10, 100.0), (1, 15, None)], "user_id long, ts long, v double"
    )
    row = asof_join(left, right).first()
    assert row.asof_v is None  # the ts=15 null-valued row, not ts=10


def test_asof_ignores_null_right_timestamps_and_keys(spark):
    """DuckDB ASOF: `l.ts >= r.ts` is never true for NULL ts, and a NULL
    key never equi-matches. Unfiltered, Spark's nulls-first sort would
    attribute a null-ts right row's carry to EVERY left row of its key,
    and null keys would group together in the window partition."""
    left = spark.createDataFrame(
        [(1, 20, "x"), (None, 20, "y")],
        "user_id long, ts long, tag string",
    )
    right = spark.createDataFrame(
        [(1, None, 999.0), (None, 10, 888.0), (1, 10, 100.0)],
        "user_id long, ts long, v double",
    )
    got = {
        r.tag: r.asof_v
        for r in asof_join(left, right).collect()
    }
    # null-ts right row never wins; null-key left row matches nothing
    assert got == {"x": 100.0, "y": None}


def test_asof_single_shuffle(spark):
    from studiocr_spark.plans.explain import shuffle_exchanges

    left, right = _frames(spark)
    # union-tag shape: one exchange (hash on the key) plus ONE for the
    # (key, ts) max_by pre-agg on the right side, never a join
    dfd = asof_join(left, right)
    assert len(shuffle_exchanges(dfd)) == 2


def test_asof_dedup_right_breaks_ties_deterministically(spark):
    """Round-4: multiple right rows at the same (key, ts) — the max_by
    pre-agg keeps the row maximizing the payload (first right
    column first), whatever partition order the union saw. A 50-way
    repartition shake makes the old partition-order dependence visible
    if it regresses."""
    left = spark.createDataFrame(
        [(1, 20, "x")], "user_id long, ts long, tag string"
    )
    dup = spark.createDataFrame(
        [(1, 10, i * 1.0, f"r{i}") for i in range(40)],
        "user_id long, ts long, v double, src string",
    ).repartition(50)
    row = asof_join(left, dup).first()
    assert (row.asof_v, row.asof_src) == (39.0, "r39")
    # a right side unique by construction passes through unchanged
    l2, r2 = _frames(spark)
    got = {r.tag: r.asof_v for r in asof_join(l2, r2).collect()}
    assert got == {"a": None, "b": 100.0, "c": 150.0, "d": 490.0, "e": None}


def test_asof_dedup_right_total_order_on_tiebreak_ties(spark):
    """Round-5 ADVICE fix: right rows that tie on (key, ts, first right
    column) too must still resolve deterministically — the max_by
    ordering is the full payload struct (a total order), not the first
    column alone."""
    left = spark.createDataFrame(
        [(1, 20, "x")], "user_id long, ts long, tag string"
    )
    # all 40 rows share v=7.0 (the default tie-break); src differs
    dup = spark.createDataFrame(
        [(1, 10, 7.0, f"r{i:02d}") for i in range(40)],
        "user_id long, ts long, v double, src string",
    ).repartition(50)
    rows = {
        asof_join(left, dup).first().asof_src
        for _ in range(3)
    }
    assert rows == {"r39"}  # max over (v, src): lexicographic max src


def test_asof_dedup_right_requires_payload_columns(spark):
    """A right side with no columns beyond (ts, user_id) used to IndexError
    on right_cols[0]; now it raises a clear ValueError."""
    import pytest

    left = spark.createDataFrame([(1, 20)], "user_id long, ts long")
    bare = spark.createDataFrame([(1, 10)], "user_id long, ts long")
    with pytest.raises(ValueError, match="right payload column"):
        asof_join(left, bare)


def test_range_join_semantics(spark):
    """Half-open [start, end); multi-bucket intervals (2 h spans over
    10-minute buckets); each qualifying pair appears exactly once (a
    point has one bucket)."""
    from studiocr_spark.operators.asof import range_join

    points = spark.createDataFrame(
        [(1, "2020-01-01 00:10:00"), (2, "2020-01-01 02:00:00"),
         (3, "2020-01-01 03:30:00")],
        "point_id long, ts string",
    ).withColumn("ts", F.to_timestamp("ts"))
    intervals = spark.createDataFrame(
        [
            # spans 13 ten-minute buckets
            (10, "2020-01-01 00:00:00", "2020-01-01 02:00:00"),
            # exactly at point 2's ts -> inclusive start
            (20, "2020-01-01 02:00:00", "2020-01-01 02:30:00"),
        ],
        "interval_id long, start string, end string",
    ).withColumn("start", F.to_timestamp("start")).withColumn(
        "end", F.to_timestamp("end")
    )
    got = sorted(
        (r.point_id, r.interval_id)
        for r in range_join(points, intervals).collect()
    )
    # point 1 in interval 10; point 2 NOT in 10 (end exclusive) but in
    # 20 (start inclusive); point 3 in nothing
    assert got == [(1, 10), (2, 20)]


def test_range_join_keyless_salts_bursts(spark, monkeypatch):
    """A burst (many points at ONE timestamp) must not land on a single
    reducer: the join key carries a salt derived
    from the whole point row, intervals replicate across salts, and the
    results are identical to the unsalted join (one salt: the bucket
    alone)."""
    from studiocr_spark.operators import asof
    from studiocr_spark.operators.asof import range_join

    points = spark.createDataFrame(
        [(i, "2020-01-01 00:10:00") for i in range(200)],
        "point_id long, ts string",
    ).withColumn("ts", F.to_timestamp("ts"))
    intervals = spark.createDataFrame(
        [
            (10, "2020-01-01 00:00:00", "2020-01-01 01:00:00"),
            (20, "2020-01-01 00:05:00", "2020-01-01 00:20:00"),
            (30, "2020-01-01 02:00:00", "2020-01-01 03:00:00"),
        ],
        "interval_id long, start string, end string",
    ).withColumn("start", F.to_timestamp("start")).withColumn(
        "end", F.to_timestamp("end")
    )
    salted = range_join(points, intervals)
    got = sorted((r.point_id, r.interval_id) for r in salted.collect())
    with monkeypatch.context() as m:
        m.setattr(asof, "RANGE_SALT_BUCKETS", 1)
        unsalted = range_join(points, intervals)
        ref = sorted((r.point_id, r.interval_id) for r in unsalted.collect())
    assert got == ref
    assert len(got) == 400  # every burst point in intervals 10 and 20
    # the shuffle key must include the salt (burst spreads over reducers)
    from studiocr_spark.plans.explain import formatted_plan

    plan = formatted_plan(salted)
    assert "_salt" in plan, plan
    # salt hashes the full row, not just the (shared) burst timestamp:
    # the 200 same-ts points spread across >1 distinct salt value
    n_salts = (
        points.withColumn(
            "_salt",
            F.pmod(F.hash(*[F.col(c) for c in points.columns]), F.lit(8)),
        )
        .select("_salt")
        .distinct()
        .count()
    )
    assert n_salts > 1


def test_range_join_is_equijoin_not_nlj(spark):
    from studiocr_spark.operators.asof import range_join
    from studiocr_spark.plans.explain import formatted_plan

    points = spark.createDataFrame(
        [(1, "2020-01-01 00:10:00")], "point_id long, ts string"
    ).withColumn("ts", F.to_timestamp("ts"))
    intervals = spark.createDataFrame(
        [(10, "2020-01-01 00:00:00", "2020-01-01 01:00:00")],
        "interval_id long, start string, end string",
    ).withColumn("start", F.to_timestamp("start")).withColumn(
        "end", F.to_timestamp("end")
    )
    plan = formatted_plan(range_join(points, intervals))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
