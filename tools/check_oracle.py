"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry against its ``oracle_sql()`` via DuckDB at
a given sf dir and compares row count, column names, and order-insensitive
values EXACTLY the way the driver does: both results go through pandas
(``DataFrame.toPandas()`` / ``duckdb.df()``), columns sorted by name, and
every cell compared with its type class intact — no float rounding, no
int/float coercion. This is deliberately strict: DuckDB HUGEINT becomes
float64 in pandas while Spark's bigint stays int64, so an uncast
``sum(int)`` in an oracle FAILS here exactly like it fails at the driver.
Array-typed output columns raise (the driver's canonicalizer can't hash
lists) and are reported as failures. Usage::

    python tools/check_oracle.py <sf_dir> [query ...]
"""

from __future__ import annotations

import datetime
import decimal
import math
import os
import sys

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def _key(v):
    """Type-tagged canonical cell value. int64 != float64, by design."""
    if v is None:
        return ("null",)
    if isinstance(v, (bool, np.bool_)):
        return ("b", bool(v))
    if isinstance(v, (np.floating, float)):
        f = float(v)
        if math.isnan(f):
            return ("null",)
        return ("f", repr(f))
    if isinstance(v, (int, np.integer)):
        return ("i", int(v))
    if isinstance(v, decimal.Decimal):
        return ("dec", str(v))
    if isinstance(v, str):
        return ("s", v)
    if isinstance(v, (pd.Timestamp, datetime.datetime, datetime.date)):
        return ("t", str(v))
    if isinstance(v, bytes):
        return ("by", v)
    raise TypeError(
        f"unhashable/non-scalar cell of type {type(v).__name__}: {v!r} "
        "(the driver's canonicalizer rejects array columns — stringify "
        "them in the entry)"
    )


def canon(df: pd.DataFrame) -> list[tuple]:
    df = df.rename(columns=lambda c: c.lower())
    df = df[sorted(df.columns)]
    rows = [
        tuple(_key(v) for v in row)
        for row in df.itertuples(index=False, name=None)
    ]
    return sorted(rows)


def main() -> int:
    if len(sys.argv) < 2:
        print("usage: python tools/check_oracle.py <sf_dir> [query ...]")
        return 2
    sf_dir = sys.argv[1]
    only = set(sys.argv[2:])

    import __spark_entry__ as entry
    from studiocr_spark.session import get_spark

    # no console progress bar: each entry's result line stands alone in
    # a transcript
    spark = get_spark(app_name="oracle-check", master="local[4]",
                      shuffle_partitions=4,
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
            )

    qs = entry.queries()
    oracles = entry.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            spark_pdf = sdf.toPandas()
        except Exception as exc:
            failures.append(name)
            print(f"FAIL  {name}: spark error {type(exc).__name__}: {exc}")
            continue
        if name not in oracles:
            # rows-only entries must still canonicalize (the driver sorts
            # and hashes these rows too — arrays crash it)
            try:
                canon(spark_pdf)
            except TypeError as exc:
                failures.append(name)
                print(f"FAIL  {name}: rows-only entry not canonicalizable: {exc}")
                continue
            print(f"rows  {name}: {len(spark_pdf)} rows (no oracle)")
            continue
        try:
            duck_pdf = con.execute(oracles[name]).df()
        except Exception as exc:
            failures.append(name)
            print(f"FAIL  {name}: duckdb error {exc}")
            continue
        s_cols = sorted(c.lower() for c in spark_pdf.columns)
        d_cols = sorted(c.lower() for c in duck_pdf.columns)
        if s_cols != d_cols:
            failures.append(name)
            print(f"FAIL  {name}: cols spark={s_cols} duck={d_cols}")
            continue
        try:
            s = canon(spark_pdf)
            d = canon(duck_pdf)
        except TypeError as exc:
            failures.append(name)
            print(f"FAIL  {name}: canonicalize error: {exc}")
            continue
        if len(s) != len(d):
            failures.append(name)
            print(f"FAIL  {name}: rowcount spark={len(s)} duck={len(d)}")
            continue
        if s != d:
            failures.append(name)
            diffs = [(a, b) for a, b in zip(s, d) if a != b][:3]
            print(f"FAIL  {name}: value mismatch, first diffs: {diffs}")
            continue
        print(f"ok    {name}: {len(s)} rows match")
    print(f"\n{len(failures)} failures: {failures}" if failures else "\nALL MATCH")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
