"""Local twin of the driver's correctness gate: run every queries() entry on
Spark and its oracle_sql() on DuckDB at sf0.01, align columns by name, sort
rows, and compare values. Run: python tools/check_oracle.py [sf_dir] [names...]

--twice additionally re-runs every Spark query a second time IN THE SAME
session and diffs run-1 vs run-2 — certifies the gate is idempotent when a
driver invokes queries() repeatedly (catches state the stateful queries —
snapshot resume, streaming memory sinks, scratch dirs — might leak between
invocations).
"""

from __future__ import annotations

import math
import os
import sys

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = (
    "region nation customer supplier part orders lineitem events documents "
    "embeddings"
).split()


def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def compare(name: str, a: pd.DataFrame, b: pd.DataFrame) -> list[str]:
    errs = []
    if sorted(a.columns) != sorted(b.columns):
        return [f"{name}: column mismatch spark={sorted(a.columns)} duck={sorted(b.columns)}"]
    if len(a) != len(b):
        return [f"{name}: row count spark={len(a)} duck={len(b)}"]
    a, b = norm(a), norm(b)
    for c in a.columns:
        av, bv = a[c].to_numpy(), b[c].to_numpy()
        if a[c].dtype.kind == "f":
            import numpy as np

            bad = ~(
                (av == bv)
                | (pd.isna(av) & pd.isna(bv))
            )
            if bad.any():
                i = int(bad.nonzero()[0][0])
                errs.append(
                    f"{name}.{c}: {bad.sum()} float diffs, first row {i}: "
                    f"spark={av[i]!r} duck={bv[i]!r}"
                )
        else:
            bad = ~((av == bv) | (pd.isna(av) & pd.isna(bv)))
            if bad.any():
                i = int(bad.nonzero()[0][0])
                errs.append(
                    f"{name}.{c}: {bad.sum()} diffs, first row {i}: "
                    f"spark={av[i]!r} duck={bv[i]!r}"
                )
    return errs


def main() -> int:
    args = [a for a in sys.argv[1:] if a != "--twice"]
    twice = "--twice" in sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])

    import __spark_entry__ as e
    from geoengine.session import get_spark

    spark = get_spark("oracle-check", cores=8, shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    qs, os_ = e.queries(), e.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            a = sdf.toPandas()
        except Exception as ex:
            print(f"FAIL {name}: spark error: {ex}")
            failures += 1
            continue
        if name not in os_:
            print(f"SKIP {name}: rows-only ({len(a)} rows)")
            continue
        try:
            b = con.sql(os_[name]).df()
        except Exception as ex:
            print(f"FAIL {name}: duckdb error: {ex}")
            failures += 1
            continue
        errs = compare(name, a, b)
        if not errs and twice:
            try:
                a2 = qs[name](spark, sf_dir).toPandas()
                errs = [
                    f"(idempotency) {x}"
                    for x in compare(name, a, a2)
                ]
            except Exception as ex:
                errs = [f"{name}: second in-session run error: {ex}"]
        if errs:
            failures += 1
            print(f"FAIL {name}:")
            for x in errs:
                print("   ", x)
        else:
            print(f"OK   {name}: {len(a)} rows"
                  + (" (idempotent x2)" if twice else ""))
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
