"""Self-check: replicate the driver's correctness gate locally.

Runs every ``queries()`` entry at a given SF and compares against
``oracle_sql()`` via DuckDB: row count, column names, and an
order-insensitive exact value comparison (floats compared bit-exact, since
the driver hashes values).

Usage: python tools/selfcheck.py [sf_dir] [query ...]

Exits 0 when every query matches, 1 on any failure, and 2 before starting
Spark when a named query is not in the registry.
"""

from __future__ import annotations

import os
import sys
import time

import duckdb
import pandas as pd

#: The checkout this script belongs to, wherever it is run from.
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    sys.path.insert(0, ROOT)
    import __spark_entry__ as entrymod
    from flink_streaming_2_10_spark.session import get_spark

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    unknown = sorted(only - set(qs))
    if unknown:
        print(f"unknown queries: {unknown}", file=sys.stderr)
        return 2

    spark = get_spark("selfcheck", cpus=8)
    con = duckdb.connect()
    for name in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings".split()
    ):
        con.sql(
            f"CREATE VIEW {name} AS SELECT * FROM '{sf_dir}/{name}.parquet'"
        )

    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            spark_pdf = fn(spark, sf_dir).toPandas()
        except Exception as exc:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL {name}: spark error: {exc}")
            continue
        took = time.time() - t0
        if name not in oracles:
            print(f"ok   {name}: rows-only ({len(spark_pdf)} rows, {took:.1f}s)")
            if len(spark_pdf) == 0:
                print(f"     WARNING: 0 rows")
            continue
        try:
            duck_pdf = con.sql(oracles[name]).df()
        except Exception as exc:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL {name}: duckdb error: {exc}")
            continue
        problems = []
        if len(spark_pdf) != len(duck_pdf):
            problems.append(f"rows {len(spark_pdf)} vs {len(duck_pdf)}")
        if sorted(spark_pdf.columns) != sorted(duck_pdf.columns):
            problems.append(
                f"cols {sorted(spark_pdf.columns)} vs {sorted(duck_pdf.columns)}"
            )
        if not problems:
            a, b = normalize(spark_pdf), normalize(duck_pdf)
            try:
                pd.testing.assert_frame_equal(
                    a, b, check_dtype=False, check_exact=True
                )
            except AssertionError as exc:
                problems.append(f"values differ: {str(exc)[:500]}")
        if problems:
            failures.append(name)
            print(f"FAIL {name}: {'; '.join(problems)}")
        else:
            print(f"ok   {name}: {len(spark_pdf)} rows match ({took:.1f}s)")

    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
