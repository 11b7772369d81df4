"""Compute the oracle digests the batch workloads check against.

Runs the ``oracle_sql()`` of every workload query and of the self-test
query in DuckDB over the tables under ``perfbench/data`` at the query's
scale, and writes ``perfbench/oracle_digests.json``. The digests depend
only on the input tables and the oracle SQL, not on the Spark code under
test, so this runs once, not in every benchmark run (the topspeed oracle
takes minutes at sf0.1).

Usage: python3 perfbench/make_digests.py
"""

from __future__ import annotations

import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

from digest import digest  # noqa: E402
from workloads import BATCH_WORKLOADS, SELFTEST_QUERY, TABLES, data_dir  # noqa: E402

OUT = os.path.join(HERE, "oracle_digests.json")


def main() -> int:
    import duckdb

    import __spark_entry__ as entrymod

    oracles = entrymod.oracle_sql()
    names = sorted({SELFTEST_QUERY, *(q for w in BATCH_WORKLOADS.values() for q in w)})
    out = {}
    for name in names:
        t0 = time.time()
        con = duckdb.connect(config={"memory_limit": "4GB", "threads": 4})
        for table in TABLES:
            path = os.path.join(data_dir(name), f"{table}.parquet")
            con.sql(f"CREATE VIEW {table} AS SELECT * FROM '{path}'")
        rel = con.sql(oracles[name])
        out[name] = digest(rel.columns, rel.fetchall())
        con.close()
        print(f"{name}: {out[name]['rows']} rows, {time.time() - t0:.1f}s", flush=True)
    with open(OUT, "w") as f:
        json.dump(out, f, indent=1)
        f.write("\n")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
