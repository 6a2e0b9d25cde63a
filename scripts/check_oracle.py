"""Local mirror of the driver's correctness gate: run every ``queries()``
entry on Spark and its ``oracle_sql()`` twin on DuckDB over the same
parquet tables, then compare row count, column names, and
order-insensitive values.

Usage: python scripts/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

import __spark_entry__ as entrymod
from cugraph_spark.session import get_spark

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def canon(rows, cols):
    """Sort columns by name, then rows; normalize floats."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def norm(v):
        if isinstance(v, float):
            if math.isnan(v):
                return "nan"
            return repr(round(v, 9) + 0.0)
        return repr(v)

    return sorted(tuple(norm(r[i]) for i in order) for r in rows)


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    # sized to the host (get_spark: SPARK_GRAFT_CPUS threads, the affinity
    # CPU count when unset) and a 3g fixed heap (SPARK_GRAFT_DRIVER_MEM
    # overrides), not get_spark's 12g
    spark = get_spark(
        "oracle_check",
        extra_conf={"spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "3g")},
    )
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            failures.append(name)
            continue
        t_spark = time.time() - t0
        if name not in oracles:
            print(f"ok?  {name}: rows-only ({len(srows)} rows, {t_spark:.1f}s spark, no oracle)")
            continue
        t0 = time.time()
        try:
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            failures.append(name)
            continue
        t_duck = time.time() - t0

        if sorted(scols) != sorted(ocols):
            print(f"FAIL {name}: columns {sorted(scols)} vs {sorted(ocols)}")
            failures.append(name)
            continue
        if len(srows) != len(orows):
            print(f"FAIL {name}: row count {len(srows)} vs {len(orows)}")
            failures.append(name)
            continue
        a, b = canon(srows, scols), canon(orows, ocols)
        if a != b:
            diffs = [(x, y) for x, y in zip(a, b) if x != y][:5]
            print(f"FAIL {name}: value mismatch; first diffs: {diffs}")
            failures.append(name)
            continue
        print(f"PASS {name}: {len(srows)} rows (spark {t_spark:.1f}s, duckdb {t_duck:.1f}s)")

    print()
    if failures:
        print(f"{len(failures)} FAILURES: {failures}")
        sys.exit(1)
    print("all queries match")


if __name__ == "__main__":
    main()
