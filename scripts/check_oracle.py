"""Local mimic of the driver's correctness gate: run every
__spark_entry__ query against its DuckDB oracle at a given sf and
compare row-count + column names + order-insensitive value multiset.

Usage: python scripts/check_oracle.py [sf_dir] [query_name ...]

Without names it runs the gate queries; named queries may also be
extras outside the gate (``all_queries()``, checked against their
``_oracle_sql_all()`` twin), and an unknown name is an error.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

import __spark_entry__ as entrymod
from anomaly_detection_spark.session import get_spark

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def norm_val(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return f"{v:.6f}"
    return str(v)


def rows_to_multiset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("|".join(norm_val(r[i]) for i in order) for r in rows)


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    if only:
        qs, oracles = entrymod.all_queries(), entrymod._oracle_sql_all()
        unknown = sorted(only - qs.keys())
        if unknown:
            sys.exit(f"unknown query name(s): {', '.join(unknown)}")
    else:
        qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    spark = get_spark(master="local[8]")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

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
            print(f"FAIL  {name}: spark error: {e}")
            failures.append(name)
            continue
        if name not in oracles:
            print(f"ROWS  {name}: {len(srows)} rows ({time.time()-t0:.1f}s) [no oracle]")
            continue
        try:
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {e}")
            failures.append(name)
            continue
        ok_cols = sorted(scols) == sorted(ocols)
        ok_count = len(srows) == len(orows)
        sm = rows_to_multiset(scols, srows)
        om = rows_to_multiset(ocols, orows)
        ok_vals = sm == om
        status = "OK  " if (ok_cols and ok_count and ok_vals) else "FAIL"
        print(f"{status}  {name}: rows {len(srows)}/{len(orows)} cols={ok_cols} vals={ok_vals} ({time.time()-t0:.1f}s)")
        if status == "FAIL":
            failures.append(name)
            if not ok_cols:
                print(f"      spark cols: {scols}\n      duck  cols: {ocols}")
            if not ok_vals:
                diff_s = [x for x in sm if x not in set(om)][:3]
                diff_o = [x for x in om if x not in set(sm)][:3]
                print(f"      spark-only: {diff_s}\n      duck-only:  {diff_o}")
    spark.stop()
    print("FAILURES:", failures if failures else "none")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
