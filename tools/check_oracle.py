"""Local approximation of the driver's correctness gate.

Runs every ``queries()`` entry on Spark at the given sf dir, runs the
matching ``oracle_sql()`` on DuckDB over the same parquet, and compares
row count, sorted column names, and an order-insensitive value
multiset. Usage:

    python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import datetime
import math
import os
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import duckdb  # noqa: E402

from clinpy_spark import queries as Q  # noqa: E402
from clinpy_spark.session import STAR_TABLES, get_spark  # noqa: E402


def norm_val(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(round(v, 9))
    if isinstance(v, datetime.datetime):
        return v.isoformat()
    return str(v)


def norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(norm_val(r[i]) for i in order) for r in rows)


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark("oracle-check")
    con = duckdb.connect()
    for t in STAR_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs, oracles = Q.queries(), Q.oracle_sql()
    n_pass = n_fail = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            s_cols = sdf.columns
            s_rows = [tuple(r) for r in sdf.collect()]
        except Exception:
            print(f"FAIL {name}: spark error")
            traceback.print_exc()
            n_fail += 1
            continue
        if name not in oracles:
            print(f"ok?  {name}: rows-only ({len(s_rows)} rows, {time.time()-t0:.1f}s)")
            n_pass += 1
            continue
        try:
            cur = con.execute(oracles[name])
            d_cols = [d[0] for d in cur.description]
            d_rows = cur.fetchall()
        except Exception:
            print(f"FAIL {name}: duckdb error")
            traceback.print_exc()
            n_fail += 1
            continue
        problems = []
        if len(s_rows) != len(d_rows):
            problems.append(f"rowcount spark={len(s_rows)} duck={len(d_rows)}")
        if sorted(s_cols) != sorted(d_cols):
            problems.append(f"cols spark={sorted(s_cols)} duck={sorted(d_cols)}")
        if not problems:
            a, b = norm_rows(s_cols, s_rows), norm_rows(d_cols, d_rows)
            if a != b:
                diff = [(x, y) for x, y in zip(a, b) if x != y][:3]
                problems.append(f"values differ, first diffs: {diff}")
        if problems:
            print(f"FAIL {name}: " + "; ".join(problems))
            n_fail += 1
        else:
            print(f"PASS {name} ({len(s_rows)} rows, {time.time()-t0:.1f}s)")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
