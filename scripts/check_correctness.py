"""Local stand-in for the driver's correctness gate.

Runs every ``__spark_entry__.queries()`` entry on Spark and its
``oracle_sql()`` twin on DuckDB at the given sf dir, then compares
row count, sorted column names, and an order-insensitive value hash
(columns sorted by name, rows sorted by their string forms).

Usage: python scripts/check_correctness.py [--sf 0.01] [sf_dir] [only_query ...]
"""

from __future__ import annotations

import datetime
import hashlib
import math
import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def norm_value(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat(sep=" ")
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = sorted("\x01".join(norm_value(r[i]) for i in order) for r in rows)
    return out


def main() -> int:
    args = sys.argv[1:]
    sf_dir = "/root/testdata/sf0.001"
    if "--sf" in args:
        i = args.index("--sf")
        sf_dir = f"/root/testdata/sf{args[i + 1]}"
        args = args[:i] + args[i + 2 :]
    if args and args[0].startswith("/"):
        sf_dir = args.pop(0)
    only = set(args)

    import duckdb

    import __spark_entry__ as se
    from farmrpg_etl_spark.session import get_spark

    spark = get_spark("verify-local")
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.sql(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{p}'")

    qs, os_ = se.queries(), se.oracle_sql()
    n_pass = n_fail = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            s_cols = list(sdf.columns)
            s_rows = [tuple(r) for r in sdf.collect()]
            dt_spark = time.time() - t0
        except Exception:
            print(f"FAIL  {name}: spark error")
            traceback.print_exc(limit=3)
            n_fail += 1
            continue
        sql = os_.get(name)
        if sql is None:
            print(f"SKIP  {name}: no oracle ({len(s_rows)} rows)")
            continue
        t0 = time.time()
        try:
            res = con.sql(sql)
            d_cols = list(res.columns)
            d_rows = res.fetchall()
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {str(e)[:200]}")
            n_fail += 1
            continue
        dt_duck = time.time() - t0
        problems = []
        if len(s_rows) != len(d_rows):
            problems.append(f"rows {len(s_rows)} vs {len(d_rows)}")
        if sorted(s_cols) != sorted(d_cols):
            problems.append(f"cols {sorted(s_cols)} vs {sorted(d_cols)}")
        if not problems:
            cs, cd = canon(s_rows, s_cols), canon(d_rows, d_cols)
            hs = hashlib.md5("\n".join(cs).encode()).hexdigest()
            hd = hashlib.md5("\n".join(cd).encode()).hexdigest()
            if hs != hd:
                diff_s = [r for r in cs if r not in set(cd)][:3]
                diff_d = [r for r in cd if r not in set(cs)][:3]
                problems.append(f"hash; spark-only={diff_s} duck-only={diff_d}")
        if problems:
            print(f"FAIL  {name}: {'; '.join(problems)}")
            n_fail += 1
        else:
            print(
                f"ok    {name}  ({len(s_rows)} rows, md5 {hs[:8]}, "
                f"spark {dt_spark:.1f}s, duckdb {dt_duck:.1f}s)"
            )
            n_pass += 1
    print(f"\n{n_pass} ok, {n_fail} fail")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
