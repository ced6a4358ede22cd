"""Local replica of the driver's correctness gate: run each queries()
entry on Spark and its oracle_sql() on DuckDB at sf0.01; compare row
count, column names, and order-insensitive values (columns sorted by
name, rows sorted, values normalized).

Usage: python tools/check_contract.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time
from decimal import Decimal

import duckdb

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
# the Python workers Spark starts import the package too
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def norm_val(v):
    if isinstance(v, Decimal):
        return f"{v:f}"
    if isinstance(v, float):
        return f"{v:.9g}"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(norm_val(r[i]) for i in order) for r in rows)


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from bloom_filters_spark.session import get_spark

    spark = get_spark("contract-check", cores=8, shuffle_partitions=8)

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    results = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            df = fn(spark, sf_dir)
            cols = df.columns
            rows = [tuple(r) for r in df.collect()]
        except Exception as e:
            results[name] = f"SPARK ERROR: {type(e).__name__}: {e}"
            print(f"{name:28s} SPARK ERROR: {e}", flush=True)
            continue
        took = time.time() - t0
        if name not in oracles:
            results[name] = f"rows-only: {len(rows)} rows ({took:.1f}s)"
            print(f"{name:28s} rows-only  {len(rows):7d} rows  {took:5.1f}s", flush=True)
            continue
        try:
            ores = con.execute(oracles[name]).fetchall()
            ocols = [d[0] for d in con.description]
        except Exception as e:
            results[name] = f"ORACLE ERROR: {e}"
            print(f"{name:28s} ORACLE ERROR: {e}", flush=True)
            continue
        ok_cols = sorted(cols) == sorted(ocols)
        ok_count = len(rows) == len(ores)
        a = norm_rows(cols, rows)
        b = norm_rows(ocols, ores)
        ok_vals = a == b
        status = "OK" if (ok_cols and ok_count and ok_vals) else "MISMATCH"
        results[name] = status
        print(
            f"{name:28s} {status:9s} {len(rows):7d} vs {len(ores):7d} rows  {took:5.1f}s",
            flush=True,
        )
        if status != "OK":
            if not ok_cols:
                print(f"   cols: spark={sorted(cols)} oracle={sorted(ocols)}")
            sa, sb = set(a), set(b)
            for r in list(sa - sb)[:3]:
                print(f"   spark-only: {r}")
            for r in list(sb - sa)[:3]:
                print(f"   oracle-only: {r}")

    n_bad = sum(1 for v in results.values() if "OK" not in v and "rows-only" not in v)
    print(f"\n{len(results)} queries, {n_bad} problems")
    spark.stop()
    return 1 if n_bad else 0


if __name__ == "__main__":
    sys.exit(main())
