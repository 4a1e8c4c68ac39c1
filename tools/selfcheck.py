#!/usr/bin/env python
"""Self-run the driver's correctness gate: for every entry in
__spark_entry__.queries(), run the Spark DataFrame AND the DuckDB oracle
SQL at the given sf, compare row count, column names, and an
order-insensitive value hash. A query with no oracle is a failure.

Usage: python tools/selfcheck.py [query ...] [--sf SFDIR]
"""

from __future__ import annotations

import argparse
import hashlib
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

# the tables the registered queries read (pagerank/hits link orders)
TABLES = ("documents", "orders")


def norm_cell(v) -> str:
    import datetime
    import math

    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # collapse -0.0 and format stably
        if v == 0.0:
            v = 0.0
        return repr(round(v, 9))
    if isinstance(v, datetime.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    return str(v)


def table_hash(rows: list[tuple], colnames: list[str]) -> str:
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    lines = sorted("|".join(norm_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="*")
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    args = ap.parse_args()

    import duckdb

    import __spark_entry__ as entry
    from cis555_search_engine_spark.session import get_spark

    spark = get_spark("selfcheck", cores=8, shuffle_partitions=8)

    con = duckdb.connect()
    for t in TABLES:
        p = f"{args.sf}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    qs = entry.queries()
    oracles = entry.oracle_sql()
    names = args.queries or list(qs)
    unknown = [n for n in names if n not in qs]
    if unknown:
        raise SystemExit(
            f"unknown queries {unknown}; available: {', '.join(sorted(qs))}"
        )
    failures = 0
    for name in names:
        if name not in oracles:
            print(f"{name:24s} FAIL no oracle")
            failures += 1
            continue
        t0 = time.time()
        sdf = qs[name](spark, args.sf)
        s_cols = sdf.columns
        s_rows = [tuple(r) for r in sdf.collect()]
        t_spark = time.time() - t0
        t0 = time.time()
        res = con.sql(oracles[name])
        d_cols = res.columns
        d_rows = res.fetchall()
        t_duck = time.time() - t0
        ok_cols = sorted(s_cols) == sorted(d_cols)
        ok_rows = len(s_rows) == len(d_rows)
        hs = table_hash(s_rows, s_cols)
        hd = table_hash(d_rows, d_cols)
        ok_hash = hs == hd
        status = "OK " if (ok_cols and ok_rows and ok_hash) else "FAIL"
        print(
            f"{name:24s} {status} rows={len(s_rows)}/{len(d_rows)} "
            f"cols={'=' if ok_cols else f'{s_cols} vs {d_cols}'} "
            f"hash={'=' if ok_hash else f'{hs} vs {hd}'} "
            f"spark={t_spark:4.1f}s duck={t_duck:4.1f}s"
        )
        if status == "FAIL":
            failures += 1
            if not ok_hash and ok_rows and ok_cols:
                # print first differing rows for debugging
                order = sorted(range(len(s_cols)), key=lambda i: s_cols[i])
                sset = sorted("|".join(norm_cell(r[i]) for i in order) for r in s_rows)
                dorder = sorted(range(len(d_cols)), key=lambda i: d_cols[i])
                dset = sorted("|".join(norm_cell(r[i]) for i in dorder) for r in d_rows)
                for a, b in zip(sset, dset):
                    if a != b:
                        print(f"   spark: {a}\n   duck : {b}")
                        break
    print("FAILURES:", failures)
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
