"""Replicates the driver's correctness gate locally: runs every
queries()/oracle_sql() pair at a given sf dir and compares row count,
column names and (order-insensitive) values.

Usage: python tools/selfcheck.py [sf_dir] [query ...]
"""

from __future__ import annotations

import sys

import duckdb

sys.path.insert(0, ".")

import __spark_entry__ as entrymod  # noqa: E402
from har2tree_spark.session import get_spark  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def canon(v):
    if v is None:
        return "\x00"
    if isinstance(v, bool):
        return "t" if v else "f"
    if isinstance(v, float):
        return repr(v)
    return str(v)


def rows_to_multiset(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(canon(r[i]) for i in order) for r in rows)


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark("selfcheck", driver_memory="6g")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        sdf = fn(spark, sf_dir)
        srows = sdf.collect()
        scols = sdf.columns
        if name not in oracles:
            print(f"{name:24s} rows={len(srows):7d}  (no oracle; rows-only)")
            continue
        try:
            res = con.execute(oracles[name])
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
        except Exception as e:  # noqa: BLE001
            print(f"{name:24s} ORACLE SQL ERROR: {e}")
            failures += 1
            continue
        ok_cols = sorted(scols) == sorted(dcols)
        ok_count = len(srows) == len(drows)
        ok_vals = False
        if ok_cols and ok_count:
            ms1 = rows_to_multiset([tuple(r) for r in srows], scols)
            ms2 = rows_to_multiset(drows, dcols)
            ok_vals = ms1 == ms2
            if not ok_vals:
                diff1 = [r for r in ms1 if r not in set(map(tuple, ms2))][:3]
                diff2 = [r for r in ms2 if r not in set(map(tuple, ms1))][:3]
                print(f"{name:24s} VALUE MISMATCH spark_only={diff1} duck_only={diff2}")
        status = "OK" if (ok_cols and ok_count and ok_vals) else "FAIL"
        if status == "FAIL":
            failures += 1
            if not ok_cols:
                print(f"{name:24s} COLS spark={sorted(scols)} duck={sorted(dcols)}")
            if not ok_count:
                print(f"{name:24s} COUNT spark={len(srows)} duck={len(drows)}")
        print(f"{name:24s} rows={len(srows):7d}  {status}")
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
