"""Simulate the driver's correctness gate locally.

Runs every __spark_entry__.queries() entry at a given sf dir and
compares against oracle_sql() via DuckDB: row count, column names
(sorted), and order-insensitive value multiset (floats compared after
the 6dp rounding both sides already apply).
"""

from __future__ import annotations

import math
import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from timeperiods_spark.session import get_spark  # noqa: E402

TABLES = (
    "region nation customer supplier part orders lineitem events documents"
).split()


def normalize(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                if math.isnan(v):
                    v = None
                else:
                    v = round(v, 6)
                    if v == -0.0:
                        v = 0.0
            vals.append(v)
        out.append(tuple(vals))
    out.sort(key=lambda t: tuple((x is None, str(type(x)), x) for x in t))
    return out


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = sys.argv[2:] or None
    spark = get_spark("oracle-check", master="local[8]", driver_memory="8g")
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        sdf = fn(spark, sf_dir)
        scols = sdf.columns
        srows = [tuple(r) for r in sdf.collect()]
        t1 = time.time()
        if name not in oracles:
            status = "ROWS-ONLY"
            extra = f"rows={len(srows)}"
            if name == "gorilla_roundtrip":
                mism = sum(r[scols.index("n_mismatch")] for r in srows)
                extra += f" mismatches={mism}"
                if mism:
                    failures += 1
                    status = "FAIL"
            print(f"{name:35s} {status:9s} {extra}  spark={t1-t0:.1f}s")
            continue
        drows = con.execute(oracles[name]).fetchall()
        dcols = [d[0] for d in con.description]
        t2 = time.time()
        ok_cols = sorted(scols) == sorted(dcols)
        ok_count = len(srows) == len(drows)
        ok_vals = False
        if ok_cols and ok_count:
            ok_vals = normalize(srows, scols) == normalize(drows, dcols)
        ok = ok_cols and ok_count and ok_vals
        if not ok:
            failures += 1
            print(
                f"{name:35s} FAIL cols={ok_cols} count={ok_count}"
                f" ({len(srows)} vs {len(drows)}) vals={ok_vals}"
            )
            if ok_cols and ok_count and not ok_vals:
                a = normalize(srows, scols)
                b = normalize(drows, dcols)
                diffs = [(x, y) for x, y in zip(a, b) if x != y][:3]
                for x, y in diffs:
                    print("   spark:", x)
                    print("   duck :", y)
        else:
            print(
                f"{name:35s} OK        rows={len(srows)}"
                f"  spark={t1-t0:.1f}s duck={t2-t1:.1f}s"
            )
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
