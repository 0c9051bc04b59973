"""Replicate the driver's correctness gate locally.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB
at the given sf dir, compares row count + column names + order-insensitive
values (columns sorted by name, rows sorted, doubles compared to 1e-9).

Usage: python scripts/check_oracle.py [sf_dir] [only_query_name ...]
"""

from __future__ import annotations

import math
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))  # this checkout


def norm_rows(cols, rows):
    from decimal import Decimal

    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in idx:
            v = r[i]
            if isinstance(v, Decimal):
                v = float(v)
            if isinstance(v, float):
                if math.isnan(v):
                    v = "nan"
                elif v == 0.0 and math.copysign(1.0, v) < 0:
                    # driver hashes the representation: -0.0 != +0.0 there
                    v = "-0.0"
                else:
                    v = round(v, 9)
            vals.append(v)
        out.append(tuple(vals))
    out.sort(key=lambda t: tuple(str(x) for x in t))
    return [cols[i] for i in idx], out


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import duckdb
    from pyspark.sql import SparkSession

    import __spark_entry__ as E

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("FATAL")

    con = duckdb.connect()
    for t in E.TABLES:
        con.execute(f"CREATE VIEW {t} AS FROM '{sf_dir}/{t}.parquet'")

    qs = dict(E.queries())
    # retired rows (r16, retired_queries docstring) stay in the sweep:
    # the driver window shrank, the correctness surface did not
    if hasattr(E, "retired_queries"):
        qs.update(E.retired_queries())
    oracles = E.oracle_sql()
    n_pass = n_fail = n_rows_only = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL {name}: spark error: {str(e)[:200]}")
            n_fail += 1
            continue
        dt = time.time() - t0
        if name not in oracles:
            print(f"ROWS-ONLY {name}: {len(srows)} rows, {len(scols)} cols  ({dt:.1f}s)")
            n_rows_only += 1
            continue
        try:
            cur = con.execute(oracles[name])
            ocols = [d[0] for d in cur.description]
            orows = cur.fetchall()
        except Exception as e:
            print(f"FAIL {name}: oracle error: {str(e)[:200]}")
            n_fail += 1
            continue
        sc, sr = norm_rows(scols, srows)
        oc, orr = norm_rows(ocols, orows)
        if sc != oc:
            print(f"FAIL {name}: columns {sc} vs oracle {oc}")
            n_fail += 1
            continue
        if len(sr) != len(orr):
            print(f"FAIL {name}: rowcount {len(sr)} vs oracle {len(orr)}")
            n_fail += 1
            continue
        bad = None
        for a, b in zip(sr, orr):
            if a != b:
                ok = True
                for x, y in zip(a, b):
                    if isinstance(x, float) and isinstance(y, float):
                        if not (abs(x - y) < 1e-9 or (math.isnan(x) and math.isnan(y))):
                            ok = False
                    elif x != y:
                        ok = False
                if not ok:
                    bad = (a, b)
                    break
        if bad:
            print(f"FAIL {name}: first diff\n  spark:  {bad[0]}\n  oracle: {bad[1]}")
            n_fail += 1
        else:
            print(f"PASS {name}: {len(sr)} rows  ({dt:.1f}s)")
            n_pass += 1
    print(f"\n== {n_pass} pass, {n_fail} fail, {n_rows_only} rows-only ==")
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
