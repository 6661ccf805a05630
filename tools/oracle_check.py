"""Local stand-in for the driver's correctness harness.

Runs every declared query at a given scale factor, runs its DuckDB oracle on
the same parquet tables, and compares row count + column names/types +
order-insensitive value multiset. Exit code 1 on any mismatch.

Usage: python tools/oracle_check.py [--plain] [sf_dir] [query ...]

A missing sf_dir or an undeclared query name prints the usage and exits 2
before Spark starts.
"""

from __future__ import annotations

import hashlib
import os
import sys
import time
import traceback

import duckdb

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import __spark_entry__ as entrymod  # noqa: E402
from airflow_ml_pipeline_spark.schemas import TABLE_NAMES  # noqa: E402
from airflow_ml_pipeline_spark.session import get_spark  # noqa: E402

USAGE = "usage: python tools/oracle_check.py [--plain] [sf_dir] [query ...]"


def _norm(v) -> str:
    import datetime
    import math

    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return repr(v)
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, list):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    return str(v)


def value_hash(rows: list[tuple], col_order: list[int]) -> str:
    lines = sorted(
        "|".join(_norm(row[i]) for i in col_order) for row in rows
    )
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def main() -> int:
    args = [a for a in sys.argv[1:] if a != "--plain"]
    plain = "--plain" in sys.argv
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    unknown = sorted(only - set(qs))
    if unknown or not os.path.isdir(sf_dir):
        print(USAGE, file=sys.stderr)
        print(f"undeclared queries: {', '.join(unknown)}" if unknown
              else f"not a directory: {sf_dir}", file=sys.stderr)
        return 2

    if plain:  # driver-fidelity mode: default confs, no engine tuning
        from pyspark.sql import SparkSession

        spark = SparkSession.builder.master("local[8]").appName(
            "oracle-check-plain"
        ).getOrCreate()
    else:
        spark = get_spark("oracle-check", master="local[8]")
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    failed, passed, rows_only = [], [], []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            srows = sdf.collect()
            scols = sorted(range(len(sdf.columns)), key=lambda i: sdf.columns[i])
        except Exception:
            print(f"FAIL {name}: spark error\n{traceback.format_exc()}")
            failed.append(name)
            continue
        if name not in oracles:
            rows_only.append(name)
            print(f"rows {name}: {len(srows)} rows (rows-only) [{time.time()-t0:.1f}s]")
            continue
        try:
            res = con.sql(oracles[name])
            dcols_names = res.columns
            drows = res.fetchall()
        except Exception:
            print(f"FAIL {name}: duckdb error\n{traceback.format_exc()}")
            failed.append(name)
            continue
        problems = []
        if len(srows) != len(drows):
            problems.append(f"rowcount spark={len(srows)} duck={len(drows)}")
        if sorted(sdf.columns) != sorted(dcols_names):
            problems.append(f"columns spark={sorted(sdf.columns)} duck={sorted(dcols_names)}")
        else:
            dorder = sorted(range(len(dcols_names)), key=lambda i: dcols_names[i])
            sh, dh = value_hash(srows, scols), value_hash(drows, dorder)
            if sh != dh:
                problems.append("value hash mismatch")
                # show a diff sample
                sset = {
                    "|".join(_norm(r[i]) for i in scols) for r in srows
                }
                dset = {
                    "|".join(_norm(r[i]) for i in dorder) for r in drows
                }
                for x in list(sset - dset)[:3]:
                    print(f"  spark-only: {x}")
                for x in list(dset - sset)[:3]:
                    print(f"  duck-only : {x}")
        if problems:
            print(f"FAIL {name}: {'; '.join(problems)} [{time.time()-t0:.1f}s]")
            failed.append(name)
        else:
            print(f"ok   {name}: {len(srows)} rows [{time.time()-t0:.1f}s]")
            passed.append(name)

    print(
        f"\n{len(passed)} ok, {len(rows_only)} rows-only, {len(failed)} failed"
        + (f": {failed}" if failed else "")
    )
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
