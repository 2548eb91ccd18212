#!/usr/bin/env python
"""Self-check of the driver contract: run every ``queries()`` entry on
Spark AND its ``oracle_sql()`` on DuckDB at sf0.01, compare row count,
schema (sorted column names) and values (columns sorted by name, rows
sorted, cell-wise with float tolerance).  Mirrors CORRECTNESS_r{N}.

Usage: python tools/check_oracle.py [query ...]
"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents",
]


def _duck():
    con = duckdb.connect()
    for t in TABLES:
        p = f"{SF_DIR}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def _norm_cell(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return round(v, 6)
    if isinstance(v, (list, tuple)):
        return tuple(_norm_cell(x) for x in v)
    if hasattr(v, "isoformat"):
        return v.isoformat()[:26]
    if isinstance(v, bytes):
        return v.hex()
    return v


def _norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm_cell(r[i]) for i in order) for r in rows]
    return sorted(cols), sorted(out, key=lambda t: tuple(str(x) for x in t))


def main() -> int:
    from cwds_jobs_spark.session import get_spark
    import __spark_entry__ as entry

    only = set(sys.argv[1:])
    spark = get_spark("check_oracle", master="local[16]", shuffle_partitions=16)
    con = _duck()
    qs, oracles = entry.queries(), entry.oracle_sql()
    n_fail = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, SF_DIR)
            s_cols = sdf.columns
            s_rows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL  {name}: spark error: {e}")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"rows  {name}: {len(s_rows)} rows (no oracle)")
            continue
        try:
            res = con.execute(oracles[name])
            d_cols = [d[0] for d in res.description]
            d_rows = res.fetchall()
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {e}")
            n_fail += 1
            continue
        sc, sr = _norm_rows(s_cols, s_rows)
        dc, dr = _norm_rows(d_cols, d_rows)
        if sc != dc:
            print(f"FAIL  {name}: schema {sc} != {dc}")
            n_fail += 1
        elif len(sr) != len(dr):
            print(f"FAIL  {name}: rowcount {len(sr)} != {len(dr)}")
            n_fail += 1
        elif sr != dr:
            bad = next(i for i, (a, b) in enumerate(zip(sr, dr)) if a != b)
            print(f"FAIL  {name}: values differ at sorted-row {bad}:")
            print(f"      spark : {sr[bad]}")
            print(f"      duckdb: {dr[bad]}")
            n_fail += 1
        else:
            print(f"ok    {name}: {len(sr)} rows")
    spark.stop()
    print(f"{'FAILED' if n_fail else 'ALL OK'} ({n_fail} failures)")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
