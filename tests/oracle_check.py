"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry and its ``oracle_sql()`` against the same
parquet fixtures, compares row count + column names + order-insensitive
values.  Usage:

    python tests/oracle_check.py [sf_dir] [query_name ...]
"""

from __future__ import annotations

import math
import os
import sys
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import __spark_entry__ as entrymod
from ekuiper_spark import get_spark

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


STRICT = os.environ.get("ORACLE_STRICT", "1") == "1"


def norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if STRICT:
            return repr(v)  # exact bit-level comparison (driver-safe)
        return f"{v:.6g}" if v == int(v) else repr(round(v, 6))
    return str(v)


def canon_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        out.append(tuple(norm_cell(r[i]) for i in order))
    out.sort()
    return out


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark("oracle_check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    n_pass = n_fail = n_rows_only = 0
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            n_fail += 1
            failures.append(name)
            continue
        if name not in oracles:
            print(f"ROWS-ONLY {name}: {len(srows)} rows")
            n_rows_only += 1
            continue
        try:
            od = con.sql(oracles[name])
            ocols = od.columns
            orows = od.fetchall()
        except Exception as e:
            print(f"FAIL {name}: oracle error: {e}")
            n_fail += 1
            failures.append(name)
            continue
        if sorted(c.lower() for c in scols) != sorted(c.lower() for c in ocols):
            print(f"FAIL {name}: columns spark={sorted(scols)} oracle={sorted(ocols)}")
            n_fail += 1
            failures.append(name)
            continue
        if len(srows) != len(orows):
            print(f"FAIL {name}: rowcount spark={len(srows)} oracle={len(orows)}")
            n_fail += 1
            failures.append(name)
            continue
        sc = canon_rows([c.lower() for c in scols], srows)
        oc = canon_rows([c.lower() for c in ocols], orows)
        if sc != oc:
            diff = [(a, b) for a, b in zip(sc, oc) if a != b][:3]
            print(f"FAIL {name}: value mismatch, first diffs: {diff}")
            n_fail += 1
            failures.append(name)
            continue
        print(f"PASS {name}: {len(srows)} rows")
        n_pass += 1
    print(f"\n== {n_pass} pass, {n_fail} fail, {n_rows_only} rows-only ==")
    if failures:
        print("failures:", " ".join(failures))
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
