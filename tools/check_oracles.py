"""Local mimic of the driver's correctness gate: run every queries() entry in
Spark and its oracle in DuckDB at a given sf dir; compare row count, sorted
column names, and order-insensitive values.

Usage: python tools/check_oracles.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

TABLES = "events documents embeddings".split()


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                if math.isnan(v):
                    v = "nan"
                else:
                    v = f"{v:.9g}"
            vals.append(str(v))
        out.append("\x1f".join(vals))
    return sorted(out)


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entry_mod
    from deduplicator_spark.session import get_spark

    spark = get_spark("oracle-check", cores=16)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            failures.append((name, f"SPARK ERROR: {e}"))
            print(f"FAIL  {name}: spark error {str(e)[:2000]}")
            continue
        if name not in oracles:
            print(f"SKIP  {name}: no oracle (rows={len(srows)})")
            continue
        try:
            res = con.execute(oracles[name])
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
        except Exception as e:
            failures.append((name, f"DUCKDB ERROR: {e}"))
            print(f"FAIL  {name}: duckdb error {str(e)[:2000]}")
            continue
        problems = []
        if sorted(scols) != sorted(dcols):
            problems.append(f"schema {sorted(scols)} != {sorted(dcols)}")
        if len(srows) != len(drows):
            problems.append(f"rows {len(srows)} != {len(drows)}")
        if not problems:
            a, b = canon(srows, scols), canon(drows, dcols)
            if a != b:
                diff = [(x, y) for x, y in zip(a, b) if x != y][:3]
                problems.append(f"values differ, e.g. {diff}")
        if problems:
            failures.append((name, "; ".join(problems)))
            print(f"FAIL  {name}: {'; '.join(problems)[:3000]}")
        else:
            print(f"OK    {name} ({len(srows)} rows)")
    print(f"\n{len(failures)} failures / {len(only) if only else len(qs)} checked")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
