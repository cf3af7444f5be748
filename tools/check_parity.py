"""Local replica of the driver's correctness gate.

Runs every entry in ``__spark_entry__.queries()`` against its
``oracle_sql()`` twin in DuckDB at a given scale factor and compares
row count, column names/types, and order-insensitive values (with exact
equality for non-floats and tight tolerance reporting for floats, so we can
see how much headroom a value-hash comparison has).

Usage: python tools/check_parity.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def duck_connect(sf_dir: str):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


def normalize(rows, cols):
    out = []
    for row in rows:
        vals = []
        for c in cols:
            v = row[c]
            if isinstance(v, float):
                if math.isnan(v):
                    vals.append("NaN")
                else:
                    vals.append(repr(v))
            else:
                vals.append(repr(v))
        out.append(tuple(vals))
    out.sort()
    return out


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from streaming_feature_store_spark.session import get_spark

    spark = get_spark("parity-check")
    con = duck_connect(sf_dir)
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()

    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        sdf = fn(spark, sf_dir)
        spark_rows = [r.asDict() for r in sdf.collect()]
        cols = sorted(sdf.columns)
        t1 = time.time()
        if name not in oracles:
            print(f"{name}: NO-ORACLE rows={len(spark_rows)} ({t1-t0:.1f}s)")
            continue
        ddf = con.execute(oracles[name]).fetch_arrow_table().to_pylist()
        dcols = sorted(ddf[0].keys()) if ddf else cols
        status = []
        if len(spark_rows) != len(ddf):
            status.append(f"ROWCOUNT spark={len(spark_rows)} duck={len(ddf)}")
        if cols != dcols:
            status.append(f"COLS spark={cols} duck={dcols}")
        if not status:
            a = normalize(spark_rows, cols)
            b = normalize(ddf, cols)
            if a != b:
                ndiff = sum(1 for x, y in zip(a, b) if x != y)
                status.append(f"VALUES {ndiff}/{len(a)} rows differ")
                for x, y in zip(a, b):
                    if x != y:
                        print(f"  spark: {x}\n  duck : {y}")
                        break
        elapsed = time.time() - t0
        if status:
            failures.append(name)
            print(f"{name}: FAIL {'; '.join(status)} ({elapsed:.1f}s)")
        else:
            print(f"{name}: OK rows={len(spark_rows)} ({elapsed:.1f}s)")

    print(f"\n{len(failures)} failures: {failures}")
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
