#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate: run every queries()
entry on Spark and its oracle_sql() on DuckDB over the same sf dir; compare
row counts, column names, and order-insensitive values.

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import sys

sys.path.insert(0, ".")


def canon(val):
    import numpy as np

    if val is None or (isinstance(val, float) and math.isnan(val)):
        return "∅" if val is None else "nan"
    if isinstance(val, np.floating):
        val = float(val)
    if isinstance(val, np.integer):
        val = int(val)
    if isinstance(val, float):
        # tolerate tiny representation differences, but keep the FLOAT
        # type tag: the driver value-hashes pandas frames, so an integer
        # column that DuckDB returns as HUGEINT→float64 (e.g. 15132.0)
        # does NOT match Spark's bigint 15132 — surface that here too.
        return f"f:{val:.6g}"
    if isinstance(val, bool):
        return str(int(val))
    if isinstance(val, int):
        return f"i:{val}"
    return str(val)


def rows_to_set(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        out.append(tuple(canon(r[i]) for i in order))
    return sorted(out), [cols[i] for i in order]


def main():
    import duckdb

    import __spark_entry__ as entrymod
    from oxidizepdf_spark.table_io import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()

    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            failures.append((name, f"spark error: {e}"))
            print(f"FAIL {name}: spark error: {str(e)[:500]}")
            continue
        if name not in oracles:
            print(f"ok?  {name}: rows-only check, {len(srows)} rows")
            continue
        try:
            # fetch through pandas like the driver does, so dtype
            # degradation (HUGEINT→float64) is visible to the compare
            odf = con.execute(oracles[name]).df()
            ocols = list(odf.columns)
            orows = [tuple(r) for r in odf.itertuples(index=False, name=None)]
        except Exception as e:
            failures.append((name, f"duckdb error: {e}"))
            print(f"FAIL {name}: duckdb error: {str(e)[:500]}")
            continue
        sset, scols_sorted = rows_to_set(scols, srows)
        oset, ocols_sorted = rows_to_set(ocols, orows)
        if scols_sorted != ocols_sorted:
            failures.append((name, f"schema {scols_sorted} != {ocols_sorted}"))
            print(f"FAIL {name}: schema {scols_sorted} != {ocols_sorted}")
            continue
        if len(sset) != len(oset):
            failures.append((name, f"rowcount {len(sset)} != {len(oset)}"))
            print(f"FAIL {name}: rowcount {len(sset)} != {len(oset)}")
            _show_diff(sset, oset)
            continue
        if sset != oset:
            failures.append((name, "value mismatch"))
            print(f"FAIL {name}: value mismatch")
            _show_diff(sset, oset)
            continue
        print(f"PASS {name}: {len(sset)} rows")
    spark.stop()
    if failures:
        print(f"\n{len(failures)} FAILURES: {[f[0] for f in failures]}")
        sys.exit(1)
    print("\nall green")


def _show_diff(sset, oset, k: int = 3):
    s, o = set(sset), set(oset)
    for x in list(s - o)[:k]:
        print("   spark-only:", x)
    for x in list(o - s)[:k]:
        print("   oracle-only:", x)


if __name__ == "__main__":
    main()
