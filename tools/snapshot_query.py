#!/usr/bin/env python3
"""Exact-equivalence harness for optimization rounds: snapshot a query's
full result (sorted rows, full float precision) to a pickle, or compare a
fresh run against a stored snapshot bit-for-bit.

The driver hashes query results exactly, so a restructured query must be
EXACTLY equal, not approximately: snapshot before the edit, compare after.

Usage:
    python tools/snapshot_query.py save <out.pkl> <sf_dir> <query> [...]
    python tools/snapshot_query.py cmp  <in.pkl>  <sf_dir> <query> [...]
"""

from __future__ import annotations

import pickle
import sys

sys.path.insert(0, ".")


def fetch(spark, name: str, sf_dir: str):
    from oxidizepdf_spark import queries as Q

    qs = Q.build_queries()
    if name.startswith("pdf_roundtrip_"):
        fn = Q._pdf_roundtrip(name.removeprefix("pdf_roundtrip_"))
    elif name.startswith("pdf_encrypted_roundtrip_"):
        fn = Q._pdf_encrypted_roundtrip(
            name.removeprefix("pdf_encrypted_roundtrip_")
        )
    else:
        fn = qs.get(name) or getattr(Q, f"q_{name}")
    df = fn(spark, sf_dir)
    cols = df.columns
    rows = sorted(tuple(r) for r in df.collect())
    Q.release_persisted()
    return {"cols": cols, "rows": rows}


def main() -> None:
    mode, path, sf_dir = sys.argv[1], sys.argv[2], sys.argv[3]
    names = sys.argv[4:]

    from oxidizepdf_spark.table_io import get_spark

    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")

    if mode == "save":
        snap = {n: fetch(spark, n, sf_dir) for n in names}
        with open(path, "wb") as f:
            pickle.dump(snap, f)
        for n in names:
            print(f"saved {n}: {len(snap[n]['rows'])} rows")
        return

    with open(path, "rb") as f:
        snap = pickle.load(f)
    bad = 0
    for n in names:
        cur = fetch(spark, n, sf_dir)
        ref = snap[n]
        if cur["cols"] != ref["cols"]:
            print(f"MISMATCH {n}: cols {ref['cols']} -> {cur['cols']}")
            bad += 1
            continue
        if cur["rows"] == ref["rows"]:
            print(f"OK {n}: {len(cur['rows'])} rows identical")
            continue
        bad += 1
        print(f"MISMATCH {n}: {len(ref['rows'])} ref vs {len(cur['rows'])} cur rows")
        refset, curset = set(ref["rows"]), set(cur["rows"])
        for r in list(refset - curset)[:3]:
            print("  only-ref:", r)
        for r in list(curset - refset)[:3]:
            print("  only-cur:", r)
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
