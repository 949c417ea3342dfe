#!/usr/bin/env python3
"""Decompose the headline extract job's per-job fixed overhead (VERDICT r5
next-round #2): how much of the 32-core wall is scan + scheduling + Arrow
worker roundtrip vs actual kernel compute?

Legs (all on the same warmed 32-core session, staged 150k corpus):
  scan_only    - parquet scan + count (JVM only, no Python workers)
  noop_arrow   - same scan through a pass-through mapInArrow (pays the
                 Python worker roundtrip + Arrow (de)serialization, no
                 kernel work)
  full         - the real extract job
  tiny_full    - real extract at 2k docs (pure fixed-cost probe)
"""
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from bench import run_extract_job, stage_corpus  # noqa: E402
from oxidizepdf_spark.table_io import default_cpus, get_spark  # noqa: E402


def timeit(fn, n=3, warm=1):
    for _ in range(warm):
        fn()
    best = None
    for _ in range(n):
        t0 = time.perf_counter()
        fn()
        dt = time.perf_counter() - t0
        best = dt if best is None or dt < best else best
    return best


def main():
    cores = default_cpus()
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 150_000
    spark = get_spark(master=f"local[{cores}]", shuffle_partitions=cores)
    spark.sparkContext.setLogLevel("ERROR")

    path = stage_corpus(spark, n_docs, seed=7)
    files = list(__import__("pathlib").Path(path).rglob("*.parquet"))
    total = sum(f.stat().st_size for f in files)
    per_file = max(total // max(len(files), 1), 1)
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(per_file))
    spark.conf.set("spark.sql.files.openCostInBytes", "0")

    # warm everything (JIT + workers) with two full runs
    run_extract_job(spark, n_docs, seed=7)
    run_extract_job(spark, n_docs, seed=7)

    docs = spark.read.parquet(path)

    t_scan = timeit(lambda: docs.agg({"part_id": "max"}).collect())

    import pyarrow  # noqa: F401

    def _noop(it):
        for b in it:
            yield b.slice(0, 1).select(["doc_id"])

    noop_df = docs.mapInArrow(_noop, schema="doc_id string")
    t_noop = timeit(lambda: noop_df.agg({"doc_id": "max"}).collect())

    t_full = timeit(lambda: run_extract_job(spark, n_docs, seed=7), n=3, warm=0)

    tiny_path = stage_corpus(spark, 2000, seed=7)
    t_tiny = timeit(lambda: run_extract_job(spark, 2000, seed=7), n=3, warm=1)

    print(f"cores={cores} n_docs={n_docs} files={len(files)} bytes={total}")
    print(f"scan_only   {t_scan:.3f}s   (parquet scan + JVM agg)")
    print(f"noop_arrow  {t_noop:.3f}s   (+ python worker roundtrip)")
    print(f"full        {t_full:.3f}s   (real extraction)")
    print(f"tiny_full   {t_tiny:.3f}s   (2k docs: pure fixed cost)")
    print(f"compute est {t_full - t_noop:.3f}s  arrow overhead est {t_noop - t_scan:.3f}s")
    spark.stop()


if __name__ == "__main__":
    main()
