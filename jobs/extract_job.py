#!/usr/bin/env python3
"""spark-submit entry point for the extraction pipeline.

    spark-submit --py-files oxidizepdf_spark.zip jobs/extract_job.py \
        --input  <docs_raw table/path> \
        --output <docs_spans table/path> \
        --metrics <run_metrics table/path> \
        --run-id r42 [--resume] [--partitions 0,1,7] [--include-artifacts]

Cluster semantics (north_rule): reads the Iceberg (or partitioned-parquet)
corpus table, optionally prunes to an explicit partition list, skips
partitions already recorded in the metrics table for this run-id
(checkpoint resume), salts by document size, extracts, and writes spans +
per-partition lineage metrics. Executor counts come from spark-submit
(--num-executors); nothing here assumes local mode.
"""

from __future__ import annotations

import argparse
import sys


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--metrics", required=True)
    ap.add_argument("--run-id", required=True)
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--partitions", default=None, help="comma-separated part_ids")
    ap.add_argument("--include-artifacts", action="store_true")
    ap.add_argument(
        "--reading-order",
        choices=("emission", "simple", "xycut", "structure"),
        default="emission",
        help="fragment reading-order strategy (xycut for multi-column "
        "docs; structure follows the tagged-PDF /StructTreeRoot MCID "
        "order where present, simple fallback)",
    )
    ap.add_argument(
        "--error-mode",
        choices=("strict", "tolerant", "skip"),
        default="tolerant",
    )
    ap.add_argument(
        "--password",
        default=None,
        help="decryption password tried as user OR owner on every "
        "encrypted document; a per-document `password` column on the "
        "input table overrides it row by row",
    )
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from oxidizepdf_spark.kernel.textstate import ExtractionOptions
    from oxidizepdf_spark.pipeline import run_extraction
    from oxidizepdf_spark.table_io import prune_partitions, read_table, write_table

    spark = SparkSession.builder.appName(
        f"oxidizepdf-extract-{args.run_id}"
    ).getOrCreate()

    docs = read_table(spark, args.input)
    if args.partitions:
        docs = prune_partitions(
            docs, [int(p) for p in args.partitions.split(",")]
        )
    done = None
    if args.resume:
        try:
            done = read_table(spark, args.metrics).where(
                f"run_id = '{args.run_id}'"
            )
        except Exception:
            done = None  # first run: no metrics table yet

    options = ExtractionOptions(
        include_artifacts=args.include_artifacts,
        reading_order=args.reading_order,
        error_mode=args.error_mode,
        password=args.password,
    )
    spans, metrics = run_extraction(
        docs, run_id=args.run_id, options=options, done_metrics=done
    )
    # Each write below is its own Spark job over the unpersisted
    # extraction, so every document is parsed twice: once for the spans,
    # once for the metrics.
    write_table(spans, args.output, partition_by=("part_id",), mode="append" if args.resume else "overwrite")
    write_table(metrics, args.metrics, partition_by=(), mode="append")
    print(f"run {args.run_id} complete", file=sys.stderr)
    spark.stop()


if __name__ == "__main__":
    main()
