#!/usr/bin/env python3
"""Per-query timings and plan capture for the training-data query suite.

``suite()`` names the 19 queries; ``perfbench/query_workload.py`` imports
it and gates five of them. This script times every query (or a
``-q`` subset) at an arbitrary sf dir as a ``noop``-sink write, which
computes every column (a ``.count()`` over a map-only plan lets Spark
prune the work and measures metadata, not compute): one warm run, then
the best of ``--repeats``. It optionally captures
``.explain("formatted")`` to a file per query.

Usage examples::

    python bench_extra.py --sf-dir /root/testdata/sf1.0
    python bench_extra.py --sf-dir /root/testdata/sf1.0 -q doc_fingerprint \
        --explain-dir plans/r11 --suffix _before
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def suite(Q):
    return {
        "pdf_roundtrip_flate": Q._pdf_roundtrip("flate"),
        "pdf_roundtrip_xrefstream": Q._pdf_roundtrip("xrefstream"),
        "dedup_exact": Q.q_dedup_exact,
        "dedup_minhash_lsh": Q.q_dedup_minhash_lsh,
        "dedup_ngram_jaccard": Q.q_dedup_ngram_jaccard,
        "dedup_simhash": Q.q_dedup_simhash,
        "ann_cosine_topk": Q.q_ann_cosine_topk,
        "ann_ivf_topk": Q.q_ann_ivf_topk,
        "text_token_count": Q.q_text_token_count,
        "text_quality_score": Q.q_text_quality_score,
        "doc_fingerprint": Q.q_doc_fingerprint,
        "ann_ivf_kmeans_topk": Q.q_ann_ivf_kmeans_topk,
        "text_line_dedup": Q.q_text_line_dedup,
        "corpus_pack_sequences": Q.q_corpus_pack_sequences,
        "text_exact_substring_dedup": Q.q_text_exact_substring_dedup,
        "text_exact_substring_bytes": Q.q_text_exact_substring_bytes,
        "pdf_export_markdown": Q.q_pdf_export_markdown,
        "text_repetition_quality": Q.q_text_repetition_quality,
        "pdf_decode_image_codecs": Q.q_pdf_decode_image_codecs,
    }


def main() -> None:
    from oxidizepdf_spark.table_io import default_cpus

    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--cpus", type=int, default=default_cpus())
    ap.add_argument("-q", "--queries", default=None,
                    help="comma-separated names (substring match)")
    ap.add_argument("--repeats", type=int, default=2)
    ap.add_argument("--explain-dir", default=None,
                    help="write explain('formatted') per query here")
    ap.add_argument("--suffix", default="",
                    help="filename suffix for explain files (_before/_after)")
    args = ap.parse_args()

    from oxidizepdf_spark import queries as Q
    from oxidizepdf_spark.table_io import get_spark

    spark = get_spark(master=f"local[{args.cpus}]",
                      shuffle_partitions=args.cpus)
    spark.sparkContext.setLogLevel("ERROR")

    qs = suite(Q)
    if args.queries:
        pats = [p.strip() for p in args.queries.split(",") if p.strip()]
        qs = {k: v for k, v in qs.items() if any(p in k for p in pats)}

    timings: dict[str, float] = {}
    for name, fn in qs.items():
        spark.sparkContext.setJobDescription(f"bench_extra: {name}")
        if args.explain_dir:
            os.makedirs(args.explain_dir, exist_ok=True)
            df = fn(spark, args.sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted")
            with open(os.path.join(
                    args.explain_dir, f"{name}{args.suffix}.txt"), "w") as f:
                f.write(plan)
            Q.release_persisted()

        def run_once():
            t0 = time.perf_counter()
            fn(spark, args.sf_dir).write.format("noop").mode(
                "overwrite").save()
            return time.perf_counter() - t0

        run_once()  # warm (codegen + page cache + persisted relations)
        timings[name] = round(min(run_once() for _ in range(args.repeats)), 4)
        Q.release_persisted()
        print(json.dumps({"query": name, "sec": timings[name]}), flush=True)

    print(json.dumps({"sf_dir": args.sf_dir, "queries": timings}))
    spark.stop()


if __name__ == "__main__":
    main()
