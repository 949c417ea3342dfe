#!/usr/bin/env python3
"""Kernel layer split, no Spark: the single-process replay the benchmark's
``--trace 1`` uses (``perfbench/kernel_replay.replay``), printed as one
JSON object of per-layer seconds and counts.

Usage: python tools/kernel_bench.py [--seed 90210] [--reps 3]

The replay draws 1,500 documents from the seeded 16,000-document
``extract_mixed`` corpus. With ``--reps`` above 1, the layers reported are
those of the repetition with the smallest total kernel time, so every
figure comes from one replay (a busy host swings single runs by ±30%; never
run Spark alongside). For each real-document fixture file that exists (the
44-page Cold_Email book, the 38-page Higgs paper), best-of-reps timings in
default and layout mode are added.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "perfbench"))

N_DOCS = 16000  # extract_mixed's corpus size
SAMPLE = 1500   # documents replayed per repetition
COLD = "/root/reference/test-pdfs/Cold_Email_Hacks.pdf"
HIGGS = (
    "/root/reference/oxidize-pdf-core/tests/fixtures/"
    "issue_272_higgs_arxiv_1207_7214.pdf"
)
FIXTURES = {"cold_email": COLD, "higgs": HIGGS}


def best_of(fn, reps: int) -> float:
    fn()  # warm
    best = float("inf")
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t0)
    return best


def kernel_total(r: dict) -> float:
    return sum(v for k, v in r.items()
               if k.startswith("kernel.") and k.endswith("_s"))


def replay_layers(seed: int, reps: int) -> dict:
    """Per-layer seconds and counts of the replay repetition with the
    smallest total kernel time."""
    import kernel_replay

    runs = [kernel_replay.replay(seed, N_DOCS, SAMPLE)
            for _ in range(max(reps, 1))]
    best = dict(min(runs, key=kernel_total))
    best["kernel_s"] = kernel_total(best)
    return best


def fixture_legs(reps: int) -> dict:
    from oxidizepdf_spark.kernel.extract import extract_pdf_bytes
    from oxidizepdf_spark.kernel.textstate import ExtractionOptions

    layout = ExtractionOptions(preserve_layout=True)
    out = {}
    for name, path in FIXTURES.items():
        if not os.path.exists(path):
            continue
        data = open(path, "rb").read()
        out[f"{name}_s"] = best_of(lambda: extract_pdf_bytes(data), reps)
        out[f"{name}_layout_s"] = best_of(
            lambda: extract_pdf_bytes(data, options=layout), reps)
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=90210)
    ap.add_argument("--reps", type=int, default=1)
    args = ap.parse_args()

    from oxidizepdf_spark.kernel import content

    out = {"c_fast_path": int(content._CSCAN is not None)}
    out.update(replay_layers(args.seed, args.reps))
    out.update(fixture_legs(args.reps))
    print(json.dumps({k: round(v, 5) if isinstance(v, float) else v
                      for k, v in out.items()}))


if __name__ == "__main__":
    main()
