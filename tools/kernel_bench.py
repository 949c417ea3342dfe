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

Before the JSON line, a table splits the whole 16,000-document corpus by
document class (strict classic xref, recovered, xref stream, object
stream, LZW content, 50-page, HTML): documents, ``PdfReader`` +
``flatten_page_tree`` µs/doc, ``extract_document_spans`` µs/doc, the
class's share of the corpus's kernel time, each class at its best of
``--reps``, the share of the class's pages the C page loop (``_cscan.c``
``run_pages``) served, counted in an untimed pass as the pages that built
no ``Interpreter``, and the share of its documents the C batch loop
(``_cscan.c`` ``extract_batch``) served, from its own counters
(``batch_counts``) over one untimed ``extract_batch`` call.

Then the batch leg: ``pipeline._extract_batches`` over the same corpus
staged as 4,000-row Arrow batches, in µs/doc at the best of ``--reps``,
with the C batch loop and with it forced off (the per-document Python
loop over ``extract_document_spans``, every other C step still on). Its
figures, the batch loop's served and hand-back counts by reason
(``batch_counts``) and the stream filters' native and Python decodes by
call site (``filter_counts``) over one native pass join the JSON.

The replay (and so perfbench's ``kernel.*`` layers) times the Python
per-page steps one call at a time, so it sees neither the C page loop
nor the batch loop: the figures that move with them are the table's full
µs/doc, the batch leg here and ``pipeline.py_run_s`` in a traced
perfbench run.
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
BATCH_ROWS = 4000  # rows per staged Arrow batch in the batch leg
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


CLASSES = ("strict classic", "recovered", "xref stream", "object stream",
           "LZW", "50-page", "HTML")
_CASE_CLASS = {"X06": "xref stream", "X07": "object stream", "X04": "LZW",
               "MEGA": "50-page", "HTML": "HTML"}


def _doc_class(case: str, data: bytes | None) -> str:
    """The document's class: a reader that opens in recovered mode is
    ``recovered`` whatever its case; otherwise the corpus case names it."""
    from oxidizepdf_spark.kernel.reader import PdfReader

    if data is not None:
        try:
            if PdfReader(data).mode == "recovered":
                return "recovered"
        except Exception:
            pass
    return _CASE_CLASS.get(case, "strict classic")


def native_share(items, options) -> float | None:
    """The share of the pages of ``items`` that ran in the C page loop:
    every page the Python loop runs builds one ``Interpreter``."""
    from oxidizepdf_spark.kernel.extract import extract_document_spans
    from oxidizepdf_spark.kernel.textstate import Interpreter

    built = 0
    init = Interpreter.__init__

    def counting(self, *a, **k):
        nonlocal built
        built += 1
        init(self, *a, **k)

    pages = 0
    Interpreter.__init__ = counting
    try:
        for triples, _raw in items:
            pages += extract_document_spans(triples, options)[1]["n_pages"]
    finally:
        Interpreter.__init__ = init
    return 1.0 - built / pages if pages else None


def _span_type():
    import pyarrow as pa

    return pa.list_(pa.struct([("kind", pa.string()), ("text", pa.string()),
                               ("media_ref", pa.string())]))


def native_docs(items, options) -> float | None:
    """The share of the documents of ``items`` the C batch loop served,
    from its counters over one ``extract_batch`` call."""
    import pyarrow as pa

    from oxidizepdf_spark.kernel import content
    from oxidizepdf_spark.kernel.extract import extract_batch

    ck = content._CSCAN
    if ck is None or not items:
        return None
    spans = pa.array(
        [[{"kind": k, "text": t, "media_ref": m} for k, t, m in triples]
         for triples, _raw in items], _span_type())
    ck.batch_counts(True)
    extract_batch(spans, None, options)
    counts = ck.batch_counts(True)
    return counts["served"] / sum(counts.values())


def class_table(seed: int, reps: int) -> list[tuple]:
    """Rows of (class, docs, open+tree µs/doc, full µs/doc, kernel share,
    native page share, native document share) over the whole ``N_DOCS``
    corpus of ``seed``."""
    from oxidizepdf_spark.corpus import all_cases, gen_doc
    from oxidizepdf_spark.kernel.extract import (
        decode_raw_payload,
        extract_document_spans,
    )
    from oxidizepdf_spark.kernel.pages import flatten_page_tree
    from oxidizepdf_spark.kernel.reader import PdfReader
    from oxidizepdf_spark.kernel.textstate import ExtractionOptions

    options = ExtractionOptions()
    cases = all_cases()
    docs = {c: [] for c in CLASSES}
    for i in range(N_DOCS):
        row = gen_doc(i, seed, cases)[0]
        triples = [(s["kind"], s["text"], s["media_ref"])
                   for s in row["spans"]]
        raw = [decode_raw_payload(t or "") for k, t, _m in triples
               if k == "raw_pdf"]
        docs[_doc_class(row["case"], raw[0] if raw else None)].append(
            (triples, raw))
    pc = time.perf_counter
    best_open = dict.fromkeys(CLASSES, float("inf"))
    best_full = dict.fromkeys(CLASSES, float("inf"))
    for _ in range(max(reps, 1)):
        for cls, items in docs.items():
            t_open = 0.0
            for _triples, raw in items:
                for data in raw:
                    t0 = pc()
                    try:
                        flatten_page_tree(PdfReader(data))
                    except Exception:
                        pass
                    t_open += pc() - t0
            t0 = pc()
            for triples, _raw in items:
                extract_document_spans(triples, options)
            best_full[cls] = min(best_full[cls], pc() - t0)
            best_open[cls] = min(best_open[cls], t_open)
    total = sum(best_full.values())
    rows = []
    for cls in CLASSES:
        n = max(len(docs[cls]), 1)
        rows.append((cls, len(docs[cls]),
                     None if cls == "HTML" else best_open[cls] / n * 1e6,
                     best_full[cls] / n * 1e6, best_full[cls] / total,
                     native_share(docs[cls], options),
                     native_docs(docs[cls], options)))
    return rows


def print_class_table(rows: list[tuple]) -> None:
    print("| class | docs | open+tree µs/doc | full µs/doc | share of kernel "
          "| native pages | native docs |")
    print("|---|---|---|---|---|---|---|")
    for cls, n, open_us, full_us, share, pages, docs in rows:
        o = "-" if open_us is None else f"{open_us:.0f}"
        nat = ["-" if v is None else f"{v:.1%}" for v in (pages, docs)]
        print(f"| {cls} | {n} | {o} | {full_us:.0f} | {share:.0%} "
              f"| {nat[0]} | {nat[1]} |")


def batch_leg(seed: int, reps: int) -> dict:
    """``_extract_batches`` µs/doc over the seed's corpus staged as
    ``BATCH_ROWS``-row Arrow batches, native and with the C batch loop
    forced off, alternating, each at its best of ``reps``; and the batch
    loop's served and hand-back counts by reason over one native pass."""
    import pyarrow as pa

    from oxidizepdf_spark import pipeline
    from oxidizepdf_spark.corpus import all_cases, gen_doc
    from oxidizepdf_spark.kernel import content, extract
    from oxidizepdf_spark.kernel.textstate import ExtractionOptions

    cases = all_cases()
    rows = [gen_doc(i, seed, cases)[0] for i in range(N_DOCS)]
    batches = [
        pa.RecordBatch.from_arrays(
            [pa.array([r["doc_id"] for r in chunk], pa.string()),
             pa.array([r["part_id"] for r in chunk], pa.int32()),
             pa.array([[{k: s[k] for k in ("kind", "text", "media_ref")}
                        for s in r["spans"]] for r in chunk], _span_type())],
            names=["doc_id", "part_id", "spans"])
        for chunk in (rows[i:i + BATCH_ROWS]
                      for i in range(0, N_DOCS, BATCH_ROWS))]
    options = ExtractionOptions()
    serves = extract._batch_loop_serves

    def run(native: bool) -> float:
        extract._batch_loop_serves = serves if native else (lambda o: False)
        try:
            t0 = time.perf_counter()
            for _ in pipeline._extract_batches(batches, options):
                pass
            return time.perf_counter() - t0
        finally:
            extract._batch_loop_serves = serves

    ck = content._CSCAN
    if ck is not None:
        ck.batch_counts(True)
        ck.filter_counts(True)
    run(True)
    out = {"batch_counts": ck.batch_counts(True) if ck else None,
           "filter_counts": ck.filter_counts(True) if ck else None}
    run(False)
    best = {True: float("inf"), False: float("inf")}
    for _ in range(max(reps, 1)):
        for native in (True, False):
            best[native] = min(best[native], run(native))
    out["batch_native_us_per_doc"] = best[True] / N_DOCS * 1e6
    out["batch_python_us_per_doc"] = best[False] / N_DOCS * 1e6
    return out


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

    print_class_table(class_table(args.seed, args.reps))
    out = {"c_fast_path": int(content._CSCAN is not None)}
    out.update(batch_leg(args.seed, args.reps))
    out.update(replay_layers(args.seed, args.reps))
    out.update(fixture_legs(args.reps))
    print(json.dumps({k: round(v, 5) if isinstance(v, float) else v
                      for k, v in out.items()}))


if __name__ == "__main__":
    main()
