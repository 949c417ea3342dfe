"""Single-process replay of the extraction kernel, timed per layer.

Calls the kernel's public functions in the order
``extract.extract_pdf_bytes`` uses them (default options: tolerant,
emission reading order, no password, no OCR) and times each call:

    reader.PdfReader -> pages.flatten_page_tree -> per page:
    fonts.extract_page_fonts -> pages.page_content ->
    content.parse_and_run -> Interpreter.finalize

plus ``html_extract.extract_html_spans`` for HTML payloads. Each sampled
document is also run through ``extract_document_spans`` itself; the
replay's spans must equal that output. ``kernel.extract.other_s`` is the
replay's own time outside the named calls (payload decoding, interpreter
construction, interleaving and span assembly).
"""

from __future__ import annotations

import random
import time

LAYERS = (
    "kernel.reader.open_s",
    "kernel.pages.tree_s",
    "kernel.fonts.page_fonts_s",
    "kernel.pages.content_s",
    "kernel.content.interpret_s",
    "kernel.textstate.finalize_s",
    "kernel.html_s",
)


def _replay_doc(in_spans, acc: dict) -> list:
    from oxidizepdf_spark.kernel.content import parse_and_run
    from oxidizepdf_spark.kernel.extract import decode_raw_payload
    from oxidizepdf_spark.kernel.fonts import extract_page_fonts
    from oxidizepdf_spark.kernel.html_extract import extract_html_spans
    from oxidizepdf_spark.kernel.pages import flatten_page_tree, page_content
    from oxidizepdf_spark.kernel.reader import PdfReader
    from oxidizepdf_spark.kernel.textstate import ExtractionOptions, Interpreter

    options = ExtractionOptions()
    pc = time.perf_counter
    t_doc = pc()
    out = []
    for kind, text, media_ref in in_spans:
        if kind == "raw_pdf":
            data = decode_raw_payload(text or "")
            t0 = pc()
            reader = PdfReader(data, lenient=True)
            t1 = pc()
            pages = flatten_page_tree(reader)
            t2 = pc()
            acc["kernel.reader.open_s"] += t1 - t0
            acc["kernel.pages.tree_s"] += t2 - t1
            acc["kernel.pages"] += len(pages)
            if reader.mode == "recovered":
                acc["kernel.recovered_docs"] += 1
            for idx, page in enumerate(pages):
                t0 = pc()
                fonts = extract_page_fonts(page.resources, reader)
                t1 = pc()
                content = page_content(reader, page)
                t2 = pc()
                interp = Interpreter(reader=reader, fonts=fonts,
                                     options=options, page_index=idx)
                t3 = pc()
                parse_and_run(interp, content, page.resources)
                t4 = pc()
                page_out = interp.finalize()
                t5 = pc()
                acc["kernel.fonts.page_fonts_s"] += t1 - t0
                acc["kernel.pages.content_s"] += t2 - t1
                acc["kernel.content.interpret_s"] += t4 - t3
                acc["kernel.textstate.finalize_s"] += t5 - t4
                acc["kernel.content_bytes"] += len(content)
                out.extend(page_out.spans)
        elif kind == "raw_html":
            t0 = pc()
            out.extend(extract_html_spans(text or ""))
            acc["kernel.html_s"] += pc() - t0
        elif kind == "text":
            out.append(("text", text or "", None))
        elif kind == "media":
            out.append(("media", text or "", media_ref))
        else:
            out.append((kind, text or "", media_ref))
    spans = [(k, t, m, i) for i, (k, t, m) in enumerate(out)]
    acc["replay_s"] += pc() - t_doc
    return spans


def sample_rows(seed: int, n_docs: int, sample: int,
                mega_doc_rate: float = 0.02) -> list:
    """The input rows of a seeded sample of ``sample`` documents from the
    ``n_docs``-document ``corpus.gen_doc`` corpus of ``seed``: the same
    documents ``random.Random(seed).sample`` picks from that corpus's
    staged rows, generated without staging the rest."""
    from oxidizepdf_spark.corpus import all_cases, gen_doc

    cases = all_cases()
    picked = random.Random(seed).sample(range(n_docs), min(sample, n_docs))
    return [gen_doc(i, seed, cases, mega_doc_rate=mega_doc_rate)[0]
            for i in picked]


def replay(seed: int, n_docs: int, sample: int,
           mega_doc_rate: float = 0.02) -> dict:
    """Replay a seeded sample of the ``gen_doc`` corpus of ``seed`` (see
    ``sample_rows``). Returns layer seconds and counts for the sample,
    plus ``mismatches`` (documents whose replay differs from
    ``extract_document_spans``) and ``per_doc_s`` (that function's mean
    wall time per sampled document)."""
    from oxidizepdf_spark.kernel.extract import extract_document_spans

    picked = sample_rows(seed, n_docs, sample, mega_doc_rate)
    acc = dict.fromkeys(LAYERS, 0.0)
    acc.update({"kernel.pages": 0, "kernel.content_bytes": 0,
                "kernel.recovered_docs": 0, "replay_s": 0.0})
    # warm imports and per-process caches outside the timed sums
    for row in picked[:20]:
        extract_document_spans(
            [(s["kind"], s["text"], s["media_ref"]) for s in row["spans"]])
    real_s, spans, mismatches = 0.0, 0, 0
    for row in picked:
        triples = [(s["kind"], s["text"], s["media_ref"]) for s in row["spans"]]
        t0 = time.perf_counter()
        want, _meta = extract_document_spans(triples)
        real_s += time.perf_counter() - t0
        try:
            got = _replay_doc(triples, acc)
        except Exception:  # a replay that cannot follow the kernel
            got = None
        if got != want:
            mismatches += 1
        spans += len(want)
    acc["kernel.extract.other_s"] = acc.pop("replay_s") - sum(
        acc[k] for k in LAYERS)
    acc["kernel.docs"] = len(picked)
    acc["kernel.spans"] = spans
    acc["mismatches"] = mismatches
    acc["per_doc_s"] = real_s / max(len(picked), 1)
    return acc
