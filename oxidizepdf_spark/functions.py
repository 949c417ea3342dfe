"""SQL-facing function surface: register the extraction kernels as Spark
SQL functions so ``spark.sql(...)`` users can call the engine directly.

    from oxidizepdf_spark.functions import register_sql_functions
    register_sql_functions(spark)
    spark.sql("SELECT doc_id, oxpdf_extract_text(pdf_bytes) FROM corpus")

All functions are Arrow-batched UDFs (vectorized transport; the
per-document kernel runs inside, same as the pipeline). Registered names:

- ``oxpdf_extract_text(binary) -> string``      full-document text
- ``oxpdf_extract_text_pw(binary, string) -> string``  with a password
- ``oxpdf_page_count(binary) -> int``           page count (0 on error)
- ``oxpdf_metadata_json(binary) -> string``     metadata dict as JSON
- ``oxpdf_tables_json(binary) -> string``       detected bordered tables
- ``oxpdf_elements_json(binary) -> string``     typed elements (title/para)
- ``oxhtml_main_content(string) -> string``     HTML boilerplate strip

Each function is a ``make_body()`` factory — run once per task for the
lazy kernel imports and options — returning a per-value body that
``_sql_function`` lifts over Arrow batches. A NULL first argument yields
NULL (``oxpdf_page_count``: 0) without calling the body.

UDF objects are built lazily (arrow_udf validates against a live session,
so module import must stay session-free for --py-files shipping).
"""

from __future__ import annotations

import json

from pyspark.sql import SparkSession


def _sql_function(make_body, return_type: str, null_result=None):
    """Lift a per-value body into an Arrow-batched scalar UDF: one
    ``make_body()`` per task, then ``body(*values)`` per row with the
    input columns read by ``to_pylist()``."""
    from pyspark.sql.functions import ArrowUDFType, arrow_udf
    from pyspark.sql.pandas.types import to_arrow_type
    from pyspark.sql.types import DataType

    arrow_type = to_arrow_type(DataType.fromDDL(return_type))

    def run(batches):
        import pyarrow as pa

        body = make_body()
        for cols in batches:
            if isinstance(cols, pa.Array):
                cols = (cols,)
            yield pa.array(
                [
                    null_result if vals[0] is None else body(*vals)
                    for vals in zip(*(c.to_pylist() for c in cols))
                ],
                type=arrow_type,
            )

    return arrow_udf(run, return_type, ArrowUDFType.SCALAR_ITER)


def _guarded(body, on_error):
    """Per-document error policy: a kernel exception yields ``on_error``."""

    def guarded(*vals):
        try:
            return body(*vals)
        except Exception:
            return on_error

    return guarded


def _extract_text():
    from .kernel.extract import extract_pdf_bytes

    # document text = pages joined with \n (reference extract_text page
    # loop). Within a page, concatenation of kind='text' spans equals the
    # page text — do NOT join spans with \n, or documents with
    # interleaved image spans gain newlines the reference never produces.
    return lambda blob: "\n".join(extract_pdf_bytes(blob).page_texts)


def _page_count():
    from .kernel.extract import extract_pdf_bytes

    return lambda blob: extract_pdf_bytes(blob).n_pages


def _metadata_json():
    from .kernel.extract import extract_metadata

    return lambda blob: json.dumps(extract_metadata(blob), sort_keys=True)


def _html_main_content():
    from .kernel.html_extract import extract_html_spans

    # HTML text spans are whole block segments (already stripped, never
    # split mid-block by an image span), so newline-joining blocks is the
    # faithful main-content text — unlike the PDF leg above.
    return lambda html: "\n".join(
        s[1] for s in extract_html_spans(html) if s[0] == "text"
    )


def _extract_text_pw():
    from .kernel.extract import extract_pdf_bytes
    from .kernel.textstate import ExtractionOptions

    def body(blob, password):
        res = extract_pdf_bytes(blob, ExtractionOptions(password=password))
        return "\n".join(res.page_texts)

    return body


def _tables_json():
    from .kernel.extract import extract_pdf_bytes
    from .kernel.pages import flatten_page_tree, page_content
    from .kernel.reader import PdfReader
    from .kernel.tables import detect_page_tables
    from .kernel.textstate import ExtractionOptions

    opts = ExtractionOptions(preserve_layout=True)

    def body(pdf):
        res = extract_pdf_bytes(pdf, opts)
        reader = PdfReader(pdf)
        tables = []
        for i, page in enumerate(flatten_page_tree(reader)):
            frags = res.page_fragments[i] if i < len(res.page_fragments) else []
            for t in detect_page_tables(page_content(reader, page), frags):
                tables.append(
                    {
                        "page": i,
                        "rows": t.rows,
                        "cols": t.columns,
                        "cells": [[c.row, c.column, c.text] for c in t.cells],
                    }
                )
        return json.dumps(tables, sort_keys=True)

    return _guarded(body, json.dumps([]))


def _elements_json():
    from .kernel.elements import classify_pages
    from .kernel.extract import extract_pdf_bytes
    from .kernel.textstate import ExtractionOptions

    opts = ExtractionOptions(preserve_layout=True, reconstruct_paragraphs=True)

    def body(blob):
        els = classify_pages(extract_pdf_bytes(blob, opts).page_fragments)
        return json.dumps(
            [
                {"kind": e.kind, "text": e.text, "heading": e.heading, "page": e.page}
                for e in els
            ]
        )

    return _guarded(body, json.dumps([]))


def _export_markdown():
    """PDF blob → structured markdown (ai/formats.rs export surface over
    this engine's elements + table detection): '##' headings, paragraph
    blocks, pipe tables, '# Document' default title."""
    from .kernel.ai_export import export_structured_markdown
    from .kernel.elements import classify_pages
    from .kernel.extract import extract_pdf_bytes
    from .kernel.pages import flatten_page_tree, page_content
    from .kernel.reader import PdfReader
    from .kernel.tables import detect_page_tables
    from .kernel.textstate import ExtractionOptions

    flat_opts = ExtractionOptions(preserve_layout=True)
    para_opts = ExtractionOptions(preserve_layout=True, reconstruct_paragraphs=True)

    def body(pdf):
        # tables detect on UN-merged fragments (cell assignment is
        # center-containment; paragraph merge would fuse cells)
        flat = extract_pdf_bytes(pdf, flat_opts)
        reader = PdfReader(pdf)
        tables = []
        boxes: dict[int, list] = {}
        for i, page in enumerate(flatten_page_tree(reader)):
            frags = flat.page_fragments[i] if i < len(flat.page_fragments) else []
            for t in detect_page_tables(page_content(reader, page), frags):
                tables.append(t)
                boxes.setdefault(i, []).append(t.bbox)
        # elements classify on paragraph-merged fragments, minus any
        # fragment inside a detected table (it renders as pipe rows, not
        # duplicated prose)
        res = extract_pdf_bytes(pdf, para_opts)
        kept = []
        for i, page_frags in enumerate(res.page_fragments):
            page_boxes = boxes.get(i, [])
            kept.append(
                [
                    f
                    for f in page_frags
                    if not any(
                        bx <= f.x + f.width / 2 <= bx + bw
                        and by <= f.y + f.height / 2 <= by + bh
                        for bx, by, bw, bh in page_boxes
                    )
                ]
            )
        return export_structured_markdown(classify_pages(kept), tables)

    return _guarded(body, None)


def _corruption_json():
    """PDF blob → corruption-triage report JSON (recovery/corruption.rs
    detect_corruption) — the cheap pre-parse health probe for ingest
    batches: severity histograms tell you which source needs the
    recovery path before paying full extraction."""
    from .kernel.diagnostics import detect_corruption

    def body(blob):
        r = detect_corruption(blob)
        r.pop("sections", None)  # offsets are intra-doc detail
        return json.dumps(r, sort_keys=True)

    return _guarded(body, None)


def _signatures_json():
    """PDF blob → digital-signature report JSON (signatures/detection.rs
    + cms.rs + verification.rs): one entry per /FT /Sig field with signer
    CN, algorithms, cryptographic validity, and incremental-update flag —
    the provenance/integrity column a corpus-quality gate filters on."""
    from .kernel.extract import extract_signatures

    return _guarded(
        lambda blob: json.dumps(extract_signatures(blob), sort_keys=True), None
    )


def _pdfa_json():
    """PDF blob → PDF/A self-claim validation JSON (pdfa/validator.rs
    check sequence against the document's own XMP pdfaid claim): the
    archival-grade flag a corpus-quality filter keys on."""
    from .kernel.pdfa import validate_claimed_pdfa

    return _guarded(
        lambda blob: json.dumps(validate_claimed_pdfa(blob), sort_keys=True), None
    )


def _entities_json():
    """PDF blob → AI-Ready semantic EntityMap JSON (semantic/export.rs
    shape): rich-partition the document (element.rs parity) and derive
    one typed, bbox-anchored entity per element — the read-side
    realization of the reference's PRO-gated ML-ready export."""
    from .kernel.partition import partition_pdf_bytes
    from .kernel.semantic import entities_from_partition

    return _guarded(
        lambda blob: entities_from_partition(
            partition_pdf_bytes(blob)
        ).to_json_compact(),
        None,
    )


def _chunks_compact():
    """Text → #oxct/1 token-efficient chunk serialization
    (ai/chunking.rs DocumentChunker 512/50 defaults + formats.rs
    TokenEfficientExporter) — the RAG hand-off in one SQL call."""
    from .kernel.ai_export import chunk_text, export_chunks_compact

    return lambda text: export_chunks_compact(chunk_text(str(text)))


def _rag_chunks_json():
    """PDF blob → JSON array of linked RagChunks with full chunk metadata
    (pipeline/rag.rs RagChunk over the rich partitioner): heading paths,
    dominant font/style, content-type flags, counts, stable chunk ids
    with prev/next links, per-page citation regions, table dims. The
    vector-store ingest record in one SQL call."""
    from .kernel.rag_graph import rag_chunks_pdf_bytes

    return _guarded(
        lambda blob: json.dumps(
            [c.to_dict() for c in rag_chunks_pdf_bytes(blob)], sort_keys=True
        ),
        None,
    )


def _images_json():
    """PDF blob → JSON array of embedded-image records
    (operations/extract_images.rs ImageExtractor): page, index, resource
    name, reference file name, dims, format, encoded byte count and md5.
    Pixels stay out of the JSON — a pipeline selects the images it wants
    and re-extracts those blobs columnar-side."""
    import hashlib

    from .kernel.extract_images import extract_images_from_pdf

    def body(blob):
        return json.dumps(
            [
                {
                    "page": im.page_number,
                    "index": im.image_index,
                    "name": im.name,
                    "file_name": im.file_name,
                    "width": im.width,
                    "height": im.height,
                    "format": im.format,
                    "n_bytes": len(im.data),
                    "md5": hashlib.md5(im.data).hexdigest(),
                }
                for im in extract_images_from_pdf(blob)
            ],
            sort_keys=True,
        )

    return _guarded(body, None)


def build_udfs() -> dict:
    """Name → Arrow UDF, built against the active session."""
    return {
        "oxpdf_extract_text": _sql_function(_extract_text, "string"),
        "oxpdf_extract_text_pw": _sql_function(_extract_text_pw, "string"),
        "oxpdf_page_count": _sql_function(_page_count, "int", null_result=0),
        "oxpdf_metadata_json": _sql_function(_metadata_json, "string"),
        "oxpdf_tables_json": _sql_function(_tables_json, "string"),
        "oxpdf_elements_json": _sql_function(_elements_json, "string"),
        "oxhtml_main_content": _sql_function(_html_main_content, "string"),
        "oxpdf_export_markdown": _sql_function(_export_markdown, "string"),
        "oxtext_chunks_compact": _sql_function(_chunks_compact, "string"),
        "oxpdf_corruption_json": _sql_function(_corruption_json, "string"),
        "oxpdf_rag_chunks_json": _sql_function(_rag_chunks_json, "string"),
        "oxpdf_images_json": _sql_function(_images_json, "string"),
        "oxpdf_signatures_json": _sql_function(_signatures_json, "string"),
        "oxpdf_entities_json": _sql_function(_entities_json, "string"),
        "oxpdf_pdfa_json": _sql_function(_pdfa_json, "string"),
    }


def register_sql_functions(spark: SparkSession) -> dict:
    """Register all engine functions on the session (idempotent). Returns
    the UDF objects for DataFrame-API use."""
    udfs = build_udfs()
    for name, udf in udfs.items():
        spark.udf.register(name, udf)
    return udfs
