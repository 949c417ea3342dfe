"""Top-level per-document extraction: raw PDF bytes → ordered spans.

Mirrors the reference's query lifecycle (SURVEY.md §3.1-3.2):

    PdfReader::open → page-tree flatten → per page: font resources →
    content assembly → ContentParser → stateful interpretation → spans

plus the engine's interleaving contract: input documents arrive as span
arrays where ``kind='raw_pdf'`` spans carry PDF payloads and
``kind='text'``/``kind='media'`` spans pass through at their sequence
position (FIXTURES.md §1.1).

Error policy mirrors ParseOptions tolerant mode (parser/mod.rs:208-324):
errors become structured results (``error`` + ``mode`` fields), never
exceptions — a corrupt document must not fail a Spark task.
"""

from __future__ import annotations

import base64
import functools
import time

from . import content as _content
from .html_extract import LINK_DENSITY_MAX, MIN_BLOCK_CHARS
from .objects import PdfParseError, Ref
from .pages import MAX_TREE_DEPTH, _safe_decode, flatten_page_tree, page_content
from .reader import EncryptedPdfError, PdfReader
from .textstate import ExtractionOptions, Interpreter
from .fonts import extract_page_fonts
from .content import parse_and_run

# span tuple: (kind, text, media_ref) — offset assigned at the end

#: The options of a call that passes none. Shared, so never mutated: a
#: caller that needs other options copies first (``with_password``,
#: ``copy.copy``).
_DEFAULT_OPTIONS = ExtractionOptions()


class DocResult:
    __slots__ = ("spans", "n_pages", "error", "mode", "bytes_in", "page_fragments", "page_texts")

    def __init__(self):
        self.spans: list[tuple[str, str, str | None]] = []
        self.n_pages = 0
        self.error: str | None = None
        self.mode = "strict"
        self.bytes_in = 0
        # per-page positioned fragments + final text (populated when
        # options.preserve_layout / reconstruct_paragraphs are on)
        self.page_fragments: list[list] = []
        self.page_texts: list[str] = []


def _page_loop_serves(options: ExtractionOptions) -> bool:
    """Whether the C page loop (``run_pages``) may run these options: it
    builds no positioned fragments, so no layout, emission order and no
    OCR. The thresholds and ``include_artifacts`` go along with the call,
    and a page that fails bails to the Python loop in every error mode."""
    return (
        not options.preserve_layout
        and options.reading_order == "emission"
        and options.ocr_provider is None
    )


def extract_pdf_bytes(
    data: bytes, options: ExtractionOptions | None = None
) -> DocResult:
    """Whole-document extraction (reference: extract_text → per-page loop,
    text/extraction.rs:640-652). Page order follows the page tree (S11).

    With the C kernel loaded and options the C page loop serves, the pages
    run natively in one call (``_cscan.c`` ``run_pages``: fonts, contents,
    interpretation and finalize per page, calling the Python
    ``extract_font_info`` on a FontInfo cache miss). A page it is not
    certain about bails, and the loop below runs that page and stays the
    authority; the C loop then resumes at the next page."""
    res = DocResult()
    res.bytes_in = len(data)
    if options is None:
        options = _DEFAULT_OPTIONS
    strict = options.error_mode == "strict"
    try:
        reader = PdfReader(data, lenient=not strict,
                           password=options.password,
                           recipient_key=getattr(options, "recipient_key",
                                                 None))
    except EncryptedPdfError:
        res.error = "encrypted"
        return res
    except PdfParseError as e:
        res.error = f"parse:{e}"
        return res
    except Exception as e:  # pragma: no cover — absolute backstop
        res.error = f"internal:{type(e).__name__}:{e}"
        return res
    res.mode = reader.mode
    try:
        pages = flatten_page_tree(reader)
    except PdfParseError as e:
        res.error = f"pages:{e}"
        return res
    except Exception as e:  # pragma: no cover
        res.error = f"internal:{type(e).__name__}:{e}"
        return res
    res.n_pages = len(pages)
    struct_orders = (
        structure_mcid_order(reader)
        if options.reading_order == "structure"
        else None
    )
    ck = _content._CSCAN if _page_loop_serves(options) else None
    idx = 0
    while idx < res.n_pages:
        if ck is not None:
            stop = ck.run_pages(
                reader, pages, idx, res.spans, res.page_texts,
                res.page_fragments, options.newline_threshold,
                options.space_threshold, options.tj_space_threshold,
                options.include_artifacts, _safe_decode,
            )
            if stop is None:  # not served at all (encrypted)
                ck = None
            elif stop >= res.n_pages:
                break
            else:  # page `stop` bailed: it runs below
                idx = stop
        page = pages[idx]
        try:
            fonts = extract_page_fonts(page.resources, reader)
            content = page_content(reader, page)
            interp = Interpreter(
                reader=reader, fonts=fonts, options=options, page_index=idx,
                struct_order=(
                    struct_orders.get(idx) if struct_orders is not None else None
                ),
            )
            # fused tokenize+parse+interpret — identical semantics to
            # interp.run(parse_content(content), ...) (property-pinned)
            parse_and_run(interp, content, page.resources)
            out = interp.finalize()
            page_spans, page_text = out.spans, out.text
            if options.ocr_provider is not None:
                page_spans, page_text = _ocr_page(
                    reader, page, page_spans, page_text, options.ocr_provider
                )
            res.spans.extend(page_spans)
            res.page_fragments.append(out.fragments)
            res.page_texts.append(page_text)
        except Exception as e:
            if strict:
                # strict tier: a bad page fails the document
                res.error = f"page{idx}:{type(e).__name__}:{e}"
                return res
            if options.error_mode != "skip":
                # tolerant: degrade, record error-as-data, keep going
                res.error = f"page{idx}:{type(e).__name__}:{e}"
        idx += 1
    return res


def _ocr_page(reader, page, spans, text, provider):
    """OCR SPI integration (text/ocr/ mod + tesseract_provider.rs wiring,
    pipeline: scanned page → provider → text): fires only when the page
    yielded NO text but has image spans — the scanned-page class. Each
    named image XObject's raw stream bytes go to ``provider``; returned
    text becomes a span spliced directly after the image span. Inline
    images (media_ref 'inline:p:i') carry no fetchable resource and are
    skipped. A provider error degrades to no-OCR for that image (tolerant
    mode), never a page failure."""
    from .objects import Ref, Stream

    if any(k == "text" and t for k, t, _ in spans):
        return spans, text
    if not any(k == "image" for k, _, _ in spans):
        return spans, text
    xobjects = (page.resources or {}).get("XObject")
    if isinstance(xobjects, Ref):
        xobjects = reader.resolve(xobjects)
    if not isinstance(xobjects, dict):
        return spans, text
    out = []
    ocr_texts = []
    for span in spans:
        out.append(span)
        if span[0] != "image":
            continue
        target = xobjects.get(span[2])
        obj = reader.resolve(target) if isinstance(target, Ref) else target
        if not isinstance(obj, Stream):
            continue
        try:
            recognized = provider(bytes(obj.raw))
        except Exception:
            continue
        if recognized:
            out.append(("text", recognized, None))
            ocr_texts.append(recognized)
    return out, (text or "\n".join(ocr_texts))


_XMP_FIELDS = (
    # (xmp tag regex, output key) — /Info wins, XMP fills the gaps
    (rb"<dc:title>.*?<rdf:li[^>]*>(.*?)</rdf:li>", "title"),
    (rb"<dc:creator>.*?<rdf:li[^>]*>(.*?)</rdf:li>", "author"),
    (rb"<dc:description>.*?<rdf:li[^>]*>(.*?)</rdf:li>", "subject"),
    (rb"<pdf:Producer>(.*?)</pdf:Producer>", "producer"),
    (rb"<xmp:CreatorTool>(.*?)</xmp:CreatorTool>", "creator"),
)


def _parse_xmp(xmp: bytes, out: dict) -> None:
    """Minimal XMP packet scrape (dc/pdf/xmp namespaces). /Info values take
    precedence (matching common tooling); XMP fills absent fields."""
    import re as _re

    for pat, key in _XMP_FIELDS:
        if out.get(key) is None:
            m = _re.search(pat, xmp, _re.S)
            if m:
                val = m.group(1).strip()
                if val:
                    out[key] = val.decode("utf-8", "replace")


def extract_metadata(data: bytes) -> dict:
    """Document metadata (reference: PdfDocument metadata accessors over the
    trailer /Info dict, document.rs; /Metadata XMP stream decoded like the
    PDF/A validator's check_metadata path — issue_346 fixtures): returns
    {version, n_pages, title, author, subject, producer, creator,
    xmp_present, error}. /Info strings decode per the PDF text-string rules
    (UTF-16BE BOM else PDFDoc bytes); XMP fills fields /Info lacks. An
    undecodable /Metadata stream (unsupported filter) degrades to
    xmp_present=False, never an error (issue_346 semantics)."""
    from .textstate import _decode_pdf_string

    out = {
        "version": None, "n_pages": 0, "title": None, "author": None,
        "subject": None, "producer": None, "creator": None,
        "xmp_present": False, "error": None,
    }
    try:
        reader = PdfReader(data)
        out["version"] = f"{reader.version[0]}.{reader.version[1]}"
        out["n_pages"] = len(flatten_page_tree(reader))
        info = reader.resolve(reader.trailer.get("Info"))
        if isinstance(info, dict):
            for key, col in (
                ("Title", "title"), ("Author", "author"),
                ("Subject", "subject"), ("Producer", "producer"),
                ("Creator", "creator"),
            ):
                v = reader.resolve(info.get(key))
                if isinstance(v, bytes):
                    out[col] = _decode_pdf_string(v)
                elif isinstance(v, str):
                    out[col] = str(v)
        try:
            from .objects import Stream

            md = reader.resolve(reader.catalog().get("Metadata"))
            if isinstance(md, Stream):
                xmp = md.decode(resolve=reader.resolve)
                if b"xpacket" in xmp or b"x:xmpmeta" in xmp:
                    out["xmp_present"] = True
                    _parse_xmp(xmp, out)
        except Exception:
            pass  # undecodable /Metadata: report absent, never fail
    except EncryptedPdfError:
        out["error"] = "encrypted"
    except PdfParseError as e:
        out["error"] = f"parse:{e}"
    return out


_OUTLINE_MAX_ITEMS = 10000


def _fmt_coord(v: float) -> str:
    """Canonical coordinate formatting for rect strings: integral values
    print as ints ('50' not '50.0') so fixture oracles can build the same
    string with plain SQL concatenation."""
    return str(int(v)) if float(v).is_integer() else repr(float(v))


def _page_ref_index(reader) -> dict:
    """Map page object Ref → page index in tree order (the mapping
    outline /Dest arrays and GoTo actions need; document.rs page lookup)."""
    from .objects import Ref

    index: dict = {}
    seen: set = set()
    count = [0]  # every page leaf advances the counter, Ref or inline dict,
    # so numbering stays aligned with flatten_page_tree (which keeps both)

    def walk(ref_or_node, depth: int):
        if depth > 64:
            return
        node = reader.resolve(ref_or_node)
        if not isinstance(node, dict):
            return
        node_type = str(node.get("Type", ""))
        if node_type == "Page" or ("Kids" not in node and "Contents" in node):
            if isinstance(ref_or_node, Ref):
                index.setdefault(ref_or_node, count[0])
            count[0] += 1
            return
        kids = reader.resolve(node.get("Kids"))
        if isinstance(kids, list):
            for kid in kids:
                marker = kid if isinstance(kid, Ref) else id(kid)
                if marker in seen:
                    continue
                seen.add(marker)
                walk(kid, depth + 1)

    walk(reader.catalog().get("Pages"), 0)
    return index


def structure_mcid_order(reader) -> dict[int, list[int]]:
    """Tagged-PDF reading order (structure/tagged.rs + marked_content.rs):
    pre-order walk of /StructTreeRoot's /K tree collecting MCIDs per page
    — the author-declared content order. Handles all three /K shapes:
    integer MCID (page from the element's inherited /Pg), MCR dicts
    (<< /Type /MCR /Pg ... /MCID n >>), and nested element dicts/arrays.
    Returns {page_index: [mcid, ...]} in document order; Ref cycle guard
    (plain ints are never marked — CPython interns small ints)."""
    from .objects import Ref

    idx_map = _page_ref_index(reader)
    orders: dict[int, list[int]] = {}
    root = reader.resolve(reader.catalog().get("StructTreeRoot"))
    if not isinstance(root, dict):
        return orders
    seen: set = set()

    def walk(node, inherited_pg, depth: int):
        if depth > 64 or node is None:
            return
        if isinstance(node, Ref):
            if node in seen:
                return
            seen.add(node)
            node = reader.resolve(node)
        if isinstance(node, list):
            for item in node:
                walk(item, inherited_pg, depth + 1)
            return
        if isinstance(node, int) and not isinstance(node, bool):
            pi = idx_map.get(inherited_pg)
            if pi is not None:
                orders.setdefault(pi, []).append(node)
            return
        if not isinstance(node, dict):
            return
        pg = node.get("Pg", inherited_pg)
        if "MCID" in node:  # marked-content reference
            mc = node.get("MCID")
            pi = idx_map.get(pg)
            if pi is not None and isinstance(mc, int) and not isinstance(mc, bool):
                orders.setdefault(pi, []).append(mc)
            return
        walk(node.get("K"), pg, depth + 1)

    walk(root.get("K"), None, 0)
    return orders


def extract_outline(data: bytes, password: str | None = None) -> list[dict]:
    """Document outline / bookmarks (structure/outline.rs:130 OutlineTree):
    pre-order walk of the catalog /Outlines tree via /First-/Next sibling
    chains, emitting one dict per item with its pre-order position, nesting
    level, decoded /Title, and destination page index (from /Dest arrays or
    GoTo /A actions). Bookmarks are the highest-quality heading lineage a
    RAG chunker can get — the reference's OutlineTree is exactly this walk.
    Cycle + size guards keep hostile trees bounded."""
    from .objects import Ref
    from .textstate import _decode_pdf_string

    reader = PdfReader(data, password=password)
    page_index = _page_ref_index(reader)
    out: list[dict] = []
    seen: set = set()
    named: list = []  # lazy [dict] — name → dest value

    def named_dests() -> dict:
        """Named-destination map, built on first use: catalog /Dests dict
        (PDF 1.1) plus the /Names → /Dests name tree (document.rs named
        destination resolution — real arXiv/LaTeX outlines point at
        'section.N' names, not direct arrays)."""
        if named:
            return named[0]
        table: dict = {}
        catalog = reader.catalog()
        legacy = reader.resolve(catalog.get("Dests"))
        if isinstance(legacy, dict):
            for k, v in legacy.items():
                table[k.encode("latin-1") if isinstance(k, str) else k] = v

        tree_seen: set = set()

        def walk_tree(node, depth: int):
            if isinstance(node, Ref):
                if node in tree_seen:
                    return
                tree_seen.add(node)
            node = reader.resolve(node)
            if not isinstance(node, dict) or depth > 64:
                return
            pairs = reader.resolve(node.get("Names"))
            if isinstance(pairs, list):
                for i in range(0, len(pairs) - 1, 2):
                    k = reader.resolve(pairs[i])
                    if isinstance(k, bytes):
                        table[k] = pairs[i + 1]
            kids = reader.resolve(node.get("Kids"))
            if isinstance(kids, list):
                for kid in kids:
                    walk_tree(kid, depth + 1)

        names = reader.resolve(catalog.get("Names"))
        if isinstance(names, dict):
            walk_tree(names.get("Dests"), 0)
        named.append(table)
        return table

    def _num(v):
        v = reader.resolve(v)
        if isinstance(v, (int, float)) and not isinstance(v, bool):
            return float(v)
        return None  # PDF null → "current value unchanged" (§12.3.2)

    def dest_info(item: dict):
        """(page_idx, fit_type, x, y, zoom, rect) from the /Dest array
        (structure/destination.rs:7-29 DestinationType; §12.3.2 Table 151):
        XYZ carries left/top/zoom; FitH/FitBH a top; FitV/FitBV a left;
        FitR left,bottom,right,top (x/y surface its left/top corner AND
        the full rectangle comes back as the 'l,b,r,t' rect string —
        structure/destination.rs FitR carries all four coords);
        Fit/FitB carry nothing."""
        dest = reader.resolve(item.get("Dest"))
        if dest is None:
            action = reader.resolve(item.get("A"))
            if isinstance(action, dict) and str(action.get("S", "")) == "GoTo":
                dest = reader.resolve(action.get("D"))
        if isinstance(dest, (bytes, str)):  # named destination
            key = dest.encode("latin-1") if isinstance(dest, str) else dest
            dest = reader.resolve(named_dests().get(key))
            if isinstance(dest, dict):  # << /D [...] >> wrapper form
                dest = reader.resolve(dest.get("D"))
        none = (None, None, None, None, None, None)
        if not (isinstance(dest, list) and dest and isinstance(dest[0], Ref)):
            return none
        page_idx = page_index.get(dest[0])
        fit = str(dest[1]) if len(dest) > 1 and dest[1] is not None else None
        x = y = zoom = rect = None
        if fit == "XYZ":
            x = _num(dest[2]) if len(dest) > 2 else None
            y = _num(dest[3]) if len(dest) > 3 else None
            zoom = _num(dest[4]) if len(dest) > 4 else None
        elif fit in ("FitH", "FitBH"):
            y = _num(dest[2]) if len(dest) > 2 else None
        elif fit in ("FitV", "FitBV"):
            x = _num(dest[2]) if len(dest) > 2 else None
        elif fit == "FitR":
            x = _num(dest[2]) if len(dest) > 2 else None
            y = _num(dest[5]) if len(dest) > 5 else None
            coords = [
                _num(dest[i]) if len(dest) > i else None for i in (2, 3, 4, 5)
            ]
            if all(c is not None for c in coords):
                rect = ",".join(_fmt_coord(c) for c in coords)
        elif fit not in ("Fit", "FitB", None):
            fit = None  # unknown fit name: keep the page, drop the detail
        return page_idx, fit, x, y, zoom, rect

    def walk(ref, level: int):
        while ref is not None and len(out) < _OUTLINE_MAX_ITEMS:
            marker = ref if isinstance(ref, Ref) else id(ref)
            if marker in seen:
                return  # cycle guard
            seen.add(marker)
            item = reader.resolve(ref)
            if not isinstance(item, dict):
                return
            title = item.get("Title")
            page_idx, fit, x, y, zoom, rect = dest_info(item)
            out.append(
                {
                    "ord": len(out),
                    "level": level,
                    "title": (
                        _decode_pdf_string(title)
                        if isinstance(title, bytes)
                        else (str(title) if title is not None else None)
                    ),
                    "page_idx": page_idx,
                    "fit_type": fit,
                    "dest_x": x,
                    "dest_y": y,
                    "dest_zoom": zoom,
                    "dest_rect": rect,
                }
            )
            first = item.get("First")
            if first is not None:
                walk(first, level + 1)
            ref = item.get("Next")

    root = reader.resolve(reader.catalog().get("Outlines"))
    if isinstance(root, dict):
        walk(root.get("First"), 0)
    return out


def extract_elements(data: bytes, options: ExtractionOptions | None = None):
    """Typed document elements with OUTLINE-INFORMED headings
    (pipeline/partition.rs classification + structure/outline.rs lineage):
    layout extraction, then element classification where the document's
    /Outlines titles — when present — are authoritative headings, so
    outline-bearing PDFs chunk on their real section structure even when
    headings share the body font size. Returns (elements, DocResult)."""
    from .elements import classify_pages

    opts = options or ExtractionOptions(
        preserve_layout=True, reconstruct_paragraphs=True
    )
    res = extract_pdf_bytes(data, opts)
    if res.error is not None and not res.page_fragments:
        return [], res
    try:
        titles = {
            item["title"]
            for item in extract_outline(data, password=opts.password)
            if item["title"]
        }
    except Exception:
        titles = set()
    return (
        classify_pages(res.page_fragments, known_headings=titles or None),
        res,
    )


def extract_form_fields(data: bytes, password: str | None = None) -> list[dict]:
    """AcroForm field VALUES (forms/form_data.rs read-side: the /AcroForm
    → /Fields walk with /T qualified naming, /FT and /V attribute
    inheritance from non-terminal parents to kids): one dict per terminal
    field with its fully-qualified name (parent.T '.' child.T), field type,
    and decoded value. Text-field /V strings decode per PDF text-string
    rules; checkbox//radio /V Names surface as their bare name ('Yes',
    'Off'). Filled government/enterprise forms carry their payload here,
    invisible to content-stream extraction."""
    from .objects import Ref, Stream
    from .textstate import _decode_pdf_string

    reader = PdfReader(data, password=password)
    acro = reader.resolve(reader.catalog().get("AcroForm"))
    out: list[dict] = []
    if not isinstance(acro, dict):
        return out
    fields = reader.resolve(acro.get("Fields"))
    if not isinstance(fields, list):
        return out

    def decode_value(v):
        v = reader.resolve(v)
        if isinstance(v, bytes):
            return _decode_pdf_string(v)
        if v is None or isinstance(v, (dict, Stream)):
            # structured values (e.g. /Sig signature dictionaries) carry
            # no text payload — the field row keeps its type, value None
            return None
        if isinstance(v, list):
            # multi-select choice fields: joined selected options
            parts = [
                _decode_pdf_string(x) if isinstance(x, bytes) else str(x)
                for x in (reader.resolve(i) for i in v)
            ]
            return "; ".join(p for p in parts if p)
        return str(v)

    seen: set = set()

    def walk(ref, prefix: str, inherited_ft, inherited_v, depth: int):
        if depth > 32 or len(out) > _OUTLINE_MAX_ITEMS:
            return
        marker = ref if isinstance(ref, Ref) else id(ref)
        if marker in seen:
            return
        seen.add(marker)
        node = reader.resolve(ref)
        if not isinstance(node, dict):
            return
        t = node.get("T")
        name = (
            _decode_pdf_string(t)
            if isinstance(t, bytes)
            else (str(t) if t is not None else None)
        )
        qual = f"{prefix}.{name}" if (prefix and name) else (name or prefix)
        ft = node.get("FT", inherited_ft)
        v = node.get("V") if "V" in node else inherited_v
        kids = reader.resolve(node.get("Kids"))
        # non-terminal iff some kid carries its own /T (kids without /T
        # are widget annotations of THIS field, not child fields)
        child_fields = []
        if isinstance(kids, list):
            for k in kids:
                kd = reader.resolve(k)
                if isinstance(kd, dict) and kd.get("T") is not None:
                    child_fields.append(k)
        if child_fields:
            for k in child_fields:
                walk(k, qual, ft, v, depth + 1)
        else:
            out.append(
                {
                    "name": qual,
                    "ftype": str(ft) if ft is not None else None,
                    "value": decode_value(v),
                }
            )

    for f in fields:
        walk(f, "", None, None, 0)
    return out


#: Text-markup subtypes whose /QuadPoints cover page text (ISO Table 169;
#: reference annotations/markup.rs:87-146 MarkupType + annotation_type.rs:476).
_TEXT_MARKUP_SUBTYPES = frozenset(
    {"Highlight", "Underline", "StrikeOut", "Squiggly"}
)


def _quad_bboxes(quad_points: list[float]) -> list[tuple]:
    """Each 8-float group is one quadrilateral (markup.rs:42-56 writes them
    counterclockwise from lower-left); collapse each to its axis-aligned
    bbox — text-markup quads are axis-aligned rectangles in practice."""
    boxes = []
    for i in range(0, len(quad_points) - 7, 8):
        xs = quad_points[i:i + 8:2]
        ys = quad_points[i + 1:i + 8:2]
        boxes.append((min(xs), min(ys), max(xs), max(ys)))
    return boxes


def _raw_page_fragments(reader, page, idx: int) -> list:
    """Positioned pre-merge fragments for one page (the emission-order runs
    with device-space x/y/width/height) — the geometry markup QuadPoints
    resolve against. Errors degrade to no-fragments (annotation rows still
    emit, covered_text just stays None)."""
    try:
        fonts = extract_page_fonts(page.resources, reader)
        content = page_content(reader, page)
        interp = Interpreter(
            reader=reader,
            fonts=fonts,
            options=ExtractionOptions(preserve_layout=True),
            page_index=idx,
        )
        parse_and_run(interp, content, page.resources)
        return list(interp.fragments)
    except Exception:
        return []


def _covered_text(fragments: list, boxes: list[tuple]) -> str | None:
    """Resolve markup quads to the text they cover: a fragment belongs to
    the markup if its center point falls inside any quad bbox; hits are
    re-serialized in reading order (top-down, then left-right). This is the
    read-side completion of the reference's write-side QuadPoints model
    (markup.rs: quads are authored FROM the covered text's rects)."""
    hits = []
    for f in fragments:
        cx = f.x + f.width / 2.0
        cy = f.y + f.height / 2.0
        for (x0, y0, x1, y1) in boxes:
            if x0 <= cx <= x1 and y0 <= cy <= y1:
                hits.append(f)
                break
    if not hits:
        return None
    hits.sort(key=lambda f: (-round(f.y, 1), f.x))
    return " ".join(f.text for f in hits if f.text)


def extract_annotations(data: bytes, password: str | None = None) -> list[dict]:
    """Page-annotation extraction (the /Annots surface the reference parses
    at parser/page_tree.rs:568-578 and exposes via PdfPage.annotations):
    one dict per annotation with page index, /Subtype, the /A action's
    /URI (links), the /Contents text string, plus markup geometry
    (annotations/markup.rs:87-190, geometric.rs): /Rect, /QuadPoints quad
    count, /T author, and — for Highlight/Underline/StrikeOut/Squiggly —
    the page text the quads cover, resolved via the extractor's positioned
    fragment bboxes. Highlighted spans are prime supervision data in
    review-corpus mining; without covered_text the highlight's target is
    unrecoverable downstream.

    Action detail beyond /URI (reference src/actions/: action.rs:68-106
    Action variants, launch_action.rs:77-115 /F + /Win fallback,
    named_action.rs /N, goto_action.rs + action.rs GoToR /F + /D):
    every /A action also reports action_type (its /S name) and
    action_target — URI string, GoTo resolved page index ('page:N'),
    GoToR 'file#dest', Launch file (filespec dict /F//UF or /Win /F
    fallback), Named action name.

    Popup linkage (annotations/popup.rs:1-374, §12.5.6.14): a /Popup
    annotation is the presentation window of its parent markup annotation
    (linked forward via the parent's /Popup ref and backward via the
    popup's /Parent) — it is folded into the PARENT's row as
    popup_open/popup_rect rather than emitted standalone, which is what a
    review-thread miner wants (one row per comment, not per window).
    Orphan popups (no resolvable in-page parent) still get their own row."""
    from .textstate import _decode_pdf_string

    out: list[dict] = []
    reader = PdfReader(data, password=password)
    page_index_cache: list = []  # lazy: only GoTo actions pay for it

    def _text_of(v) -> str | None:
        v = reader.resolve(v)
        if isinstance(v, bytes):
            return _decode_pdf_string(v)
        if isinstance(v, str):
            return str(v)
        return None

    def _filespec(v) -> str | None:
        """File specification (§7.11): a string, or a dict whose /UF
        (Unicode) wins over /F (launch_action.rs:83 writes /F)."""
        v = reader.resolve(v)
        if isinstance(v, dict):
            return _text_of(v.get("UF")) or _text_of(v.get("F"))
        if isinstance(v, (bytes, str)):
            return _text_of(v)
        return None

    def _action_detail(action: dict) -> tuple[str | None, str | None]:
        s = action.get("S")
        atype = str(s) if s is not None else None
        target = None
        if atype == "URI":
            target = _text_of(action.get("URI"))
        elif atype == "GoTo":
            dest = reader.resolve(action.get("D"))
            if isinstance(dest, list) and dest and isinstance(dest[0], Ref):
                if not page_index_cache:
                    page_index_cache.append(_page_ref_index(reader))
                pidx = page_index_cache[0].get(dest[0])
                if pidx is not None:
                    target = f"page:{pidx}"
        elif atype == "GoToR":
            f = _filespec(action.get("F"))
            d = reader.resolve(action.get("D"))
            dest_s = _text_of(d) if isinstance(d, (bytes, str)) else None
            if f is not None:
                target = f if dest_s is None else f"{f}#{dest_s}"
        elif atype == "Launch":
            f = _filespec(action.get("F"))
            if f is None:  # Windows-specific fallback (launch_action.rs:93)
                win = reader.resolve(action.get("Win"))
                if isinstance(win, dict):
                    f = _text_of(win.get("F"))
            target = f
        elif atype == "Named":
            n = action.get("N")
            target = str(n) if n is not None else None
        elif atype == "SubmitForm":
            # form_actions.rs:87 SubmitFormAction: /F is the submission
            # URL (filespec form), /Flags the format bits
            target = _filespec(action.get("F"))
            flags = reader.resolve(action.get("Flags"))
            if target is not None and isinstance(flags, int) \
                    and not isinstance(flags, bool) and flags:
                target = f"{target};flags={flags}"
        elif atype == "ResetForm":
            # form_actions.rs:190 — target lists the affected fields
            fields = reader.resolve(action.get("Fields"))
            if isinstance(fields, list):
                names = [t for t in (_text_of(reader.resolve(f))
                                     for f in fields) if t]
                target = ",".join(names) or None
        elif atype == "ImportData":
            target = _filespec(action.get("F"))  # form_actions.rs:262
        elif atype == "JavaScript":
            from .objects import Stream

            js = reader.resolve(action.get("JS"))
            if isinstance(js, Stream):
                try:
                    js = js.decode(resolve=reader.resolve)
                except Exception:
                    js = None
            t = _text_of(js) if isinstance(js, (bytes, str)) else None
            # script text is payload, not a target — surface its length
            target = f"script:{len(t)}" if t is not None else None
        return atype, target

    for idx, page in enumerate(flatten_page_tree(reader)):
        annots = reader.resolve(page.dict.get("Annots"))
        if not isinstance(annots, list):
            continue
        # pass 1: resolve the page's annots and link popups to parents.
        # Keys are the annots-array Refs (hashable NamedTuples); inline
        # (non-ref) dict entries key by identity and can't be popup
        # targets (a /Popup or /Parent is always an indirect ref).
        entries: list[tuple[object, dict]] = []
        popup_keys: set = set()
        for ref in annots:
            a = reader.resolve(ref)
            if not isinstance(a, dict):
                continue
            key = ref if isinstance(ref, Ref) else id(a)
            entries.append((key, a))
            if str(a.get("Subtype", "")) == "Popup":
                popup_keys.add(key)
        entry_keys = {k for k, _ in entries}
        popup_of: dict = {}   # parent key -> popup dict
        consumed: set = set()  # popup keys folded into a parent row
        for key, a in entries:
            if key in popup_keys:
                continue
            p = a.get("Popup")
            if isinstance(p, Ref):
                pr = reader.resolve(p)
                if isinstance(pr, dict):
                    popup_of[key] = pr
                    if p in popup_keys:
                        consumed.add(p)
        for key, a in entries:
            # back-link only: popup carries /Parent but the parent has no
            # /Popup (seen in the wild from incremental-update editors)
            if key not in popup_keys or key in consumed:
                continue
            par = a.get("Parent")
            if (
                isinstance(par, Ref)
                and par in entry_keys
                and par not in popup_of
            ):
                popup_of[par] = a
                consumed.add(key)
        fragments = None  # lazy: only pages carrying text markup pay for it
        for key, a in entries:
            if key in consumed:
                continue
            subtype = a.get("Subtype")
            subtype_s = str(subtype) if subtype is not None else None
            uri = None
            action_type = None
            action_target = None
            action = reader.resolve(a.get("A"))
            if isinstance(action, dict):
                u = reader.resolve(action.get("URI"))
                if isinstance(u, bytes):
                    uri = u.decode("latin-1", "replace")
                action_type, action_target = _action_detail(action)
            contents = reader.resolve(a.get("Contents"))
            rect = reader.resolve(a.get("Rect"))
            rect_f = None
            if isinstance(rect, list) and len(rect) == 4:
                try:
                    rect_f = [float(reader.resolve(v)) for v in rect]
                except (TypeError, ValueError):
                    rect_f = None
            author = reader.resolve(a.get("T"))
            quads = reader.resolve(a.get("QuadPoints"))
            quads_f: list[float] | None = None
            if isinstance(quads, list) and len(quads) >= 8:
                try:
                    quads_f = [float(reader.resolve(v)) for v in quads]
                except (TypeError, ValueError):
                    quads_f = None
            covered = None
            if quads_f and subtype_s in _TEXT_MARKUP_SUBTYPES:
                if fragments is None:
                    fragments = _raw_page_fragments(reader, page, idx)
                covered = _covered_text(fragments, _quad_bboxes(quads_f))
            popup = popup_of.get(key)
            popup_open = None
            popup_rect = None
            if popup is not None:
                op = reader.resolve(popup.get("Open"))
                popup_open = op if isinstance(op, bool) else False
                pr_rect = reader.resolve(popup.get("Rect"))
                if isinstance(pr_rect, list) and len(pr_rect) == 4:
                    try:
                        popup_rect = [
                            float(reader.resolve(v)) for v in pr_rect
                        ]
                    except (TypeError, ValueError):
                        popup_rect = None
            out.append(
                {
                    "page_idx": idx,
                    "subtype": subtype_s,
                    "uri": uri,
                    "action_type": action_type,
                    "action_target": action_target,
                    "contents": (
                        _decode_pdf_string(contents)
                        if isinstance(contents, bytes)
                        else None
                    ),
                    "rect": rect_f,
                    "author": (
                        _decode_pdf_string(author)
                        if isinstance(author, bytes)
                        else None
                    ),
                    "n_quads": len(quads_f) // 8 if quads_f else 0,
                    "covered_text": covered,
                    "popup_open": popup_open,
                    "popup_rect": popup_rect,
                }
            )
    return out


def _export_pages_and_meta(data: bytes, password: str | None):
    """Shared front half of the ai/mod.rs doc-level exports: extract all
    page texts (1-indexed) + document metadata mapped into the export
    DocumentMetadata shape (ai/mod.rs:88-101: title defaulting to
    'Untitled Document', page count, /Info CreationDate, author)."""
    from .ai_export import DocumentMetadata
    from .textstate import ExtractionOptions, _decode_pdf_string

    opts = ExtractionOptions(password=password) if password else None
    res = extract_pdf_bytes(data, opts)
    pages = [(i + 1, t) for i, t in enumerate(res.page_texts)]
    md = extract_metadata(data)
    created = None
    try:
        reader = PdfReader(data, password=password)
        info = reader.resolve(reader.trailer.get("Info"))
        if isinstance(info, dict):
            v = reader.resolve(info.get("CreationDate"))
            if isinstance(v, bytes):
                created = _decode_pdf_string(v)
            elif isinstance(v, str):
                created = str(v)
    except Exception:
        pass
    meta = DocumentMetadata(
        md["title"] if md["title"] is not None else "Untitled Document",
        len(pages),
        created_at=created,
        author=md["author"],
    )
    return pages, meta


def export_pdf_markdown(data: bytes, password: str | None = None) -> str:
    """ai/mod.rs:76 export_to_markdown — whole document to markdown with
    YAML frontmatter and **Page N** markers."""
    from .ai_export import export_markdown_with_metadata_and_pages

    pages, meta = _export_pages_and_meta(data, password)
    return export_markdown_with_metadata_and_pages(pages, meta)


def export_pdf_contextual(data: bytes, password: str | None = None) -> str:
    """ai/mod.rs:138 export_to_contextual — whole document in the
    conversational LLM-prompt format."""
    from .ai_export import export_contextual_with_metadata_and_pages

    pages, meta = _export_pages_and_meta(data, password)
    return export_contextual_with_metadata_and_pages(pages, meta)


def decode_raw_payload(text: str) -> bytes:
    """Input-table payload decoding (FIXTURES.md §1.1): latin-1 text, or
    base85 with the ``b85:`` prefix for true-binary PDFs."""
    if text.startswith("b85:"):
        return base64.b85decode(text[4:])
    return text.encode("latin-1")


def extract_document_spans(
    in_spans: list[tuple[str, str, str | None]],
    options: ExtractionOptions | None = None,
) -> tuple[list[tuple[str, str, str | None, int]], dict]:
    """One interleaved input document → output span sequence + metrics.

    ``in_spans``: ordered (kind, text, media_ref) from the input table.
    - kind='raw_pdf'  → parse + extract, splicing the PDF's span sequence
    - kind='raw_html' → boilerplate-strip main-content extraction (html leg)
    - kind='text'     → passthrough at position
    - kind='media'    → passthrough at position
    Returns (spans_with_offset, metrics_dict).
    """
    out: list[tuple[str, str, str | None]] = []
    meta = {"ok": True, "error": None, "mode": "strict", "n_pages": 0, "bytes_in": 0}
    for kind, text, media_ref in in_spans:
        if kind == "raw_pdf":
            data = decode_raw_payload(text or "")
            r = extract_pdf_bytes(data, options)
            meta["n_pages"] += r.n_pages
            meta["bytes_in"] += r.bytes_in
            if r.mode != "strict":
                meta["mode"] = r.mode
            if r.error is not None:
                meta["ok"] = False
                meta["error"] = r.error
            out.extend(r.spans)
        elif kind == "raw_html":
            from .html_extract import extract_html_spans

            html_spans = extract_html_spans(text or "")
            meta["bytes_in"] += len(text or "")
            out.extend(html_spans)
        elif kind == "text":
            out.append(("text", text or "", None))
        elif kind == "media":
            out.append(("media", text or "", media_ref))
        else:
            # unknown input kinds pass through untouched (forward compat)
            out.append((kind, text or "", media_ref))
    return [
        (k, t, m, i) for i, (k, t, m) in enumerate(out)
    ], meta


def _batch_loop_serves(options: ExtractionOptions) -> bool:
    """Whether the C batch loop (``extract_batch``) may run these options:
    those the page loop it runs serves."""
    return _page_loop_serves(options)


def _run_row(triples, password, options: ExtractionOptions):
    """One document of a batch: ``extract_document_spans`` over its
    (kind, text, media_ref) triples, with its password when one is set.
    An exception, or a span text Arrow cannot encode as UTF-8 (a lone
    surrogate), becomes a ``kernel:`` error row; an error message that
    does not encode is backslash-escaped."""
    opts = options if password is None else options.with_password(password)
    try:
        spans, meta = extract_document_spans(triples, opts)
        for span in spans:
            for s in span[:3]:
                if s is not None and not s.isascii():
                    s.encode("utf-8")
    except Exception as e:  # absolute backstop: error-as-data
        spans, meta = [], {
            "ok": False,
            "error": f"kernel:{type(e).__name__}:{e}",
            "mode": "strict",
            "n_pages": 0,
            "bytes_in": 0,
        }
    err = meta["error"]
    if err is not None and not err.isascii():
        meta["error"] = err.encode("utf-8", "backslashreplace").decode()
    return spans, meta


_SPAN_FIELDS = ("kind", "text", "media_ref")


def _span_type():
    import pyarrow as pa

    return pa.struct([("kind", pa.string()), ("text", pa.string()),
                      ("media_ref", pa.string()), ("offset", pa.int32())])


def _pylist(arr) -> list:
    """A string Arrow array's values as a Python list (None for null):
    ``to_pylist()``'s values, without its per-element scalar boxing."""
    return arr.to_numpy(zero_copy_only=False).tolist()


def _extract_batch_py(spans, passwords, options: ExtractionOptions) -> list:
    """``extract_batch`` as a Python loop over list conversions: the
    string columns and list offsets convert through
    ``to_numpy(zero_copy_only=False).tolist()`` (the same values as
    ``to_pylist()``, about 8× faster), the password column through
    ``to_pylist()``, and the output columns through ``pa.array``."""
    import pyarrow as pa

    offsets = spans.offsets.to_numpy().tolist()
    flat = spans.values
    kinds, texts, refs = (_pylist(flat.field(f)) for f in _SPAN_FIELDS)
    pw = passwords.to_pylist() if passwords is not None else None
    cols = tuple([] for _ in range(11))
    (out_kind, out_text, out_ref, out_off, ok_c, mode_c, err_c, npages_c,
     nspans_c, bytes_c, wall_c) = cols
    list_offsets = [0]
    for row in range(len(spans)):
        lo, hi = offsets[row], offsets[row + 1]
        t_doc = time.perf_counter()
        doc_spans, meta = _run_row(
            list(zip(kinds[lo:hi], texts[lo:hi], refs[lo:hi])),
            pw[row] if pw is not None else None, options)
        for k, t, m, o in doc_spans:
            out_kind.append(k)
            out_text.append(t)
            out_ref.append(m)
            out_off.append(o)
        list_offsets.append(len(out_kind))
        ok_c.append(bool(meta["ok"]))
        mode_c.append(meta["mode"])
        err_c.append(meta["error"])
        npages_c.append(int(meta["n_pages"]))
        nspans_c.append(len(doc_spans))
        bytes_c.append(int(meta["bytes_in"]))
        wall_c.append((time.perf_counter() - t_doc) * 1000.0)
    span_type = _span_type()
    spans_out = pa.ListArray.from_arrays(
        pa.array(list_offsets, type=pa.int32()),
        pa.StructArray.from_arrays(
            [pa.array(out_kind, type=pa.string()),
             pa.array(out_text, type=pa.string()),
             pa.array(out_ref, type=pa.string()),
             pa.array(out_off, type=pa.int32())],
            fields=list(span_type)))
    return [spans_out, pa.array(ok_c, type=pa.bool_()),
            pa.array(mode_c, type=pa.string()),
            pa.array(err_c, type=pa.string()),
            pa.array(npages_c, type=pa.int32()),
            pa.array(nspans_c, type=pa.int32()),
            pa.array(bytes_c, type=pa.int64()),
            pa.array(wall_c, type=pa.float64())]


def _native_input(spans) -> bool:
    """Whether the C batch loop reads this spans column: a list (int32
    offsets) of structs whose kind, text and media_ref are strings (int32
    offsets); a ``large_string`` or ``large_list`` runs in Python."""
    import pyarrow as pa

    t = spans.type
    if not pa.types.is_list(t) or not pa.types.is_struct(t.value_type):
        return False
    st = t.value_type
    return all(st.get_field_index(f) >= 0
               and st.field(f).type == pa.string() for f in _SPAN_FIELDS)


def _c_field(arr) -> tuple:
    """A string array as the C loop reads it: (offset, validity or None,
    offsets, data); an array with no offsets buffer is empty."""
    valid, offs, data = arr.buffers()
    if arr.null_count == 0:
        valid = None
    return (arr.offset, valid, offs if offs is not None else bytes(4),
            data if data is not None else b"")


def _str_array(n: int, col) -> object:
    import pyarrow as pa

    valid, offs, data, nulls = col
    return pa.Array.from_buffers(
        pa.string(), n,
        [None if valid is None else pa.py_buffer(valid), pa.py_buffer(offs),
         pa.py_buffer(data)], null_count=nulls)


def _fixed_array(typ, n: int, buf) -> object:
    import pyarrow as pa

    return pa.Array.from_buffers(typ, n, [None, pa.py_buffer(buf)],
                                 null_count=0)


def extract_batch(spans, passwords, options: ExtractionOptions) -> list:
    """One Arrow batch of documents → its output arrays: the spans list
    (struct of kind, text, media_ref and offset), then per document ok,
    mode, error, n_pages, n_spans, bytes_in and wall_ms.

    ``spans`` is the batch's spans column (a list of kind, text and
    media_ref structs; a list entry's struct and field nulls are read as
    their fields' values), ``passwords`` its password column or None. A
    document is ``_run_row``: ``extract_document_spans`` over its triples,
    with its password when one is set, and an exception or a span Arrow
    cannot encode becomes a ``kernel:`` error row.

    With the C kernel loaded, options the page loop serves and an input
    it reads, the whole batch runs in one native call (``_cscan.c``
    ``extract_batch``): it reads the string columns' Arrow buffers,
    decodes each latin-1 payload straight into the document's bytes, runs
    the xref chain, page tree and page loop over its own tables, the HTML
    spans and the passthrough, and writes the output columns' buffers,
    which ``pa.Array.from_buffers`` wraps. It is passed a ``PdfReader``
    factory with the options' strictness and recipient key, which it calls
    at most once per document, and only when a Python step needs a
    reader: a FontInfo build on a cache miss, or a content stream whose
    filter the native chain declines. A document it is not certain about
    (a password, a ``b85:`` or non-latin-1 payload, encryption, a reader
    or tree it does not serve, a page the page loop bails on, an object
    stream whose filter the native chain declines, a span that does not
    encode) is handed back whole to ``_run_row``, which stays the
    authority. Otherwise ``_extract_batch_py`` runs the same contract in
    Python."""
    import pyarrow as pa

    if isinstance(spans, pa.ChunkedArray):  # pragma: no cover
        spans = spans.combine_chunks()
    ck = _content._CSCAN
    if (ck is None or not len(spans) or not _batch_loop_serves(options)
            or not _native_input(spans)):
        return _extract_batch_py(spans, passwords, options)
    pw = (passwords.to_pylist()
          if passwords is not None and passwords.null_count < len(passwords)
          else None)
    strict = options.error_mode == "strict"
    reader_factory = functools.partial(
        PdfReader, lenient=not strict,
        recipient_key=getattr(options, "recipient_key", None))
    flat = spans.values
    n = len(spans)
    (kind, text, ref, span_off, list_off, ok, mode, err, n_pages, n_spans,
     bytes_in, wall, total) = ck.extract_batch(
        n, spans.buffers()[1], spans.offset,
        *(_c_field(flat.field(f)) for f in _SPAN_FIELDS), pw,
        strict, options.newline_threshold,
        options.space_threshold, options.tj_space_threshold,
        options.include_artifacts, reader_factory,
        LINK_DENSITY_MAX, MIN_BLOCK_CHARS, MAX_TREE_DEPTH, _safe_decode,
        lambda row, triples: _run_row(
            triples, pw[row] if pw is not None else None, options))
    span_type = _span_type()
    spans_out = pa.ListArray.from_arrays(
        _fixed_array(pa.int32(), n + 1, list_off),
        pa.StructArray.from_arrays(
            [_str_array(total, kind), _str_array(total, text),
             _str_array(total, ref),
             _fixed_array(pa.int32(), total, span_off)],
            fields=list(span_type)))
    return [spans_out,
            _fixed_array(pa.bool_(), n, ok),
            _str_array(n, mode), _str_array(n, err),
            _fixed_array(pa.int32(), n, n_pages),
            _fixed_array(pa.int32(), n, n_spans),
            _fixed_array(pa.int64(), n, bytes_in),
            _fixed_array(pa.float64(), n, wall)]


# -- page-composition analysis (operations/page_analysis.rs) ----------------

#: Classification thresholds (page_analysis.rs:149-160 AnalysisOptions
#: defaults + :2012-2019 determine_page_type).
ANALYSIS_MIN_FRAGMENT_CHARS = 3
SCANNED_IMAGE_RATIO = 0.8
SCANNED_MAX_TEXT_RATIO = 0.1
TEXT_RATIO_THRESHOLD = 0.7
TEXT_MAX_IMAGE_RATIO = 0.2


def analyze_page_composition(
    data: bytes, password: str | None = None
) -> list[dict]:
    """Per-page content-composition analysis (PageContentAnalyzer,
    operations/page_analysis.rs:254-299 analyze_page + :2012-2019
    determine_page_type): text area from positioned fragment bboxes
    (fragments with >= 3 trimmed chars, analyze_text_content :1859-1888),
    image area from image paints, ratios against the /MediaBox area, and
    the Scanned / Text / Mixed classification — the router a corpus
    pipeline uses to send pages to OCR vs native extraction.

    Deviation from the reference, documented: the reference approximates
    image area with the XObject's PIXEL dimensions (analyze_image_content
    :1891-1990 — pixels are not points) and assumes inline/Do images cover
    the whole page; here each paint contributes its true placed user-space
    area |det CTM| (§8.3.4 unit-square image space), which the
    interpreter records at paint time.

    Errors degrade per page: a failing page emits page_type 'error' with
    zero ratios (error-as-data, never an exception)."""
    out: list[dict] = []
    reader = PdfReader(data, password=password)
    for idx, page in enumerate(flatten_page_tree(reader)):
        mb = page.media_box
        try:
            x0, y0, x1, y1 = (float(v) for v in mb)
            page_area = abs((x1 - x0) * (y1 - y0))
        except (TypeError, ValueError):
            page_area = 612.0 * 792.0
        if page_area <= 0:
            page_area = 612.0 * 792.0
        try:
            fonts = extract_page_fonts(page.resources, reader)
            content = page_content(reader, page)
            interp = Interpreter(
                reader=reader,
                fonts=fonts,
                options=ExtractionOptions(preserve_layout=True),
                page_index=idx,
            )
            parse_and_run(interp, content, page.resources)
            frags = [
                f
                for f in interp.fragments
                if len(f.text.strip()) >= ANALYSIS_MIN_FRAGMENT_CHARS
            ]
            text_area = sum(f.width * f.height for f in frags)
            char_count = sum(len(f.text) for f in interp.fragments)
            image_area = sum(interp.image_areas)
            image_count = len(interp.image_areas)
        except Exception:
            out.append(
                {
                    "page_idx": idx, "page_type": "error",
                    "text_ratio": 0.0, "image_ratio": 0.0,
                    "blank_ratio": 1.0, "text_fragments": 0,
                    "image_count": 0, "char_count": 0,
                }
            )
            continue
        text_ratio = text_area / page_area
        image_ratio = image_area / page_area
        if image_ratio > SCANNED_IMAGE_RATIO and text_ratio < SCANNED_MAX_TEXT_RATIO:
            page_type = "scanned"
        elif text_ratio > TEXT_RATIO_THRESHOLD and image_ratio < TEXT_MAX_IMAGE_RATIO:
            page_type = "text"
        else:
            page_type = "mixed"
        out.append(
            {
                "page_idx": idx,
                "page_type": page_type,
                "text_ratio": text_ratio,
                "image_ratio": image_ratio,
                "blank_ratio": max(0.0, 1.0 - text_ratio - image_ratio),
                "text_fragments": len(frags),
                "image_count": image_count,
                "char_count": char_count,
            }
        )
    return out


def extract_signatures(data: bytes, password: str | None = None) -> list[dict]:
    """Digital-signature surface: detection (signatures/detection.rs) +
    CMS parse (cms.rs) + cryptographic verification (verification.rs),
    flattened to one dict per signature field for the Spark layer.  CMS
    parse or verification failures degrade to error strings rather than
    aborting the document (pipeline error-tier convention); structural
    detection errors (malformed /ByteRange etc.) propagate."""
    from .signatures import (
        detect_signature_fields,
        has_incremental_update,
        parse_pkcs7_signature,
        verify_signature,
    )

    out: list[dict] = []
    for sig in detect_signature_fields(data, password=password):
        row = {
            "field_name": sig.name,
            "filter": sig.filter,
            "sub_filter": sig.sub_filter,
            "byte_range": str(sig.byte_range),
            "contents_size": sig.contents_size(),
            "reason": sig.reason,
            "location": sig.location,
            "m_date": sig.signing_time,
            "signer": None,
            "digest_algorithm": None,
            "signature_algorithm": None,
            "cms_signing_time": None,
            "hash_valid": False,
            "signature_valid": False,
            "em_form": None,
            "chain_len": 0,
            "chain_valid": False,
            # RFC 3161 signature timestamp (CAdES-T); None = no token
            "ts_time": None,
            "ts_valid": None,
            "ts_tsa": None,
            "certification_level": sig.certification_level,
            "incremental_update": has_incremental_update(data, sig.byte_range),
            # fraction of the file the signature covers: 1.0 minus the
            # /Contents gap for a final signature; much lower when later
            # incremental updates extended the file past the signed region
            "coverage": round(sig.byte_range.total_bytes() / len(data), 6)
            if data
            else 0.0,
            "error": None,
        }
        try:
            # corpus mode admits legacy SHA-1 CMS (pre-2016 signatures);
            # the strict reference-parity default lives on the kernel fn
            parsed = parse_pkcs7_signature(sig.contents, allow_legacy_sha1=True)
            row["digest_algorithm"] = parsed.digest_algorithm
            row["signature_algorithm"] = parsed.signature_algorithm
            row["cms_signing_time"] = parsed.signing_time
            # CAdES/PAdES ESS binding (None when the attr is absent)
            row["cades_cert_bound"] = parsed.signing_certificate_bound()
            try:
                row["signer"] = parsed.signer_common_name()
            except Exception:
                pass
            embedded = "SHA-1" if sig.sub_filter == "adbe.pkcs7.sha1" else None
            result = verify_signature(
                data, parsed, sig.byte_range, embedded_digest=embedded
            )
            row["hash_valid"] = result.hash_valid
            row["signature_valid"] = result.signature_valid
            row["em_form"] = result.em_form
            if parsed.timestamp_token_der is not None:
                from .signatures import verify_timestamp_token

                ts = verify_timestamp_token(
                    parsed.timestamp_token_der, parsed.signature_value,
                    allow_legacy_sha1=True,
                )
                row["ts_time"] = ts.gen_time
                row["ts_valid"] = ts.is_valid()
                row["ts_tsa"] = ts.tsa
            from .signatures import verify_certificate_chain

            chain = verify_certificate_chain(
                parsed.all_certs_der, leaf_der=parsed.signer_certificate_der
            )
            row["chain_len"] = len(chain)
            # chain proven iff every link's signature verifies and the
            # walk terminated at a self-signed root (trust in that root
            # still needs an external store)
            row["chain_valid"] = bool(chain) and all(
                e["sig_ok"] for e in chain
            ) and chain[-1]["self_signed"]
        except Exception as e:
            row["error"] = f"{type(e).__name__}: {e}"
        out.append(row)
    return out


_PAGE_LAYOUTS = {
    "SinglePage", "OneColumn", "TwoColumnLeft", "TwoColumnRight",
    "TwoPageLeft", "TwoPageRight",
}
_PAGE_MODES = {
    "UseNone", "UseOutlines", "UseThumbs", "FullScreen", "UseOC",
    "UseAttachments",
}
_TRANSITION_STYLES = {
    "Split", "Blinds", "Box", "Wipe", "Dissolve", "Glitter", "R", "Fly",
    "Push", "Cover", "Uncover", "Fade",
}


def extract_viewer_info(data: bytes, password: str | None = None) -> dict:
    """Catalog presentation surface read-back (viewer_preferences.rs +
    page_transitions.rs + page_lists.rs are generation-side builders; this
    is their read half) plus PDF/A identification from the XMP packet
    (pdfa/ and verification/ are out-of-scope write/validate stacks, but
    the pdfaid:part/conformance claim is a one-regex corpus-quality flag):

    {page_layout, page_mode, viewer_preferences: {key: str|bool|int},
     transitions: [{page, style, duration, dur}], pdfa_part,
     pdfa_conformance}.  Unknown /PageLayout, /PageMode or /Trans /S names
    pass through with a '?' suffix so malformed catalogs are visible
    without raising."""
    import re as _re

    from .objects import Stream
    from .pages import flatten_page_tree

    out = {
        "page_layout": None, "page_mode": None, "viewer_preferences": {},
        "transitions": [], "pdfa_part": None, "pdfa_conformance": None,
    }
    reader = PdfReader(data, password=password)
    catalog = reader.catalog()

    def name_of(key, allowed):
        v = catalog.get(key)
        if v is None:
            return None
        s = str(v)
        return s if s in allowed else s + "?"

    out["page_layout"] = name_of("PageLayout", _PAGE_LAYOUTS)
    out["page_mode"] = name_of("PageMode", _PAGE_MODES)

    prefs = reader.resolve(catalog.get("ViewerPreferences"))
    if isinstance(prefs, dict):
        for k, v in prefs.items():
            v = reader.resolve(v)
            if isinstance(v, (bool, int, float, str)):
                out["viewer_preferences"][str(k)] = v

    for i, page in enumerate(flatten_page_tree(reader)):
        trans = reader.resolve(page.dict.get("Trans"))
        if not isinstance(trans, dict):
            continue
        style = str(trans.get("S", "R"))
        if style not in _TRANSITION_STYLES:
            style += "?"
        entry = {"page": i, "style": style}
        d = reader.resolve(trans.get("D"))
        if isinstance(d, (int, float)) and not isinstance(d, bool):
            entry["duration"] = float(d)
        dur = reader.resolve(page.dict.get("Dur"))
        if isinstance(dur, (int, float)) and not isinstance(dur, bool):
            entry["dur"] = float(dur)
        out["transitions"].append(entry)

    try:
        md = reader.resolve(catalog.get("Metadata"))
        if isinstance(md, Stream):
            xmp = md.decode(resolve=reader.resolve).decode("utf-8", "replace")
            m = _re.search(
                r"pdfaid:part(?:>\s*(\d+)\s*<|=\"(\d+)\")", xmp)
            if m:
                out["pdfa_part"] = int(m.group(1) or m.group(2))
            m = _re.search(
                r"pdfaid:conformance(?:>\s*([A-Ua-u])\s*<|=\"([A-Ua-u])\")",
                xmp)
            if m:
                out["pdfa_conformance"] = (m.group(1) or m.group(2)).upper()
    except Exception:
        pass
    return out
