"""Page tree flattening and content-stream assembly.

Reimplements (in-UDF, per document):

- page-tree DFS flatten w/ visited-set + inherited attributes
  (Resources/MediaBox/CropBox/Rotate):
  oxidize-pdf-core/src/parser/page_tree.rs:199; document.rs:486-522
- /Contents assembly (single ref or array, decoded, joined in order):
  page_tree.rs:834; document.rs:1038 — streams are concatenated with a
  space separator per the spec's "treat as one stream" rule

Both run natively when the C kernel is loaded (kernel/_cscan.c
``flatten_pages`` and ``page_content``, on the C object fetch, for strict
and recovered readers and object-stream members alike). Each C call
returns the complete result or None; on None the Python code below runs
the whole step and stays the authority. The C steps give up on encrypted
documents and on any object the C fetch bails on; a /Filter or decode
parameters on a content stream go through ``_safe_decode`` below, called
from C.
"""

from __future__ import annotations

from . import content as _content
from .objects import Ref, Stream
from .reader import PdfReader

INHERITABLE = ("Resources", "MediaBox", "CropBox", "Rotate")
MAX_TREE_DEPTH = 64


class Page:
    __slots__ = ("dict", "resources", "media_box")

    def __init__(self, d: dict, resources: dict | None, media_box):
        self.dict = d
        self.resources = resources or {}
        self.media_box = media_box


def flatten_page_tree(reader: PdfReader) -> list[Page]:
    """DFS of /Pages → flat page list in tree order (page_tree.rs:199).

    Tree order drives the output span ``offset`` sequence across pages.
    Inherited attributes are resolved on the way down (document.rs:486-522).
    """
    ck = _content._CSCAN
    if ck is not None:
        pages = ck.flatten_pages(reader, Page, MAX_TREE_DEPTH)
        if pages is not None:
            return pages
    catalog = reader.catalog()
    pages_obj = reader.resolve(catalog.get("Pages"))
    result: list[Page] = []
    visited: set = set()

    def walk(node, inherited: dict, depth: int):
        if depth > MAX_TREE_DEPTH or not isinstance(node, dict):
            return
        node_type = str(node.get("Type", ""))
        inh = dict(inherited)
        for key in INHERITABLE:
            if key in node:
                inh[key] = node[key]
        if node_type == "Page" or ("Kids" not in node and "Contents" in node):
            d = dict(node)
            for key in INHERITABLE:
                if key not in d and key in inh:
                    d[key] = inh[key]
            resources = reader.resolve(d.get("Resources"))
            media_box = reader.resolve(d.get("MediaBox"))
            result.append(
                Page(d, resources if isinstance(resources, dict) else {}, media_box)
            )
            return
        kids = reader.resolve(node.get("Kids"))
        if not isinstance(kids, list):
            return
        for kid in kids:
            marker = kid if isinstance(kid, Ref) else id(kid)
            if marker in visited:
                continue  # cycle guard
            visited.add(marker)
            walk(reader.resolve(kid), inh, depth + 1)

    walk(pages_obj, {}, 0)
    return result


def page_content(reader: PdfReader, page: Page) -> bytes:
    """Decode and join the page's /Contents streams (page_tree.rs:834).

    A single content stream may be split across several stream objects;
    the spec requires treating the concatenation (with whitespace between)
    as one stream.
    """
    contents = page.dict.get("Contents")
    if contents is None:
        return b""
    ck = _content._CSCAN
    if ck is not None:
        joined = ck.page_content(reader, contents, _safe_decode)
        if joined is not None:
            return joined
    contents = reader.resolve(contents)
    streams: list[bytes] = []
    if isinstance(contents, Stream):
        streams.append(_safe_decode(reader, contents))
    elif isinstance(contents, list):
        for item in contents:
            obj = reader.resolve(item)
            if isinstance(obj, Stream):
                streams.append(_safe_decode(reader, obj))
    return b" ".join(streams)


def _safe_decode(reader: PdfReader, stm: Stream) -> bytes:
    try:
        return stm.decode(resolve=reader.resolve)
    except Exception:
        return b""


# -- page labels (ISO 32000-1 §12.4.2; reference page_labels/page_label.rs +
#    page_label_tree.rs) ----------------------------------------------------

_ROMAN = (
    (1000, "m"), (900, "cm"), (500, "d"), (400, "cd"), (100, "c"),
    (90, "xc"), (50, "l"), (40, "xl"), (10, "x"), (9, "ix"), (5, "v"),
    (4, "iv"), (1, "i"),
)


def _to_roman(num: int) -> str:
    """page_label.rs:189-219 (lowercase; uppercase via .upper())."""
    if num <= 0:
        return ""
    out = []
    for value, numeral in _ROMAN:
        while num >= value:
            out.append(numeral)
            num -= value
    return "".join(out)


def _to_letters(num: int, uppercase: bool) -> str:
    """A..Z, AA..ZZ bijective base-26 (page_label.rs:223-242)."""
    if num <= 0:
        return ""
    out = []
    base = ord("A") if uppercase else ord("a")
    while num > 0:
        out.append(chr(base + (num - 1) % 26))
        num = (num - 1) // 26
    return "".join(reversed(out))


def _format_label(style: str | None, prefix: str, number: int) -> str:
    """PageLabelStyle::format (page_label.rs:48-56) + prefix concat
    (format_label, page_label.rs:128-149). Style None → prefix only."""
    if style == "D":
        body = str(number)
    elif style == "R":
        body = _to_roman(number).upper()
    elif style == "r":
        body = _to_roman(number)
    elif style == "A":
        body = _to_letters(number, True)
    elif style == "a":
        body = _to_letters(number, False)
    else:
        body = ""
    return prefix + body


def page_rotation(page: Page, reader: PdfReader | None = None) -> int:
    """Effective /Rotate for a flattened page (page_tree.rs:556): the raw
    inherited integer, default 0. Mirrors the reference's read path, which
    does NOT normalise — ``get_integer`` keeps whatever integer the dict
    carries (only the write-side rotate operation validates 0/90/180/270,
    operations/rotate.rs:27-45). Non-integer values read as absent."""
    r = page.dict.get("Rotate")
    if reader is not None and isinstance(r, Ref):
        r = reader.resolve(r)
    if isinstance(r, bool) or not isinstance(r, int):
        return 0
    return r


def effective_page_size(page: Page, reader: PdfReader | None = None):
    """(width, height) in PDF units accounting for rotation
    (page_tree.rs:658-676 ParsedPage::width/height): MediaBox extents,
    swapped when /Rotate is exactly 90 or 270; missing MediaBox defaults
    to Letter [0 0 612 792] (page_tree.rs:541-551)."""
    mb = page.media_box
    if not isinstance(mb, list) or len(mb) < 4:
        mb = [0.0, 0.0, 612.0, 792.0]
    try:
        w = float(mb[2]) - float(mb[0])
        h = float(mb[3]) - float(mb[1])
    except (TypeError, ValueError):
        w, h = 612.0, 792.0
    if page_rotation(page, reader) in (90, 270):
        return h, w
    return w, h


def page_labels(reader: PdfReader, n_pages: int) -> list[str]:
    """Per-page display label from the catalog /PageLabels number tree
    (page_label_tree.rs:28-48 get_label + :74-150 from_dict; §12.4.2
    Table 159: /S style D/R/r/A/a, /P prefix, /St range start). Supports
    both the flat /Nums form and /Kids-nested number-tree nodes. Pages
    before the first range (or with no /PageLabels at all) default to the
    ordinal string (get_all_labels, page_label_tree.rs:50-55)."""
    from .textstate import _decode_pdf_string

    ranges: list[tuple[int, str | None, str, int]] = []

    def collect(node, depth: int, seen: set):
        if isinstance(node, Ref):
            if node in seen:
                return
            seen.add(node)
        node = reader.resolve(node)
        if not isinstance(node, dict) or depth > MAX_TREE_DEPTH:
            return
        nums = reader.resolve(node.get("Nums"))
        if isinstance(nums, list):
            for i in range(0, len(nums) - 1, 2):
                start = reader.resolve(nums[i])
                spec = reader.resolve(nums[i + 1])
                if not isinstance(start, int) or isinstance(start, bool):
                    continue
                if not isinstance(spec, dict):
                    continue
                style = spec.get("S")
                style = str(style) if style is not None else None
                prefix = spec.get("P")
                prefix = (
                    _decode_pdf_string(prefix)
                    if isinstance(prefix, bytes)
                    else ""
                )
                st = reader.resolve(spec.get("St"))
                st = st if isinstance(st, int) and not isinstance(st, bool) else 1
                ranges.append((start, style, prefix, max(st, 1)))
        kids = reader.resolve(node.get("Kids"))
        if isinstance(kids, list):
            for kid in kids:
                collect(kid, depth + 1, seen)

    try:
        root = reader.catalog().get("PageLabels")
    except Exception:
        root = None
    if root is not None:
        collect(root, 0, set())
    ranges.sort(key=lambda r: r[0])
    out: list[str] = []
    for i in range(n_pages):
        applicable = None
        for r in ranges:
            if r[0] <= i:
                applicable = r
            else:
                break
        if applicable is None:
            out.append(str(i + 1))
        else:
            start, style, prefix, st = applicable
            out.append(_format_label(style, prefix, st + (i - start)))
    return out
