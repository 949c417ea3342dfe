"""Font resource extraction and code→Unicode decoding.

Reimplements (in-UDF, cached per font name per document):

- extract_font_resources:  oxidize-pdf-core/src/text/extraction.rs:1670-1763
- extract_font_info:       text/extraction_cmap.rs:95-360 (FontInfo struct 44-71,
  encoding/differences 262-296, ToUnicode 298-307, metrics 309-360,
  Type0 descendant 312-330)
- decode_text_with_font chain: extraction_cmap.rs:557-616
- decode_text acceptance gate + encoding fallback: extraction.rs:1766-1831

Descoped vs the reference (SURVEY.md §2.4 J3): embedded TrueType kern
tables, and the Adobe-CNS1 CID→Unicode collection (no offline source).
GB1/Japan1/Korea1 tables are bundled (kernel/data/, derived from Adobe's
BSD CMap resources × Python codecs); embedded /Encoding CMap streams and
usecmap *-UCS2 parents are supported.

C fast path (kernel/_cscan.c, see cbuild.py): a run the interpreter's
memo misses is decoded and measured through a per-font code table
(FontInfo._code_table: per-code Unicode and width / 1000);
``decode_text`` and ``calculate_text_width_from_codes`` stay the authority
and decode every run the table declines: Type0 fonts without ToUnicode,
3- or 4-byte ToUnicode codes, composite /Widths or CID width tables, no
font, and any decode that meets the acceptance gate or a sanitize
trigger. FontInfo is built here, with ToUnicode streams parsed by the C
``parse_cmap`` (see cmap.py); the C page loop (``run_pages``, see
extract.py) calls ``extract_font_info`` on a FontInfo cache miss and
mirrors ``extract_page_fonts``.
"""

from __future__ import annotations

import re

from .afm_widths import standard14_widths
from .cmap import CMap, decode_with_cmap
from .encodings import (
    decode_macroman_byte,
    decode_standard_byte,
    decode_winansi_byte,
    decode_with_text_encoding,
    glyph_name_to_unicode,
)
from .objects import Name, Ref, Stream


# Adobe predefined encoding-CMap name → Python codec. The byte streams of
# these encodings ARE the corresponding national-charset encodings (that is
# what the Adobe CMaps transcode), so Python's bundled CJK codecs decode
# them without vendoring Adobe's resources (encoding_cmap.rs
# resolve_predefined vendored_cmap! equivalents).
_PREDEFINED_CJK_CODECS = {
    "GBK-EUC-H": "gbk", "GBK-EUC-V": "gbk",
    "GB-EUC-H": "gb2312", "GB-EUC-V": "gb2312",
    "GBKp-EUC-H": "gbk", "GBKp-EUC-V": "gbk",
    "GB18030" : "gb18030",
    "ETen-B5-H": "big5", "ETen-B5-V": "big5",
    "B5pc-H": "big5", "B5pc-V": "big5",
    "90ms-RKSJ-H": "shift_jis", "90ms-RKSJ-V": "shift_jis",
    "90pv-RKSJ-H": "shift_jis",
    "EUC-H": "euc-jp", "EUC-V": "euc-jp",
    "KSC-EUC-H": "euc-kr", "KSC-EUC-V": "euc-kr",
    "KSCms-UHC-H": "cp949", "KSCms-UHC-V": "cp949",
    "UniGB-UCS2-H": "utf-16-be", "UniGB-UCS2-V": "utf-16-be",
    "UniCNS-UCS2-H": "utf-16-be", "UniJIS-UCS2-H": "utf-16-be",
    "UniKS-UCS2-H": "utf-16-be",
    "UniGB-UTF16-H": "utf-16-be", "UniJIS-UTF16-H": "utf-16-be",
    "UniKS-UTF16-H": "utf-16-be", "UniCNS-UTF16-H": "utf-16-be",
}


class FontInfo:
    __slots__ = (
        "name",
        "font_type",
        "encoding",
        "to_unicode",
        "differences",
        "descendant_font",
        "cid_ordering",
        "encoding_cmap",
        "first_char",
        "last_char",
        "widths",
        "missing_width",
        "cid_widths",
        "cid_default_width",
        "_decode_table",  # memoized 256-entry translate table (see below)
        "_code_table",  # the C kernel's per-code decode/width table
    )

    def __init__(self):
        self.name = "Unknown"
        self.font_type = ""
        self.encoding: str | None = None
        self.to_unicode: CMap | None = None
        self.differences: dict[int, str] | None = None
        self.descendant_font: FontInfo | None = None
        self.encoding_cmap: CMap | None = None  # embedded /Encoding stream (code→CID)
        self.cid_ordering: str | None = None
        self.first_char: int | None = None
        self.last_char: int | None = None
        self.widths: list[float] | None = None
        self.missing_width: float = 500.0  # FontMetrics::default
        # CID -> width (1000-unit text space) read back from an embedded
        # CID-keyed CFF (FontFile3, round 10 — BEYOND the reference) and
        # the descendant's /DW default (ISO 32000-1 9.7.4.3)
        self.cid_widths: dict[int, float] | None = None
        self.cid_default_width: float = 1000.0
        self._decode_table: dict[int, str] | None = None
        # built by _cscan.c on the first run-memo miss (False: no table
        # applies, Interpreter._decode decodes); per FontInfo, so per
        # document, except that a Standard-14 font without /Differences or
        # ToUnicode shares a constant table built once per width table
        # and base encoding
        self._code_table = None

    @property
    def is_composite(self) -> bool:
        return self.font_type == "Type0" or self.descendant_font is not None


def extract_font_info(font_dict: dict, reader) -> FontInfo | None:
    """extraction_cmap.rs:95-360. ``reader`` must expose ``resolve``."""
    subtype = font_dict.get("Subtype")
    if not isinstance(subtype, str):
        return None
    info = FontInfo()
    info.font_type = str(subtype)
    base = font_dict.get("BaseFont")
    if isinstance(base, str):
        info.name = str(base)

    cid_sys = font_dict.get("CIDSystemInfo")
    if isinstance(cid_sys, dict):
        ordering = cid_sys.get("Ordering")
        if isinstance(ordering, bytes):
            try:
                info.cid_ordering = ordering.decode("utf-8")
            except UnicodeDecodeError:
                pass
        elif isinstance(ordering, str):
            info.cid_ordering = str(ordering)

    enc = font_dict.get("Encoding")
    if isinstance(enc, Name) or (isinstance(enc, str) and not isinstance(enc, bytes)):
        info.encoding = str(enc)
    elif isinstance(enc, dict):
        base_enc = enc.get("BaseEncoding")
        if isinstance(base_enc, str):
            info.encoding = str(base_enc)
        diffs = enc.get("Differences")
        if isinstance(diffs, list):
            info.differences = _parse_differences(diffs)
    elif isinstance(enc, Ref):
        resolved = reader.resolve(enc)
        if isinstance(resolved, dict):
            base_enc = resolved.get("BaseEncoding")
            if isinstance(base_enc, str):
                info.encoding = str(base_enc)
            diffs = resolved.get("Differences")
            if isinstance(diffs, list):
                info.differences = _parse_differences(diffs)
        elif isinstance(resolved, Stream):
            # embedded encoding-CMap stream (CMapType 1, code→CID):
            # extract_font_info's Reference→stream.decode→EncodingCMap::parse
            # branch (extraction_cmap.rs; encoding_embedded_stream_test.rs)
            try:
                emb = CMap.parse(resolved.decode(resolve=reader.resolve))
                if emb.has_cid_mappings():
                    info.encoding_cmap = emb
                if emb.name and info.encoding is None:
                    info.encoding = emb.name
            except Exception:
                pass

    # ToUnicode only honored as an indirect stream (extraction_cmap.rs:298)
    tu = font_dict.get("ToUnicode")
    if isinstance(tu, Ref):
        obj = reader.resolve(tu)
        if isinstance(obj, Stream):
            try:
                info.to_unicode = CMap.parse(obj.decode(resolve=reader.resolve))
            except Exception:
                info.to_unicode = None

    # metrics (extraction_cmap.rs:309-360)
    fc = font_dict.get("FirstChar")
    if isinstance(fc, int):
        info.first_char = fc
    lc = font_dict.get("LastChar")
    if isinstance(lc, int):
        info.last_char = lc
    widths = font_dict.get("Widths")
    if isinstance(widths, Ref):
        widths = reader.resolve(widths)
    if isinstance(widths, list):
        info.widths = [float(w) if isinstance(w, (int, float)) else 0.0 for w in widths]
    desc = font_dict.get("FontDescriptor")
    if isinstance(desc, Ref):
        desc = reader.resolve(desc)
    if isinstance(desc, dict):
        mw = desc.get("MissingWidth")
        if isinstance(mw, (int, float)):
            info.missing_width = float(mw)

    if info.font_type == "Type0":
        desc_fonts = font_dict.get("DescendantFonts")
        if isinstance(desc_fonts, Ref):
            desc_fonts = reader.resolve(desc_fonts)
        if isinstance(desc_fonts, list) and desc_fonts:
            dd = reader.resolve(desc_fonts[0])
            # the descendant is a CIDFont (ISO 32000-1 §9.7.1): a Type0
            # descendant, e.g. a font listing itself, is not followed
            if isinstance(dd, dict) and dd.get("Subtype") != "Type0":
                info.descendant_font = extract_font_info(dd, reader)

    # no /Widths on a simple Standard-14 font: use the real Adobe AFM
    # tables (public Core-14 metrics; the fonts need not embed widths —
    # ISO 32000-1 §9.6.2.2) instead of the 0.5em guess, so space synthesis
    # and fragment positions track the actual glyph advances.
    if (
        info.widths is None
        and info.name
        and info.font_type in ("Type1", "TrueType", "MMType1")
    ):
        std = standard14_widths(info.name)
        if std is not None:
            table, default = std
            # share the module-level tuple — width lookups only index it,
            # and copying 256 entries per font per page showed in profiles
            info.widths = table
            info.first_char = 0
            info.last_char = 255
            info.missing_width = float(default)

    # still no /Widths and not Standard-14: read the advances out of the
    # EMBEDDED font program (BEYOND the reference — its text/ttf_parser.rs
    # is explicit dead code and extraction never opens FontFile*). sfnt
    # head/hhea/hmtx/cmap supply what the PDF omitted; each code maps
    # through the font's effective encoding to Unicode to a glyph
    # (ISO 32000-1 §9.6.6.4), widths land in 1000-unit text space.
    if (
        info.widths is None
        and isinstance(desc, dict)
        and info.font_type in ("Type1", "TrueType", "MMType1")
    ):
        ff = (desc.get("FontFile2") or desc.get("FontFile3")
              or desc.get("FontFile"))
        if isinstance(ff, Ref):
            obj = reader.resolve(ff)
            if isinstance(obj, Stream):
                mt = None
                try:
                    prog = obj.decode(resolve=reader.resolve)
                except Exception:
                    prog = None
                if prog:
                    # sfnt first (FontFile2, OTTO-wrapped CFF has real
                    # hmtx too); bare CFF (Type1C) carries widths in the
                    # Type 2 charstrings; classic Type 1 (FontFile,
                    # eexec-encrypted) in its Type 1 charstrings'
                    # leading hsbw/sbw — each parser rejects the other
                    # formats loudly, so the chain self-selects
                    try:
                        from .ttf import parse_truetype_metrics

                        mt = parse_truetype_metrics(prog)
                        if not (mt.advances and mt.cmap):
                            mt = None
                    except Exception:
                        try:
                            from .cff import parse_cff_metrics

                            mt = parse_cff_metrics(prog)
                        except Exception:
                            try:
                                from .type1 import parse_type1_metrics

                                mt = parse_type1_metrics(prog)
                            except Exception:
                                mt = None
                if mt is not None:
                    widths = []
                    for c in range(256):
                        ch = _decode_with_encoding(bytes([c]), info)
                        w = (mt.width_1000_for_char(ord(ch[0]))
                             if ch else None)
                        widths.append(
                            w if w is not None else info.missing_width)
                    info.widths = widths
                    info.first_char = 0
                    info.last_char = 255

    # CID-keyed CFF width read-back (round 10, BEYOND the reference):
    # a CIDFontType0 descendant with no /Widths carries its advances in
    # the embedded FontFile3's per-FD private dicts (FDSelect picks the
    # FD, charstrings may lead with a width delta). The composite width
    # path consumes these by CID — the reference's model indexes
    # /Widths by DECODED char (extraction.rs:2086) and falls to 0.5em
    # here, a documented divergence.
    if info.font_type.startswith("CIDFontType"):
        dw = font_dict.get("DW")
        if isinstance(dw, (int, float)):
            info.cid_default_width = float(dw)
    if (
        info.font_type == "CIDFontType0"
        and info.widths is None
        and isinstance(desc, dict)
    ):
        ff = desc.get("FontFile3")
        if isinstance(ff, Ref):
            obj = reader.resolve(ff)
            if isinstance(obj, Stream):
                mt = None
                try:
                    from .cff import parse_cff_metrics

                    mt = parse_cff_metrics(
                        obj.decode(resolve=reader.resolve),
                        allow_cid=True)
                except Exception:
                    mt = None
                if mt is not None and mt.is_cid:
                    scale = mt.font_matrix_x * 1000.0
                    info.cid_widths = {
                        cid: mt._widths_by_gid[gid] * scale
                        for cid, gid in mt._gid_by_cid.items()
                        if gid < len(mt._widths_by_gid)
                    }
    return info


def _parse_differences(diffs: list) -> dict[int, str]:
    """/Differences array (extraction_cmap.rs parse_encoding_differences)."""
    out: dict[int, str] = {}
    code = 0
    for item in diffs:
        if isinstance(item, bool):
            continue
        if isinstance(item, int):
            code = item & 0xFF
        elif isinstance(item, str):
            out[code] = str(item)
            code = (code + 1) & 0xFF
    return out


def extract_page_fonts(resources: dict, reader) -> dict[str, FontInfo]:
    """Per-page /Font dict → {resource_name: FontInfo}
    (extraction.rs extract_font_resources:1670-1763). The per-ref object
    cache lives in ``reader._cache`` so shared font objects parse once."""
    fonts: dict[str, FontInfo] = {}
    font_res = resources.get("Font")
    if isinstance(font_res, Ref):
        font_res = reader.resolve(font_res)
    if not isinstance(font_res, dict):
        return fonts
    # document-scoped FontInfo cache: pages routinely share the same font
    # objects by reference, and re-deriving FontInfo re-parses ToUnicode
    # CMaps page after page (387 parses for a 44-page doc). FontInfo is
    # immutable after extract_font_info, so Ref identity is a safe key.
    cache = getattr(reader, "_fontinfo_cache", None)
    for fname, fobj in font_res.items():
        if isinstance(fobj, Ref) and cache is not None:
            fi = cache.get(fobj, _FI_MISS)
            if fi is _FI_MISS:
                fd = reader.resolve(fobj)
                fi = (
                    extract_font_info(fd, reader)
                    if isinstance(fd, dict)
                    else None
                )
                cache[fobj] = fi
        else:
            fd = reader.resolve(fobj) if isinstance(fobj, Ref) else fobj
            fi = extract_font_info(fd, reader) if isinstance(fd, dict) else None
        if fi is not None:
            fonts[str(fname)] = fi
    return fonts


_FI_MISS = object()


# ---------------------------------------------------------------------------
# Decoding chain
# ---------------------------------------------------------------------------


def decode_text_with_font(text: bytes, info: FontInfo) -> str | None:
    """extraction_cmap.rs:557-616. Returns None where the reference errors."""
    if info.to_unicode is not None:
        return decode_with_cmap(text, info.to_unicode)
    if info.font_type == "Type0" and info.descendant_font is not None:
        desc = info.descendant_font
        if desc.to_unicode is not None:
            return decode_text_with_font(text, desc)
        # Embedded /Encoding CMap stream (code→CID) + CID collection
        # (extraction_cmap.rs CidEncoding::Cmap → decode_via_encoding_cmap)
        if info.encoding_cmap is not None:
            from .cid_tables import from_ordering

            coll = from_ordering(desc.cid_ordering or info.cid_ordering)
            if coll is not None:
                return _decode_via_encoding_cmap(text, info.encoding_cmap, coll)
        # Predefined CJK encoding CMaps (the reference vendors Adobe's CMap
        # resources, encoding_cmap.rs resolve_predefined) map directly onto
        # Python's bundled CJK codecs — GBK-EUC-H bytes ARE GBK text, etc.
        codec = _PREDEFINED_CJK_CODECS.get(info.encoding or "")
        if codec is not None:
            decoded = text.decode(codec, errors="replace")
            if decoded.strip() and not all(
                ord(c) < 0x20 or ord(c) == 0x7F for c in decoded
            ):
                return decoded
        # CID→Unicode collection path (extraction_cmap.rs:594-611): tables
        # register at runtime (cid_tables.py — broadcast variables in the
        # Spark layer); absent tables fall through to the descendant's
        # encoding decode, same as the reference.
        from .cid_tables import decode_with_cid_table, from_ordering

        ordering = desc.cid_ordering or info.cid_ordering
        coll = from_ordering(ordering)
        if coll is not None:
            result = decode_with_cid_table(text, coll)
            if result and not all(
                ord(c) < 0x20 or ord(c) == 0x7F for c in result
            ):
                return result
        return decode_text_with_font(text, desc)
    return _decode_with_encoding(text, info)


def _decode_via_encoding_cmap(text: bytes, enc, coll) -> str:
    """extraction_cmap.rs decode_via_encoding_cmap:618-645: walk variable-
    width codes per the CMap codespace; code→CID (with notdef fallback) →
    collection table; U+FFFD for unmapped codes and unmapped non-zero CIDs,
    nothing for CID 0."""
    out: list[str] = []
    i = 0
    n = len(text)
    while i < n:
        ln = max(1, min(enc.code_len_at(text, i), n - i))
        code = text[i : i + ln]
        cid = enc.map_code_to_cid(code)
        if cid is None:
            cid = enc.map_notdef(code)
        if cid is None:
            out.append("\ufffd")
        else:
            ch = coll.cid_to_unicode(cid)
            if ch is not None:
                out.append(ch)
            elif cid > 0:
                out.append("\ufffd")
        i += ln
    return "".join(out)


def _decode_with_encoding_slow(text: bytes, info: FontInfo) -> str:
    """extraction_cmap.rs decode_with_encoding:718-745 — the per-byte
    authority loop (differential-pinned against the table fast path)."""
    out: list[str] = []
    diffs = info.differences
    enc = info.encoding
    for b in text:
        if diffs is not None:
            gname = diffs.get(b)
            if gname is not None:
                u = glyph_name_to_unicode(gname)
                if u is not None:
                    out.append(u)
                    continue
        if enc == "WinAnsiEncoding":
            out.append(decode_winansi_byte(b))
        elif enc == "MacRomanEncoding":
            out.append(decode_macroman_byte(b))
        elif enc == "StandardEncoding":
            out.append(decode_standard_byte(b))
        else:
            out.append(chr(b))
    return "".join(out)


# base 256-entry translate tables per named encoding (ordinal → str),
# containing only the positions that differ from latin-1 (chr(b)) so
# translate() skips the identity majority
def _base_table(enc: str | None) -> dict[int, str]:
    tbl: dict[int, str] = {}
    for b in range(256):
        if enc == "WinAnsiEncoding":
            ch = decode_winansi_byte(b)
        elif enc == "MacRomanEncoding":
            ch = decode_macroman_byte(b)
        elif enc == "StandardEncoding":
            ch = decode_standard_byte(b)
        else:
            ch = chr(b)
        if ch != chr(b):
            tbl[b] = ch
    return tbl


_BASE_TABLES: dict = {}


def _decode_with_encoding(text: bytes, info: FontInfo) -> str:
    """Table fast path for the per-byte loop above: the decode of byte b
    depends only on (encoding, differences[b]) — fold both into one
    256-entry str.translate table memoized ON the FontInfo itself
    (its _decode_table slot: entries die with their document, no
    module-level retention or cap-clear cliff), so a run decodes in
    one C pass. The per-byte loop stays as the pinned authority
    (test_encodings_fonts differential)."""
    tbl = info._decode_table
    if tbl is None:
        enc = info.encoding
        base = _BASE_TABLES.get(enc)
        if base is None:
            # /Encoding is document-controlled: a crawl of unique names
            # would otherwise grow this executor-lifetime dict without
            # bound (the real encoding vocabulary is ~6 names, so the
            # cap never fires on benign corpora)
            if len(_BASE_TABLES) > 64:
                _BASE_TABLES.clear()
            base = _BASE_TABLES[enc] = _base_table(enc)
        if info.differences:
            tbl = dict(base)
            for b, gname in info.differences.items():
                if not isinstance(b, int) or not 0 <= b <= 255:
                    continue
                u = glyph_name_to_unicode(gname)
                if u is not None:
                    if u != chr(b):
                        tbl[b] = u
                    else:
                        tbl.pop(b, None)
        else:
            tbl = base
        info._decode_table = tbl
    s = text.decode("latin-1")
    return s.translate(tbl) if tbl else s


_SANITIZE_TRIGGER = re.compile(
    # anything the state machine would actually rewrite: an ASCII control
    # other than \t\n\r (incl. NUL/ETX/DEL), or a space following a
    # space/tab (the only collapse sites — ' ' and '\t' are the only
    # chars that set last_was_space)
    "[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]|[ \t] "
)


def sanitize_extracted_text(text: str) -> str:
    """Issue #116 control-character scrub (extraction.rs:2232-2291):
    NUL(+ETX) → single space, lone ETX dropped, spaces collapsed,
    tab/newline/CR preserved, other control chars removed.

    Clean text — no rewrite triggers — returns unchanged after one
    C-level regex scan (the overwhelmingly common case; the state
    machine below is the pinned authority)."""
    if not text:
        return ""
    if _SANITIZE_TRIGGER.search(text) is None:
        return text
    out: list[str] = []
    last_was_space = False
    i = 0
    n = len(text)
    while i < n:
        ch = text[i]
        if ch == "\x00":
            if i + 1 < n and text[i + 1] == "\x03":
                i += 1
            if not last_was_space:
                out.append(" ")
                last_was_space = True
        elif ch == "\x03":
            pass
        elif ch in "\t\n\r":
            out.append(ch)
            last_was_space = ch == "\t"
        elif ch == " ":
            if not last_was_space:
                out.append(" ")
                last_was_space = True
        elif ch < " " or ch == "\x7f":
            # strip ASCII control incl. DEL (extraction.rs:2278 uses
            # c.is_ascii_control(), which covers 0x00-0x1F and 0x7F)
            pass
        else:
            out.append(ch)
            last_was_space = False
        i += 1
    return "".join(out)


def decode_text(text: bytes, font_name: str | None, fonts: dict[str, FontInfo]) -> str:
    """extraction.rs decode_text:1766-1831: CMap-first with the
    garbage-rejection gate, then name-pattern encoding fallback."""
    if font_name:
        info = fonts.get(font_name)
        if info is not None:
            decoded = decode_text_with_font(text, info)
            if decoded is not None:
                # acceptance gate (extraction.rs:1777-1780): non-blank and not
                # all NUL/ASCII-control
                if decoded.strip() and not all(
                    ord(c) < 0x20 or ord(c) == 0x7F for c in decoded
                ):
                    return sanitize_extracted_text(decoded)

    enc = fallback_encoding(font_name)
    return sanitize_extracted_text(decode_with_text_encoding(text, enc))


def fallback_encoding(font_name: str | None) -> str:
    """The name-derived fallback encoding decode_text uses when no font
    info applies or the CMap decode is rejected (extraction.rs:1783-1808).
    Exposed so the decode memo can key on the fallback CLASS."""
    if not font_name:
        return "WinAnsiEncoding"
    lower = font_name.lower()
    if "macroman" in lower:
        return "MacRomanEncoding"
    if "winansi" in lower:
        return "WinAnsiEncoding"
    if "standard" in lower:
        return "StandardEncoding"
    if "pdfdoc" in lower:
        return "PdfDocEncoding"
    if font_name.startswith(("Times", "Helvetica", "Courier")):
        return "WinAnsiEncoding"
    return "PdfDocEncoding"


def calculate_text_width_from_codes(
    codes: bytes, decoded: str, font_size: float, info: FontInfo | None
) -> float:
    """extraction.rs:2147-2198: code-indexed widths for simple fonts,
    char-indexed for composite, 0.5em/code fallback."""
    if info is not None and info.is_composite:
        if info.widths is None:
            # no /Widths: the reference would fall to 0.5em per decoded
            # char — prefer real advances from an embedded CID-keyed
            # CFF when the descendant carries them (code -> CID model)
            cw = _calc_width_cids(codes, font_size, info)
            if cw is not None:
                return cw
        return _calc_width_chars(decoded, font_size, info)
    if info is not None and info.widths is not None:
        first = info.first_char if info.first_char is not None else 0
        last = info.last_char if info.last_char is not None else 255
        missing = info.missing_width
        widths = info.widths
        total = 0.0
        for b in codes:
            if first <= b <= last and 0 <= b - first < len(widths):
                w = widths[b - first]
            else:
                w = missing
            total += w / 1000.0 * font_size
        return total
    return len(codes) * font_size * 0.5


def _calc_width_cids(
    codes: bytes, font_size: float, info: FontInfo
) -> float | None:
    """Code->CID width path (round 10, BEYOND the reference): composite
    fonts whose descendant read back a CID-keyed CFF width table
    (FontInfo.cid_widths) advance by the actual per-CID glyph widths.
    Identity-H/V codes ARE the CIDs (2-byte big-endian); an embedded
    /Encoding CMap maps codes per its codespace. Returns None when no
    CID width source applies (caller keeps the reference model)."""
    desc = info.descendant_font
    if desc is None or desc.cid_widths is None:
        return None
    if info.encoding in ("Identity-H", "Identity-V"):
        if len(codes) % 2:
            return None
        cids = [
            (codes[i] << 8) | codes[i + 1]
            for i in range(0, len(codes), 2)
        ]
    elif info.encoding_cmap is not None:
        enc = info.encoding_cmap
        cids = []
        i, n = 0, len(codes)
        while i < n:
            ln = max(1, min(enc.code_len_at(codes, i), n - i))
            cid = enc.map_code_to_cid(codes[i:i + ln])
            if cid is None:
                cid = enc.map_notdef(codes[i:i + ln]) or 0
            cids.append(cid)
            i += ln
    else:
        return None
    table = desc.cid_widths
    dw = desc.cid_default_width
    total = 0.0
    for cid in cids:
        total += table.get(cid, dw) / 1000.0 * font_size
    return total


def _calc_width_chars(decoded: str, font_size: float, info: FontInfo) -> float:
    """extraction.rs calculate_text_width:2086-2145 (composite path)."""
    if info.widths is not None:
        first = info.first_char if info.first_char is not None else 0
        last = info.last_char if info.last_char is not None else 255
        missing = info.missing_width
        widths = info.widths
        total = 0.0
        for ch in decoded:
            code = ord(ch)
            if first <= code <= last and 0 <= code - first < len(widths):
                w = widths[code - first]
            else:
                w = missing
            total += w / 1000.0 * font_size
        return total
    # reference falls through to 0.5em per decoded char for composite
    return len(decoded) * font_size * 0.5
