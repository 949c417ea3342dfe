"""Cross-reference table parsing: traditional sections, xref streams,
incremental-update chains, and brute-force recovery.

Reimplements (in-UDF, per document):

- startxref tail scan:         oxidize-pdf-core/src/parser/xref.rs:979-1020
- traditional xref sections:   xref.rs:750-911 (entry lines 1310-1440)
- xref streams (PDF 1.5):      xref_stream.rs:61-221 — numpy bulk field decode
- Prev chain walk + cycle guard + newest-entry-wins merge: xref.rs:495-574
- hybrid /XRefStm hop:         xref.rs (hybrid-reference files)
- missing-object scan + full recovery: xref.rs:1022-1265, 115-180

The C kernel (kernel/_cscan.c) runs three of these natively:
``xref_chain`` (the whole chain: startxref, traditional sections and xref
streams with their trailers, the hybrid /XRefStm hop, /Prev with the same
cycle guard, and recovery when nothing parses), ``parse_xref_section`` (one
strict 20-byte-stride section and its trailer) and ``recover_xref`` (the
header scan and the /Root search). Xref-stream and object-stream payloads
decode through the Python ``Stream.decode``. Each returns the complete
result or None; on None the Python code here runs that step from the start
and stays the authority: flexible section layouts, a bool, float or huge
/Prev or /XRefStm, an exception from a stream decode, and any object the C
parser is not byte-certain about take this path.
"""

from __future__ import annotations

import re

import numpy as np

from . import content as _content
from .objects import Lexer, PdfParseError, Ref, Stream, parse_object

# Entry kinds: ('n', offset, gen) in-use | ('f', next_free, gen) free
#            | ('c', container_obj_num, index_in_stream) compressed
XREF_ENTRY_RE = re.compile(rb"(\d{10})\s(\d{5})\s([nf])")
FLEX_ENTRY_RE = re.compile(rb"(\d+)\s+(\d+)\s+([nf])")
_SUBSECTION_RE = re.compile(rb"\s*(\d+)\s+(\d+)\s*")
OBJ_HEADER_RE = re.compile(rb"(\d+)\s+(\d+)\s+obj\b")


class XRefError(PdfParseError):
    pass


def find_xref_offset(data: bytes) -> int | None:
    """Tail scan for ``startxref`` (xref.rs:979-1020): search the last 1KB
    first, then the whole buffer."""
    tail_start = max(0, len(data) - 1024)
    idx = data.rfind(b"startxref", tail_start)
    if idx < 0:
        idx = data.rfind(b"startxref")
    if idx < 0:
        return None
    m = re.match(rb"startxref\s+(\d+)", data[idx : idx + 64])
    if not m:
        return None
    return int(m.group(1))


def _parse_traditional_section(data: bytes, offset: int) -> tuple[dict, dict, int]:
    """One traditional xref section at ``offset`` (xref.rs:750-911).

    Returns (entries, trailer_dict, pos_after). Entries are decoded in bulk:
    the 20-byte fixed-width lines of each subsection are matched with one
    compiled regex pass (S4 numpy/regex bulk decode per SURVEY.md §2.1).
    When the C kernel is loaded, a strict 20-byte-stride table followed by
    a ``trailer`` dict parses natively (parse_xref_section, _cscan.c) with
    the loop below as the pinned authority — any non-strict layout
    (flexible spacing, comments, truncation, no trailer dict) bails back
    here."""
    ck = _content._CSCAN
    if ck is not None:
        r = ck.parse_xref_section(data, offset)
        if r is not None:
            return r
    lexer = Lexer(data, offset)
    tok = lexer.next_token()
    if tok != ("kw", "xref"):
        raise XRefError(f"expected 'xref' at {offset}, got {tok}")
    entries: dict[int, tuple] = {}
    pos = lexer.pos
    while True:
        m = _SUBSECTION_RE.match(data, pos)
        if not m:
            break
        start_obj, count = int(m.group(1)), int(m.group(2))
        pos = m.end()
        # Bulk decode `count` entries. Standard layout is 20 bytes/entry;
        # fall back to a flexible per-entry regex for sloppy producers
        # (xref.rs:1359 flexible parse).
        block = data[pos : pos + 20 * count]
        # one finditer pass yields both the groups AND the precise end of
        # the final entry (\r\n vs \n trim)
        matches = []
        end_rel = 0
        for mm in XREF_ENTRY_RE.finditer(block):
            matches.append(mm.groups())
            end_rel = mm.end()
        if len(matches) == count:
            pos += end_rel
            # consume trailing EOL of final entry
            while pos < len(data) and data[pos] in b"\r\n ":
                pos += 1
            for i, (off_b, gen_b, kind_b) in enumerate(matches):
                num = start_obj + i
                entry = (
                    ("n", int(off_b), int(gen_b))
                    if kind_b == b"n"
                    else ("f", int(off_b), int(gen_b))
                )
                entries.setdefault(num, entry)
        else:
            flex = FLEX_ENTRY_RE.finditer(data, pos)
            got = 0
            for mm in flex:
                if got >= count:
                    break
                num = start_obj + got
                kind = "n" if mm.group(3) == b"n" else "f"
                entries.setdefault(num, (kind, int(mm.group(1)), int(mm.group(2))))
                pos = mm.end()
                got += 1
            if got < count:
                break
    return _parse_trailer_after(data, entries, pos)


def _parse_trailer_after(data: bytes, entries: dict, pos: int) -> tuple[dict, dict, int]:
    lexer = Lexer(data, pos)
    tok = lexer.next_token()
    trailer: dict = {}
    if tok == ("kw", "trailer"):
        trailer = parse_object(lexer)
        if not isinstance(trailer, dict):
            trailer = {}
    else:
        lexer.push_token(tok)
    return entries, trailer, lexer.pos


def _parse_xref_stream_at(data: bytes, offset: int, reader) -> tuple[dict, dict]:
    """XRef stream (xref_stream.rs:61-221). ``reader`` supplies stream-object
    parsing (header + raw data + decode). Returns (entries, trailer=stream dict).

    Field extraction is vectorized: the decoded byte matrix is reshaped to
    (n_entries, w0+w1+w2) with numpy and each field column-summed big-endian
    (SURVEY.md S5)."""
    num, gen, obj = reader.parse_indirect_object_at(offset)
    if not isinstance(obj, Stream):
        raise XRefError(f"object at {offset} is not an xref stream")
    d = obj.dict
    if str(d.get("Type", "")) != "XRef":
        # Be lenient: some producers omit /Type; require W to proceed.
        if "W" not in d:
            raise XRefError("xref stream missing /Type and /W")
    decoded = obj.decode(resolve=None)  # xref streams must not have indirect params
    w = [int(x) for x in d.get("W", [])]
    if len(w) < 3:
        raise XRefError(f"bad /W array: {d.get('W')}")
    size = int(d.get("Size", 0))
    index = d.get("Index", [0, size])
    index = [int(x) for x in index]
    row = sum(w)
    if row == 0:
        raise XRefError("zero-width xref stream rows")
    n_rows = len(decoded) // row
    mat = np.frombuffer(decoded[: n_rows * row], dtype=np.uint8).reshape(n_rows, row)

    def field(col_start: int, width: int, default: int) -> np.ndarray:
        if width == 0:
            return np.full(n_rows, default, dtype=np.int64)
        cols = mat[:, col_start : col_start + width].astype(np.int64)
        out = np.zeros(n_rows, dtype=np.int64)
        for b in range(width):
            out = (out << 8) | cols[:, b]
        return out

    types = field(0, w[0], 1)  # missing type field defaults to 1 (in-use)
    f2 = field(w[0], w[1], 0)
    f3 = field(w[0] + w[1], w[2], 0)

    entries: dict[int, tuple] = {}
    r = 0
    for i in range(0, len(index) - 1, 2):
        first, count = index[i], index[i + 1]
        for j in range(count):
            if r >= n_rows:
                break
            num_j = first + j
            t = types[r]
            if t == 0:
                entries.setdefault(num_j, ("f", int(f2[r]), int(f3[r])))
            elif t == 1:
                entries.setdefault(num_j, ("n", int(f2[r]), int(f3[r])))
            elif t == 2:
                entries.setdefault(num_j, ("c", int(f2[r]), int(f3[r])))
            r += 1
    trailer = dict(d)
    return entries, trailer


def parse_xref_chain(data: bytes, reader, start_offset: int | None = None):
    """Walk the Prev chain, newest entries win (xref.rs:495-574).

    Returns (entries, trailer, mode) where mode is 'strict' or 'recovered'.

    When the C kernel is loaded, the chain is walked natively (xref_chain,
    _cscan.c: startxref, traditional sections, xref streams, /XRefStm,
    /Prev with the same cycle guard and hop cap, and the recovery scan when
    nothing parses). It returns the complete result or None; on None this
    function walks the chain itself, so a section the C parser is not
    byte-certain about takes this Python path.
    """
    if start_offset is None:
        ck = _content._CSCAN
        if ck is not None:
            r = ck.xref_chain(data, reader.lenient)
            if r is not None:
                return r
        start_offset = find_xref_offset(data)
    entries: dict[int, tuple] = {}
    trailer: dict = {}
    seen_offsets: set[int] = set()
    offset = start_offset
    hops = 0
    ok = False
    while offset is not None and 0 <= offset < len(data) and hops < 64:
        if offset in seen_offsets:
            break  # cycle guard
        seen_offsets.add(offset)
        hops += 1
        try:
            if data[offset : offset + 4] == b"xref":
                sec_entries, sec_trailer, _ = _parse_traditional_section(data, offset)
            else:
                sec_entries, sec_trailer = _parse_xref_stream_at(data, offset, reader)
        except (PdfParseError, ValueError, IndexError):
            break
        ok = True
        for num, entry in sec_entries.items():
            entries.setdefault(num, entry)  # newest (earliest-walked) wins
        for k, v in sec_trailer.items():
            trailer.setdefault(k, v)
        # Hybrid-reference: /XRefStm points at an xref stream carrying the
        # compressed-object entries the traditional table can't express.
        xrefstm = sec_trailer.get("XRefStm")
        if isinstance(xrefstm, int):
            try:
                stm_entries, _ = _parse_xref_stream_at(data, xrefstm, reader)
                for num, entry in stm_entries.items():
                    entries.setdefault(num, entry)
            except (PdfParseError, ValueError, IndexError):
                pass
        prev = sec_trailer.get("Prev")
        offset = int(prev) if isinstance(prev, (int, float)) else None
    if not ok or not entries:
        return recover_xref(data)
    return entries, trailer, "strict"


def scan_object_headers(data: bytes) -> dict[int, tuple]:
    """Brute scan for ``N G obj`` headers (xref.rs:115-180, 1022-1048) —
    one bulk ``re.finditer`` pass over the whole buffer."""
    found: dict[int, tuple] = {}
    for m in OBJ_HEADER_RE.finditer(data):
        num, gen = int(m.group(1)), int(m.group(2))
        # later definitions override earlier ones (incremental updates append)
        found[num] = ("n", m.start(), gen)
    return found


def _parse_object_at_standalone(data: bytes, offset: int):
    """Parse ``N G obj <value> [stream]`` without a reader (recovery path):
    indirect /Length falls back to the lenient endstream search."""
    lexer = Lexer(data, offset)
    t1 = lexer.next_token()
    t2 = lexer.next_token()
    t3 = lexer.next_token()
    if t1[0] != "int" or t2[0] != "int" or t3 != ("kw", "obj"):
        raise PdfParseError(f"no object header at {offset}")
    value = parse_object(lexer)
    tok = lexer.next_token()
    if tok == ("kw", "stream") and isinstance(value, dict):
        pos = lexer.pos
        if data[pos : pos + 2] == b"\r\n":
            pos += 2
        elif pos < len(data) and data[pos] in b"\r\n":
            pos += 1
        raw = None
        length = value.get("Length")
        if isinstance(length, int) and 0 <= length and pos + length <= len(data):
            after = data[pos + length : pos + length + 32].lstrip(b"\r\n \t")
            if after.startswith(b"endstream"):
                raw = data[pos : pos + length]
        if raw is None:
            es = data.find(b"endstream", pos)
            if es < 0:
                raise PdfParseError("unterminated stream")
            end = es
            if end > pos and data[end - 1] == 0x0A:
                end -= 1
            if end > pos and data[end - 1] == 0x0D:
                end -= 1
            raw = data[pos:end]
        value = Stream(value, raw)
    return t1[1], t2[1], value


def recover_xref(data: bytes):
    """Corrupt-file reconstruction (xref.rs:1050-1265 and
    recovery/xref_recovery.rs): scan every ``N G obj`` header, then recover
    /Root from — in order — the last ``trailer`` dict, any xref-stream
    (/Type /XRef) object's dict, or a /Type /Catalog object. Object-stream
    (/Type /ObjStm) containers found by the scan are decoded and their
    members registered as compressed entries so catalogs packed inside an
    ObjStm (PDF 1.5 files) survive recovery too.

    When the C kernel is loaded, the whole scan runs natively
    (recover_xref, _cscan.c); on its None the code below runs."""
    ck = _content._CSCAN
    if ck is not None:
        r = ck.recover_xref(data)
        if r is not None:
            return r[0], r[1], "recovered"
    entries = scan_object_headers(data)
    trailer: dict = {}
    # 1) the last parseable `trailer` keyword dict with /Root
    t_idx = data.rfind(b"trailer")
    while t_idx >= 0:
        try:
            lexer = Lexer(data, t_idx + len(b"trailer"))
            cand = parse_object(lexer)
            if isinstance(cand, dict) and "Root" in cand:
                trailer = cand
                break
        except PdfParseError:
            pass
        t_idx = data.rfind(b"trailer", 0, t_idx)

    # 2) mine scanned objects: xref-stream dicts for /Root, ObjStm members
    for num, (_, off, gen) in sorted(entries.items()):
        window = data[off : off + 256]
        is_xref_stm = b"/XRef" in window
        is_objstm = b"/ObjStm" in window
        if not (is_xref_stm or is_objstm):
            continue
        try:
            _, _, obj = _parse_object_at_standalone(data, off)
        except PdfParseError:
            continue
        if not isinstance(obj, Stream):
            continue
        d = obj.dict
        if is_xref_stm and "Root" not in trailer and "Root" in d:
            for key in ("Root", "Size", "Info", "ID"):
                if key in d:
                    trailer.setdefault(key, d[key])
        if is_objstm:
            try:
                decoded = obj.decode(resolve=None)
                n = int(d.get("N", 0) or 0)
                first = int(d.get("First", 0) or 0)
                pairs = [int(x) for x in re.findall(rb"\d+", decoded[:first])[: 2 * n]]
                for i in range(0, len(pairs) - 1, 2):
                    entries.setdefault(pairs[i], ("c", num, i // 2))
            except Exception:
                pass

    # 3) last resort: a /Type /Catalog object among the recovered headers
    if "Root" not in trailer:
        for num, entry in sorted(entries.items()):
            if entry[0] != "n":
                continue
            window = data[entry[1] : entry[1] + 512]
            if b"/Catalog" in window:
                trailer = dict(trailer)
                trailer["Root"] = Ref(num, entry[2])
                break
    trailer.setdefault("Size", (max(entries) + 1) if entries else 0)
    return entries, trailer, "recovered"


def fill_missing_objects(data: bytes, entries: dict[int, tuple]) -> int:
    """Hybrid scan fill (xref.rs:1022-1048): add any scanned object header
    the xref lacks. Returns the number of entries added."""
    added = 0
    scanned = scan_object_headers(data)
    for num, entry in scanned.items():
        if num not in entries:
            entries[num] = entry
            added += 1
    return added
