"""CMap parsing and code→Unicode mapping (ToUnicode + Identity CMaps).

Reimplements (in-UDF, parsed once per font per document):

- whitespace-agnostic PostScript tokenizer: oxidize-pdf-core/src/text/cmap.rs
  tokenize_cmap (cmap.rs:526-660)
- parse state machine (codespacerange / bfchar / bfrange incl. array form /
  usecmap / WMode / CMapName): cmap.rs:149-316
- map() precedence — explicit singles, then ranges (big-endian carry add),
  then codespace-gated Identity passthrough: cmap.rs:317-389
- variable-width code walk for decoding: extraction_cmap.rs decode_with_cmap

C fast path (kernel/_cscan.c): ``CMap.parse`` runs as ``parse_cmap``,
which tokenizes and parses into the same CMap fields (name, wmode,
codespace_ranges, ranges, single) and bails to the Python parse below on
usecmap and cid sections; the C code table decodes runs through CMaps
whose codes are 1 or 2 bytes and leaves 3- and 4-byte codes, usecmap
parents and predefined CMaps to ``decode_with_cmap``.
"""

from __future__ import annotations

import re

_TOKEN_RE = re.compile(
    rb"(?:[\x00\t\n\x0c\r ]+|%[^\n]*)+"  # skip
    rb"|(?P<dict><<|>>)"
    rb"|(?P<hex><[0-9A-Fa-f\x00\t\n\x0c\r ]*>)"
    rb"|(?P<abrk>[\[\]])"
    rb"|(?P<name>/[^\x00\t\n\x0c\r ()<>\[\]{}/%]*)"
    rb"|(?P<int>[+-]?\d+)(?![.\d])"
    rb"|(?P<kw>[^\x00\t\n\x0c\r ()<>\[\]{}/%]+)"
    rb"|(?P<other>.)"
)


def _hex_bytes(raw: bytes) -> bytes | None:
    clean = bytes(c for c in raw[1:-1] if c not in b" \t\r\n\x0c\x00")
    if len(clean) % 2:
        return None
    try:
        return bytes.fromhex(clean.decode("ascii"))
    except ValueError:
        return None


def tokenize_cmap(data: bytes) -> list[tuple]:
    """→ [('hex', bytes) | ('arr', [bytes...]) | ('name', str) | ('int', n)
    | ('kw', str)] (cmap.rs:526-660)."""
    tokens: list[tuple] = []
    pos = 0
    n = len(data)
    in_array: list[bytes] | None = None
    while pos < n:
        m = _TOKEN_RE.match(data, pos)
        if not m:
            pos += 1
            continue
        pos = m.end()
        g = m.lastgroup
        if g is None or g == "dict" or g == "other":
            continue
        if g == "hex":
            b = _hex_bytes(m.group("hex"))
            if b is None:
                continue
            if in_array is not None:
                in_array.append(b)
            else:
                tokens.append(("hex", b))
        elif g == "abrk":
            if m.group("abrk") == b"[":
                in_array = []
            else:
                if in_array is not None:
                    tokens.append(("arr", in_array))
                    in_array = None
        elif g == "name":
            tokens.append(("name", m.group("name")[1:].decode("latin-1")))
        elif g == "int":
            tokens.append(("int", int(m.group("int"))))
        elif g == "kw":
            tokens.append(("kw", m.group("kw").decode("latin-1")))
    return tokens


def _increment_be(b: bytearray) -> None:
    for i in range(len(b) - 1, -1, -1):
        if b[i] == 0xFF:
            b[i] = 0
        else:
            b[i] += 1
            return


class CMap:
    """Parsed CMap with single/range mappings over byte-string codes."""

    __slots__ = (
        "name",
        "cmap_type",
        "wmode",
        "codespace_ranges",
        "ranges",
        "single",
        "cid_singles",
        "cid_ranges",
        "notdef_ranges",
        "inherited_predefined",
        "_uni_memo",
        "_coll_cache",
    )

    def __init__(self, cmap_type: str = "ToUnicode"):
        self.name: str | None = None
        self.cmap_type = cmap_type  # 'ToUnicode' | 'Predefined:<name>'
        self.wmode = 0
        self.codespace_ranges: list[tuple[bytes, bytes]] = []
        self.ranges: list[tuple[bytes, bytes, bytes]] = []
        self.single: dict[bytes, bytes] = {}
        # encoding-CMap (CMapType 1, code→CID) sections: cidchar/cidrange/
        # notdefrange (encoding_cmap.rs EncodingCMap)
        self.cid_singles: dict[bytes, int] = {}
        self.cid_ranges: list[tuple[bytes, bytes, int]] = []
        self.notdef_ranges: list[tuple[bytes, bytes, int]] = []
        self.inherited_predefined: str | None = None
        # per-instance (code → unicode|None) memo: glyph codes repeat
        # massively within a document, and map()+to_unicode() dominate the
        # real-PDF decode profile without it
        self._uni_memo: dict[bytes, str | None] = {}
        self._coll_cache = False  # resolved CID collection (False = unset)

    # -- encoding-CMap (code → CID) surface (encoding_cmap.rs:171-229) ------

    def has_cid_mappings(self) -> bool:
        return bool(self.cid_singles or self.cid_ranges)

    def code_len_at(self, data: bytes, pos: int) -> int:
        """Byte width of the code at ``pos`` via the first-byte codespace
        match (ISO 32000-1 §9.7.6.2); width 1 when nothing matches."""
        b = data[pos]
        for lo, hi in self.codespace_ranges:
            if lo and len(lo) == len(hi) and lo[0] <= b <= hi[0]:
                return len(lo)
        return 1

    def map_code_to_cid(self, code: bytes) -> int | None:
        cid = self.cid_singles.get(code)
        if cid is not None:
            return cid
        for lo, hi, base in self.cid_ranges:
            if len(code) == len(lo) == len(hi) and lo <= code <= hi:
                off = int.from_bytes(code, "big") - int.from_bytes(lo, "big")
                return (base + off) & 0xFFFF
        return None

    def map_notdef(self, code: bytes) -> int | None:
        for lo, hi, base in self.notdef_ranges:
            if len(code) == len(lo) == len(hi) and lo <= code <= hi:
                return base
        return None

    @classmethod
    def identity_h(cls) -> "CMap":
        c = cls("Predefined:Identity-H")
        c.name = "Identity-H"
        c.codespace_ranges.append((b"\x00\x00", b"\xff\xff"))
        return c

    @classmethod
    def identity_v(cls) -> "CMap":
        c = cls("Predefined:Identity-V")
        c.name = "Identity-V"
        c.wmode = 1
        c.codespace_ranges.append((b"\x00\x00", b"\xff\xff"))
        return c

    @classmethod
    def parse(cls, data: bytes) -> "CMap":
        ck = _content._CSCAN
        if ck is not None and cls is CMap:
            cmap = ck.parse_cmap(data)
            if cmap is not ck.BAIL:
                return cmap
        cmap = cls()
        tokens = tokenize_cmap(data)
        i = 0
        n = len(tokens)
        while i < n:
            kind, val = tokens[i]
            if kind == "name" and val == "CMapName":
                if i + 1 < n and tokens[i + 1][0] == "name":
                    cmap.name = tokens[i + 1][1]
                    i += 2
                    continue
            elif kind == "kw" and val == "usecmap":
                j = i
                while j > 0:
                    j -= 1
                    if tokens[j][0] == "name":
                        cmap.inherited_predefined = tokens[j][1]
                        break
            elif kind == "name" and val == "WMode":
                if i + 1 < n and tokens[i + 1][0] == "int":
                    cmap.wmode = int(tokens[i + 1][1]) & 0xFF
                    i += 2
                    continue
            elif kind == "kw" and val == "begincodespacerange":
                i += 1
                while i < n:
                    if tokens[i] == ("kw", "endcodespacerange"):
                        break
                    if (
                        tokens[i][0] == "hex"
                        and i + 1 < n
                        and tokens[i + 1][0] == "hex"
                    ):
                        cmap.codespace_ranges.append((tokens[i][1], tokens[i + 1][1]))
                        i += 2
                        continue
                    i += 1
            elif kind == "kw" and val == "beginbfchar":
                i += 1
                while i < n:
                    if tokens[i] == ("kw", "endbfchar"):
                        break
                    if (
                        tokens[i][0] == "hex"
                        and i + 1 < n
                        and tokens[i + 1][0] == "hex"
                    ):
                        cmap.single[tokens[i][1]] = tokens[i + 1][1]
                        i += 2
                        continue
                    i += 1
            elif kind == "kw" and val == "beginbfrange":
                i += 1
                while i < n:
                    if tokens[i] == ("kw", "endbfrange"):
                        break
                    if tokens[i][0] == "hex" and i + 2 < n and tokens[i + 1][0] == "hex":
                        src_start, src_end = tokens[i][1], tokens[i + 1][1]
                        dst_tok = tokens[i + 2]
                        if dst_tok[0] == "hex":
                            cmap.ranges.append((src_start, src_end, dst_tok[1]))
                            i += 3
                            continue
                        if dst_tok[0] == "arr":
                            cur = bytearray(src_start)
                            for dst in dst_tok[1]:
                                cmap.single[bytes(cur)] = dst
                                if bytes(cur) >= src_end:
                                    break
                                _increment_be(cur)
                            i += 3
                            continue
                    i += 1
            elif kind == "kw" and val == "begincidchar":
                # encoding-CMap code → CID singles (encoding_cmap.rs)
                i += 1
                while i < n:
                    if tokens[i] == ("kw", "endcidchar"):
                        break
                    if (
                        tokens[i][0] == "hex"
                        and i + 1 < n
                        and tokens[i + 1][0] == "int"
                    ):
                        cmap.cid_singles[tokens[i][1]] = tokens[i + 1][1] & 0xFFFF
                        i += 2
                        continue
                    i += 1
            elif kind == "kw" and val in ("begincidrange", "beginnotdefrange"):
                end_kw = "endcidrange" if val == "begincidrange" else "endnotdefrange"
                target = (
                    cmap.cid_ranges if val == "begincidrange" else cmap.notdef_ranges
                )
                i += 1
                while i < n:
                    if tokens[i] == ("kw", end_kw):
                        break
                    if (
                        tokens[i][0] == "hex"
                        and i + 2 < n
                        and tokens[i + 1][0] == "hex"
                        and tokens[i + 2][0] == "int"
                    ):
                        target.append(
                            (tokens[i][1], tokens[i + 1][1], tokens[i + 2][1] & 0xFFFF)
                        )
                        i += 3
                        continue
                    i += 1
            i += 1
        return cmap

    # -- lookup --------------------------------------------------------------

    def map(self, code: bytes) -> bytes | None:
        """cmap.rs:317-389 precedence, incl. identity fallbacks."""
        dst = self.single.get(code)
        if dst is not None:
            return dst
        for src_start, src_end, dst_start in self.ranges:
            if len(code) == len(src_start) and src_start <= code <= src_end:
                offset = int.from_bytes(code, "big") - int.from_bytes(src_start, "big")
                width = len(dst_start)
                if width == 0:
                    return b""
                # big-endian add with carry; overflow past the dst width wraps
                val = (int.from_bytes(dst_start, "big") + offset) % (1 << (8 * width))
                return val.to_bytes(width, "big")
        if not self.is_valid_code(code):
            return None
        if self.cmap_type.startswith("Predefined:Identity"):
            return code
        if len(code) == 2 and self.inherited_predefined in ("Identity-H", "Identity-V"):
            return code
        return None

    def is_valid_code(self, code: bytes) -> bool:
        for start, end in self.codespace_ranges:
            if len(code) == len(start) == len(end) and start <= code <= end:
                return True
        return len(code) == 2 and self.inherited_predefined in (
            "Identity-H",
            "Identity-V",
        )

    def to_unicode(self, mapped: bytes) -> str | None:
        """UTF-16BE for even lengths, UTF-8 fallback (cmap.rs:440-456).
        Predefined CMaps return None (they map to CIDs, not Unicode)."""
        if self.cmap_type != "ToUnicode":
            return None
        if len(mapped) % 2 == 0:
            try:
                return mapped.decode("utf-16-be")
            except UnicodeDecodeError:
                return None
        try:
            return mapped.decode("utf-8")
        except UnicodeDecodeError:
            return None


def _inherited_ordering(cmap: "CMap") -> str | None:
    """Map an inherited predefined `*-UCS2` parent (set by `usecmap`) to
    its CID collection ordering (cmap.rs inherited_ordering:408-421).
    `Adobe-KR-UCS2` is a producer alias for the Korea1 collection."""
    p = cmap.inherited_predefined
    if p == "Adobe-GB1-UCS2":
        return "GB1"
    if p == "Adobe-CNS1-UCS2":
        return "CNS1"
    if p == "Adobe-Japan1-UCS2":
        return "Japan1"
    if p in ("Adobe-Korea1-UCS2", "Adobe-KR-UCS2"):
        return "Korea1"
    return None


def decode_with_cmap(text: bytes, cmap: CMap) -> str:
    """Variable-width code walk (extraction_cmap.rs decode_with_cmap:672-745):
    try 1..4-byte codes at each position; unmapped bytes advance by 1.

    usecmap to a predefined Adobe `*-UCS2` parent: a code the child CMap
    did not map is treated as a 2-byte CID and resolved via the inherited
    collection table (extraction_cmap.rs:696-712) — explicit child bf*
    mappings win; the stride stays 2 bytes whether or not the lookup hits
    (U+FFFD for unmapped non-zero CIDs, nothing for CID 0)."""
    coll = cmap._coll_cache
    if coll is False:
        from .cid_tables import from_ordering

        coll = cmap._coll_cache = from_ordering(_inherited_ordering(cmap))
    out: list[str] = []
    i = 0
    n = len(text)
    memo = cmap._uni_memo
    while i < n:
        decoded = False
        for ln in range(1, min(4, n - i) + 1):
            code = text[i : i + ln]
            uni = memo.get(code, False)
            if uni is False:
                mapped = cmap.map(code)
                uni = cmap.to_unicode(mapped) if mapped is not None else None
                memo[code] = uni
            if uni is not None:
                out.append(uni)
                i += ln
                decoded = True
                break
        if not decoded:
            if coll is not None and n - i >= 2:
                cid = (text[i] << 8) | text[i + 1]
                ch = coll.cid_to_unicode(cid)
                if ch is not None:
                    out.append(ch)
                elif cid > 0:
                    out.append("�")
                i += 2
                continue
            i += 1
    return "".join(out)


# last: content.py's C-kernel load imports this module for setup_fonts,
# so the definitions above must exist before content runs
from . import content as _content  # noqa: E402
