"""Simple-font byte encodings and glyph-name lookup.

Mirrors:
- TextEncoding::decode (oxidize-pdf-core/src/text/encoding.rs:162-230):
  Standard/PdfDoc → UTF-8-lossy; WinAnsi → CP1252-style table;
  MacRoman → Mac OS Roman table.
- per-byte decode_winansi / decode_macroman / decode_standard
  (text/extraction_cmap.rs:796-900): byte-as-char fallback.
- glyph_name_to_unicode for /Differences (extraction_cmap.rs).
"""

from __future__ import annotations

# CP1252 0x80-0x9F specials (extraction_cmap.rs:796-828); everything else is
# byte-as-char (Latin-1).
_WINANSI_HIGH = {
    0x80: "€", 0x82: "‚", 0x83: "ƒ", 0x84: "„",
    0x85: "…", 0x86: "†", 0x87: "‡", 0x88: "ˆ",
    0x89: "‰", 0x8A: "Š", 0x8B: "‹", 0x8C: "Œ",
    0x8E: "Ž", 0x91: "‘", 0x92: "’", 0x93: "“",
    0x94: "”", 0x95: "•", 0x96: "–", 0x97: "—",
    0x98: "˜", 0x99: "™", 0x9A: "š", 0x9B: "›",
    0x9C: "œ", 0x9E: "ž", 0x9F: "Ÿ",
}

_WINANSI_TABLE = "".join(
    _WINANSI_HIGH.get(b, chr(b)) for b in range(256)
)


def decode_winansi_byte(b: int) -> str:
    return _WINANSI_TABLE[b]


def decode_macroman_byte(b: int) -> str:
    if b < 0x80:
        return chr(b)
    try:
        return bytes([b]).decode("mac_roman")
    except UnicodeDecodeError:  # pragma: no cover
        return chr(b)


def decode_standard_byte(b: int) -> str:
    # Adobe StandardEncoding ≈ ASCII for the printable range; the reference's
    # per-byte decoder falls back to byte-as-char outside its table.
    return chr(b)


def decode_with_text_encoding(data: bytes, encoding: str) -> str:
    """TextEncoding::decode (encoding.rs:162): the fallback used by
    extraction.rs decode_text when no usable FontInfo exists."""
    if encoding in ("StandardEncoding", "PdfDocEncoding"):
        return data.decode("utf-8", errors="replace")
    if encoding == "WinAnsiEncoding":
        return "".join(_WINANSI_TABLE[b] for b in data)
    if encoding == "MacRomanEncoding":
        return "".join(decode_macroman_byte(b) for b in data)
    return data.decode("latin-1")


# Adobe Glyph List subset (covers Latin text + common punctuation) plus the
# uniXXXX / uXXXX[XX] convention. Used for /Differences resolution.
_GLYPH_NAMES = {
    "space": " ", "exclam": "!", "quotedbl": '"', "numbersign": "#",
    "dollar": "$", "percent": "%", "ampersand": "&", "quotesingle": "'",
    "parenleft": "(", "parenright": ")", "asterisk": "*", "plus": "+",
    "comma": ",", "hyphen": "-", "period": ".", "slash": "/",
    "zero": "0", "one": "1", "two": "2", "three": "3", "four": "4",
    "five": "5", "six": "6", "seven": "7", "eight": "8", "nine": "9",
    "colon": ":", "semicolon": ";", "less": "<", "equal": "=",
    "greater": ">", "question": "?", "at": "@", "bracketleft": "[",
    "backslash": "\\", "bracketright": "]", "asciicircum": "^",
    "underscore": "_", "grave": "`", "braceleft": "{", "bar": "|",
    "braceright": "}", "asciitilde": "~", "quoteleft": "‘",
    "quoteright": "’", "quotedblleft": "“",
    "quotedblright": "”", "endash": "–", "emdash": "—",
    "bullet": "•", "ellipsis": "…", "fi": "ﬁ",
    "fl": "ﬂ", "dagger": "†", "daggerdbl": "‡",
    "Euro": "€", "trademark": "™", "copyright": "©",
    "registered": "®", "degree": "°", "plusminus": "±",
    "eacute": "é", "egrave": "è", "agrave": "à",
    "ccedilla": "ç", "adieresis": "ä", "odieresis": "ö",
    "udieresis": "ü", "ntilde": "ñ",
}
for _c in range(26):
    _GLYPH_NAMES[chr(ord("A") + _c)] = chr(ord("A") + _c)
    _GLYPH_NAMES[chr(ord("a") + _c)] = chr(ord("a") + _c)


def glyph_name_to_unicode(name: str) -> str | None:
    """The character a glyph name stands for, or None. A ``uniXXXX`` or
    ``uXXXX[XX]`` name of a surrogate code point (D800-DFFF) maps to
    None: a Rust ``char`` cannot hold one, so the reference never emits
    it, and Arrow cannot encode it."""
    ch = _GLYPH_NAMES.get(name)
    if ch is not None:
        return ch
    if name.startswith("uni") and len(name) >= 7:
        digits = name[3:7]
    elif name.startswith("u") and 5 <= len(name) <= 7:
        digits = name[1:]
    else:
        return None
    try:
        cp = int(digits, 16)
        return None if 0xD800 <= cp <= 0xDFFF else chr(cp)
    except ValueError:
        return None
