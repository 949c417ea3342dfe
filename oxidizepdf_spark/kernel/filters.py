"""Stream filters (decode side).

Reimplements the reference's filter kernels as Python/numpy, matching its
recovery behavior:

- filter dispatch + chains + DecodeParms: oxidize-pdf-core/src/parser/filters.rs:173-225
- FlateDecode with 8 fallback strategies:   filters.rs:248-406
- PNG/TIFF predictors:                      filters.rs:408-498, 1627-1835
- ASCIIHexDecode:                           filters.rs:499-546
- ASCII85Decode:                            filters.rs:547-690
- LZWDecode (+EarlyChange):                 filters.rs:1836-1998
- RunLengthDecode:                          filters.rs:1999-2044
- decompression-bomb guards:                filters.rs:26,38,80-108

Image-stream filters: DCTDecode and CCITTFaxDecode dispatch to real codecs
in kernel/image_codecs.py (DCT = clean+validate byte window per dct.rs:57-68;
CCITT = full T.4/T.6 decode, beyond the reference's simplified tables);
JBIG2Decode dispatches to kernel/jbig2.py (MQ arithmetic + generic regions
+ page composition, transcribing filter_impls/{jbig2,mq_coder,
generic_region,page_buffer}.rs). JPX remains pass-through (the extraction
hot path captures image XObjects as references — ``kind='image'`` spans —
and never decodes them; SURVEY.md §2.2).

With the C kernel loaded, the C object fetch and /Contents assembly
decode the common chain themselves (kernel/_cscan.c ``native_decode``):
FlateDecode through the same ``zlib.decompressobj`` calls as
``_zlib_try`` with its size and ratio guards, LZWDecode, ASCIIHexDecode,
chains of these and the PNG and TIFF predictors. Every other stream, and
every stream whose first zlib try fails, decodes here: this module owns
decode_flate's fallback ladder and stays the authority the C chain is
tested against (tests/test_native_filters.py).
"""

from __future__ import annotations

import binascii
import struct
import zlib

import numpy as np

MAX_DECOMPRESSED_SIZE = 256 * 1024 * 1024  # filters.rs:26
MAX_COMPRESSION_RATIO = 1000  # filters.rs:38


class FilterError(Exception):
    pass


def _check_ratio(compressed_len: int, decompressed_len: int) -> None:
    """Decompression-bomb guard (filters.rs:80-108)."""
    if decompressed_len > MAX_DECOMPRESSED_SIZE:
        raise FilterError(
            f"decompressed size {decompressed_len} exceeds {MAX_DECOMPRESSED_SIZE}"
        )
    if compressed_len > 0 and decompressed_len > compressed_len * MAX_COMPRESSION_RATIO:
        raise FilterError(
            f"compression ratio {decompressed_len // max(compressed_len, 1)} "
            f"exceeds {MAX_COMPRESSION_RATIO}"
        )


# ---------------------------------------------------------------------------
# FlateDecode
# ---------------------------------------------------------------------------


def _zlib_try(data: bytes, wbits: int) -> bytes:
    d = zlib.decompressobj(wbits)
    out = d.decompress(data, MAX_DECOMPRESSED_SIZE + 1)
    out += d.flush()
    _check_ratio(len(data), len(out))
    return out


def decode_flate(data: bytes) -> bytes:
    """FlateDecode with the reference's fallback ladder (filters.rs:248-314).

    Strategies, in order: standard zlib; raw deflate; skip 1-5 corrupt header
    bytes; truncate 1-10 corrupt trailer bytes; gzip; partial decompression;
    zlib+PNG-predictor guesses; empty result as last resort.
    """
    # Strategy 1: standard zlib
    try:
        return _zlib_try(data, zlib.MAX_WBITS)
    except (zlib.error, FilterError):
        pass
    # Strategy 2: raw deflate (no zlib wrapper)
    try:
        return _zlib_try(data, -zlib.MAX_WBITS)
    except (zlib.error, FilterError):
        pass
    # Strategy 3: skip potential header corruption
    if len(data) > 10:
        for skip in range(1, 6):
            for wbits in (zlib.MAX_WBITS, -zlib.MAX_WBITS):
                try:
                    return _zlib_try(data[skip:], wbits)
                except (zlib.error, FilterError):
                    pass
    # Strategy 4: truncate potential footer corruption
    if len(data) > 20:
        for trunc in range(1, 11):
            for wbits in (zlib.MAX_WBITS, -zlib.MAX_WBITS):
                try:
                    return _zlib_try(data[: len(data) - trunc], wbits)
                except (zlib.error, FilterError):
                    pass
    # Strategy 5: gzip wrapper
    try:
        return _zlib_try(data, 16 + zlib.MAX_WBITS)
    except (zlib.error, FilterError):
        pass
    # Strategy 6: partial decompression — keep whatever decoded before the error
    try:
        d = zlib.decompressobj(zlib.MAX_WBITS)
        out = bytearray()
        try:
            out += d.decompress(data, MAX_DECOMPRESSED_SIZE + 1)
            out += d.flush()
        except zlib.error:
            pass
        if out:
            _check_ratio(len(data), len(out))
            return bytes(out)
    except FilterError:
        pass
    # Strategy 7: zlib + guessed PNG predictor widths (filters.rs:384-399)
    if len(data) > 20:
        try:
            raw = _zlib_try(data, zlib.MAX_WBITS)
        except (zlib.error, FilterError):
            raw = None
        if raw:
            for width in (1, 2, 3, 4, 8, 16, 24, 32, 48, 64, 96, 128):
                if len(raw) % (width + 1) == 0:
                    try:
                        res = _png_unpredict(raw, width, 1)
                        if len(raw) // 2 < len(res) < len(raw) * 2:
                            return res
                    except FilterError:
                        pass
    # Strategy 8: empty-on-fail (never propagate garbage)
    return b""


# ---------------------------------------------------------------------------
# Predictors
# ---------------------------------------------------------------------------


def _png_unpredict(data: bytes, row_bytes: int, bpp: int) -> bytes:
    """Reverse PNG row filters (Sub/Up/Average/Paeth), filters.rs:408-498.

    ``row_bytes`` = samples-per-row in bytes (excluding the leading filter
    tag byte); ``bpp`` = bytes per pixel for left-neighbor offsets.
    """
    stride = row_bytes + 1
    if len(data) % stride != 0:
        # Tolerate trailing garbage the way the reference does: use whole rows.
        usable = (len(data) // stride) * stride
        if usable == 0:
            raise FilterError("predictor data shorter than one row")
        data = data[:usable]
    n_rows = len(data) // stride
    arr = np.frombuffer(data, dtype=np.uint8).reshape(n_rows, stride)
    tags = arr[:, 0]
    if (tags == 2).all():
        # Up rows only (xref streams' /Predictor 12): row r is the running
        # column sum of rows 0..r, mod 256 — the loop below, in one pass
        out = np.cumsum(arr[:, 1:], axis=0, dtype=np.int64) & 0xFF
        return out.astype(np.uint8).tobytes()
    rows = arr[:, 1:].astype(np.int32)
    prev = np.zeros(row_bytes, dtype=np.int32)
    out = np.empty((n_rows, row_bytes), dtype=np.uint8)
    for r in range(n_rows):
        tag = tags[r]
        cur = rows[r]
        if tag == 0:  # None
            res = cur & 0xFF
        elif tag == 1:  # Sub — sequential in-row dependency
            res = cur.copy()
            for i in range(bpp, row_bytes):
                res[i] = (res[i] + res[i - bpp]) & 0xFF
            res &= 0xFF
        elif tag == 2:  # Up — fully vectorized
            res = (cur + prev) & 0xFF
        elif tag == 3:  # Average
            res = cur.copy()
            for i in range(row_bytes):
                left = res[i - bpp] if i >= bpp else 0
                res[i] = (res[i] + ((left + prev[i]) >> 1)) & 0xFF
        elif tag == 4:  # Paeth
            res = cur.copy()
            for i in range(row_bytes):
                a = int(res[i - bpp]) if i >= bpp else 0
                b = int(prev[i])
                c = int(prev[i - bpp]) if i >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                if pa <= pb and pa <= pc:
                    pred = a
                elif pb <= pc:
                    pred = b
                else:
                    pred = c
                res[i] = (res[i] + pred) & 0xFF
        else:
            raise FilterError(f"unknown PNG filter tag {tag}")
        out[r] = res.astype(np.uint8)
        prev = res.astype(np.int32)
    return out.tobytes()


def _tiff_unpredict(data: bytes, columns: int, colors: int, bpc: int) -> bytes:
    if bpc != 8:
        # Sub-byte TIFF predictor is exotic; the reference also only handles
        # the 8-bit case in its main path.
        return data
    row_bytes = columns * colors
    if row_bytes == 0 or len(data) % row_bytes != 0:
        return data
    arr = np.frombuffer(data, dtype=np.uint8).reshape(-1, columns, colors).astype(np.int32)
    arr = np.cumsum(arr, axis=1) & 0xFF
    return arr.astype(np.uint8).tobytes()


def apply_predictor(data: bytes, params: dict) -> bytes:
    """Apply /Predictor from DecodeParms after Flate/LZW (filters.rs:1627)."""
    predictor = int(params.get("Predictor", 1) or 1)
    if predictor <= 1:
        return data
    columns = int(params.get("Columns", 1) or 1)
    colors = int(params.get("Colors", 1) or 1)
    bpc = int(params.get("BitsPerComponent", 8) or 8)
    if predictor == 2:
        return _tiff_unpredict(data, columns, colors, bpc)
    if 10 <= predictor <= 15:
        bpp = max(1, (colors * bpc + 7) // 8)
        row_bytes = (columns * colors * bpc + 7) // 8
        return _png_unpredict(data, row_bytes, bpp)
    raise FilterError(f"unsupported predictor {predictor}")


# ---------------------------------------------------------------------------
# ASCIIHexDecode / ASCII85Decode
# ---------------------------------------------------------------------------

_HEX_STRIP = bytes(
    c for c in range(256) if chr(c) not in "0123456789abcdefABCDEF>"
)


def decode_ascii_hex(data: bytes) -> bytes:
    """ASCIIHexDecode (filters.rs:499-546): whitespace ignored, '>' is EOD,
    odd trailing digit implies a 0 nibble."""
    end = data.find(b">")
    if end >= 0:
        data = data[:end]
    clean = data.translate(None, _HEX_STRIP)
    if len(clean) % 2 == 1:
        clean += b"0"
    try:
        return binascii.unhexlify(clean)
    except binascii.Error as e:  # pragma: no cover — translate removed non-hex
        raise FilterError(f"invalid hex data: {e}") from e


def decode_ascii85(data: bytes) -> bytes:
    """ASCII85Decode (filters.rs:547-690). Adobe conventions: optional
    ``<~`` prefix, ``~>`` EOD, ``z`` = 4 zero bytes, whitespace ignored."""
    try:
        import base64

        s = bytes(data)
        # a85decode(adobe=True) requires the ~> terminator; add if missing.
        if s.lstrip().startswith(b"<~"):
            pass
        end = s.find(b"~>")
        if end >= 0:
            s = s[: end + 2]
        else:
            s = s.rstrip() + b"~>"
        if not s.lstrip().startswith(b"<~"):
            s = b"<~" + s
        out = base64.a85decode(s, adobe=True)
        _check_ratio(len(data), len(out))
        return out
    except ValueError as e:
        raise FilterError(f"invalid ascii85 data: {e}") from e


# ---------------------------------------------------------------------------
# LZWDecode
# ---------------------------------------------------------------------------


def decode_lzw(data: bytes, early_change: int = 1) -> bytes:
    """LZWDecode (filters.rs:1836-1998). PDF flavor: 9-bit initial codes,
    Clear=256, EOD=257, code width bumps at table size 2^w - early_change.

    With the C kernel loaded, bytes-like data decodes natively
    (kernel/_cscan.c ``lzw_decode``: the same width rules, error messages
    and ``MAX_DECOMPRESSED_SIZE`` cap); the loop below is the authority it
    is tested against."""
    from . import content as _content

    ck = _content._CSCAN
    if (ck is not None and isinstance(data, (bytes, bytearray, memoryview))
            and isinstance(early_change, int)
            and -(1 << 30) < early_change < (1 << 30)):
        out = ck.lzw_decode(data, early_change, MAX_DECOMPRESSED_SIZE)
        if isinstance(out, str):
            raise FilterError(out)
        return out
    CLEAR, EOD = 256, 257
    out = bytearray()
    table: list[bytes] = [bytes([i]) for i in range(256)] + [b"", b""]
    width = 9
    prev: bytes | None = None
    bitbuf = 0
    bitcnt = 0
    for byte in data:
        bitbuf = (bitbuf << 8) | byte
        bitcnt += 8
        while bitcnt >= width:
            code = (bitbuf >> (bitcnt - width)) & ((1 << width) - 1)
            bitcnt -= width
            if code == CLEAR:
                table = [bytes([i]) for i in range(256)] + [b"", b""]
                width = 9
                prev = None
                continue
            if code == EOD:
                return bytes(out)
            if prev is None:
                if code >= len(table):
                    raise FilterError(f"invalid initial LZW code {code}")
                entry = table[code]
            elif code < len(table):
                entry = table[code]
                table.append(prev + entry[:1])
            elif code == len(table):
                entry = prev + prev[:1]
                table.append(entry)
            else:
                raise FilterError(f"invalid LZW code {code}")
            out += entry
            if len(out) > MAX_DECOMPRESSED_SIZE:
                raise FilterError("LZW output exceeds size limit")
            prev = entry
            if len(table) + early_change >= (1 << width) and width < 12:
                width += 1
    return bytes(out)


# ---------------------------------------------------------------------------
# RunLengthDecode
# ---------------------------------------------------------------------------


def decode_run_length(data: bytes) -> bytes:
    """RunLengthDecode (filters.rs:1999-2044)."""
    out = bytearray()
    i = 0
    n = len(data)
    while i < n:
        length = data[i]
        i += 1
        if length == 128:  # EOD
            break
        if length < 128:
            out += data[i : i + length + 1]
            i += length + 1
        else:
            if i < n:
                out += bytes([data[i]]) * (257 - length)
                i += 1
    return bytes(out)


# ---------------------------------------------------------------------------
# Dispatch
# ---------------------------------------------------------------------------

_PASS_THROUGH = {"JPXDecode"}

_ALIASES = {
    "Fl": "FlateDecode",
    "AHx": "ASCIIHexDecode",
    "A85": "ASCII85Decode",
    "LZW": "LZWDecode",
    "RL": "RunLengthDecode",
}


def _filter_params(decode_parms, index: int) -> dict:
    """Per-filter DecodeParms: single dict or parallel array (filters.rs:215)."""
    if decode_parms is None:
        return {}
    if isinstance(decode_parms, list):
        if index < len(decode_parms) and isinstance(decode_parms[index], dict):
            return decode_parms[index]
        return {}
    if isinstance(decode_parms, dict):
        return decode_parms if index == 0 else {}
    return {}


def apply_filter_with_params(data: bytes, name: str, params: dict) -> bytes:
    name = _ALIASES.get(name, name)
    if name == "FlateDecode":
        out = decode_flate(data)
        return apply_predictor(out, params)
    if name == "LZWDecode":
        early = params.get("EarlyChange", 1)
        out = decode_lzw(data, int(early) if early is not None else 1)
        return apply_predictor(out, params)
    if name == "ASCIIHexDecode":
        return decode_ascii_hex(data)
    if name == "ASCII85Decode":
        return decode_ascii85(data)
    if name == "RunLengthDecode":
        return decode_run_length(data)
    if name in ("DCTDecode", "DCT"):
        from .image_codecs import decode_dct

        return decode_dct(data)  # clean+validate, bytes as-is (dct.rs:57-68)
    if name in ("CCITTFaxDecode", "CCF"):
        from .image_codecs import decode_ccitt

        return decode_ccitt(data, params)
    if name == "JBIG2Decode":
        from .jbig2 import decode_jbig2

        return decode_jbig2(data, params)
    if name in _PASS_THROUGH:
        return data  # JPX stays opaque — reference capture only
    if name == "Crypt":
        # ISO 32000-1 §7.4.10: a Crypt filter whose /Name is /Identity
        # (also the DEFAULT when /DecodeParms is absent, Table 26)
        # passes the data through unchanged — real files mark streams
        # this way to EXCLUDE them from document encryption. The
        # reference errors on every Crypt (filters.rs:833); only named
        # crypt filters stay loud here, since those resolve through the
        # document security handler (kernel/crypto.py), not the chain.
        cn = params.get("Name") if isinstance(params, dict) else None
        if cn is None or str(cn) == "Identity":
            return data
        raise FilterError(
            "named Crypt filters resolve through the security handler, "
            "not the filter chain")
    raise FilterError(f"unknown filter: {name}")


def decode_stream_data(data: bytes, filter_entry, decode_parms) -> bytes:
    """Filter-chain dispatch (filters.rs:173-225).

    ``filter_entry`` is the already-resolved /Filter value: a name string,
    a list of name strings, or None. ``decode_parms`` mirrors /DecodeParms.
    """
    if filter_entry is None:
        return data
    if isinstance(filter_entry, str):
        filters = [filter_entry]
    elif isinstance(filter_entry, list):
        filters = [f for f in filter_entry if isinstance(f, str)]
    else:
        raise FilterError(f"invalid Filter type: {type(filter_entry).__name__}")
    result = data
    for i, name in enumerate(filters):
        result = apply_filter_with_params(result, name, _filter_params(decode_parms, i))
    return result


def sniff_jpeg_info(data: bytes) -> tuple[int, int] | None:
    """Minimal JPEG header sniff (filters.rs:116 re-export) for image
    metrics: returns (width, height) or None."""
    if len(data) < 4 or data[0] != 0xFF or data[1] != 0xD8:
        return None
    i = 2
    while i + 9 < len(data):
        if data[i] != 0xFF:
            i += 1
            continue
        marker = data[i + 1]
        if marker in (0xC0, 0xC1, 0xC2, 0xC3):
            h, w = struct.unpack(">HH", data[i + 5 : i + 9])
            return (w, h)
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            i += 2
            continue
        seg_len = struct.unpack(">H", data[i + 2 : i + 4])[0]
        i += 2 + seg_len
    return None
