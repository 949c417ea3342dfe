"""The C stream filters (``_cscan.c`` ``native_decode``, reached from
Python as ``decode_stream``) against ``filters.decode_stream_data``: where
the C chain decodes a stream it must give the same bytes, and where
Python raises or takes decode_flate's fallback ladder it must hand the
stream back (None). Skipped when the toolchain cannot build the
extension."""

from __future__ import annotations

import random
import zlib

import pytest

from oxidizepdf_spark.kernel import content as C
from oxidizepdf_spark.kernel.objects import Name, Ref, Stream

pytestmark = pytest.mark.skipif(
    C._CSCAN is None, reason="C extension unavailable (no toolchain)"
)


def _python(d: dict, raw: bytes):
    """Stream.decode's bytes, or the exception class it raises."""
    try:
        return Stream(d, raw).decode()
    except Exception as e:
        return type(e)


def _check(d: dict, raw: bytes, served: bool | None = None):
    """The C chain equals Stream.decode where it decodes; ``served`` says
    whether it must decode (True) or hand back (False)."""
    got = C._CSCAN.decode_stream(d, raw)
    want = _python(d, raw)
    if got is not None:
        assert got == want, (d, raw[:40])
    if served is not None:
        assert (got is not None) == served, (d, raw[:40], want)
    return got


def _flate(params: dict | None = None) -> dict:
    d = {Name("Filter"): Name("FlateDecode")}
    if params is not None:
        d[Name("DecodeParms")] = {Name(k): v for k, v in params.items()}
    return d


def _png_rows(rows: list[bytes], tags: list[int]) -> bytes:
    return b"".join(bytes([t]) + r for t, r in zip(tags, rows))


def test_native_filters_catalog_and_corpus_streams():
    """Every stream of the catalog and of a generated sample: the C chain
    equals Stream.decode, and serves every filtered stream the corpus
    holds (Flate, LZW, ASCIIHex, ASCIIHex+Flate, PNG predictor 12)."""
    from oxidizepdf_spark.corpus import all_cases, generate_corpus
    from oxidizepdf_spark.kernel.extract import decode_raw_payload
    from oxidizepdf_spark.kernel.reader import PdfReader

    datas = [pdf for _case, pdf, _expected in all_cases()]
    for in_row, _ in generate_corpus(n_docs=200, seed=11):
        for s in in_row["spans"]:
            if s["kind"] == "raw_pdf":
                datas.append(decode_raw_payload(s["text"] or ""))
    streams = 0
    for data in datas:
        try:
            reader = PdfReader(data)
        except Exception:
            continue
        for num in list(reader.xref):
            try:
                obj = reader.get_object(num)
            except Exception:
                continue
            if isinstance(obj, Stream) and isinstance(obj.dict, dict):
                f = obj.dict.get("Filter")
                filtered = f is not None and not isinstance(f, Ref)
                plain = all(str(x) in ("FlateDecode", "LZWDecode",
                                       "ASCIIHexDecode")
                            for x in (f if isinstance(f, list) else [f]))
                _check(obj.dict, obj.raw,
                       served=True if filtered and plain else None)
                streams += filtered
    assert streams >= 30


@pytest.mark.parametrize("predictor", [10, 11, 12, 13, 14, 15])
def test_native_png_predictor_row_tags(predictor):
    """All five PNG row tags (0-4) on multi-byte pixels, with a trailing
    partial row, for every PNG predictor value."""
    rng = random.Random(predictor)
    cols, colors = 5, 3
    rows = [bytes(rng.randrange(256) for _ in range(cols * colors))
            for _ in range(10)]
    raw = _png_rows(rows, [0, 1, 2, 3, 4, 4, 3, 2, 1, 0]) + b"\x07\x01"
    params = {"Predictor": predictor, "Columns": cols, "Colors": colors}
    _check(_flate(params), zlib.compress(raw), served=True)


@pytest.mark.parametrize("bpc", [1, 2, 4, 8, 16])
def test_native_png_predictor_bits_per_component(bpc):
    rng = random.Random(bpc)
    cols = 7
    row_bytes = (cols * bpc + 7) // 8
    rows = [bytes(rng.randrange(256) for _ in range(row_bytes))
            for _ in range(6)]
    raw = _png_rows(rows, [1, 2, 3, 4, 0, 4])
    params = {"Predictor": 12, "Columns": cols, "BitsPerComponent": bpc}
    _check(_flate(params), zlib.compress(raw), served=True)


def test_native_predictor_odd_shapes():
    """TIFF 2 (8-bit, other bpc, rows that do not divide), short data,
    unknown tags and predictors, and parameters that are not plain ints:
    decoded where Python decodes, handed back where it raises."""
    data = bytes(range(48))
    z = zlib.compress(data)
    _check(_flate({"Predictor": 2, "Columns": 4, "Colors": 3}), z,
           served=True)
    _check(_flate({"Predictor": 2, "Columns": 5, "Colors": 2}), z,
           served=True)  # 48 % 10: the data stays as is
    _check(_flate({"Predictor": 2, "Columns": 4, "BitsPerComponent": 4}),
           z, served=True)
    _check(_flate({"Predictor": 12, "Columns": 100}), z, served=False)
    _check(_flate({"Predictor": 12, "Columns": 47}), z, served=True)
    _check(_flate({"Predictor": 12, "Columns": 3}),
           zlib.compress(b"\x05abc"), served=False)  # tag 5
    _check(_flate({"Predictor": 7, "Columns": 3}), z, served=False)
    _check(_flate({"Predictor": 0, "Columns": 0}), z, served=True)
    _check(_flate({"Predictor": None}), z, served=True)
    _check(_flate({"Predictor": 12.0, "Columns": 4}), z, served=False)
    _check(_flate({"Predictor": 12, "Columns": Ref(3, 0)}), z, served=False)
    _check(_flate({"Predictor": 12, "Columns": -4}), z, served=False)
    _check(_flate({"Predictor": 1 << 70}), z, served=False)
    _check(_flate({"Predictor": 12, "Columns": 4}), zlib.compress(b""),
           served=True)


def test_native_flate_damage_takes_the_python_ladder():
    """Damaged zlib headers and trailers, raw deflate, gzip and garbage:
    the C chain hands each to Stream.decode (decode_flate's ladder)."""
    body = b"BT /F1 12 Tf 72 700 Td (Hello ladder) Tj ET " * 20
    z = zlib.compress(body)
    raw_deflate = zlib.compressobj(9, zlib.DEFLATED, -15)
    raw_deflate = raw_deflate.compress(body) + raw_deflate.flush()
    for damaged in (b"\x00\x01\x02" + z, z[2:], raw_deflate,
                    b"not zlib at all, not zlib at all, not zlib",
                    b"\x78\x9c" + b"\xff" * 40):
        assert _check(_flate(), damaged) is None
    # a cut stream: the first try returns what decoded, in both
    for cut in (z[:-6], z[:-1], z[:len(z) // 2]):
        _check(_flate(), cut, served=True)


def test_native_flate_ratio_bomb_hands_back():
    """Past the 1000x ratio cap the first try fails its guard: the C
    chain hands the stream back (10 MB of zeros compress ~1030x)."""
    bomb = zlib.compress(b"\0" * 10_000_000, 9)
    assert len(bomb) * 1000 < 10_000_000
    assert C._CSCAN.decode_stream(_flate(), bomb) is None
    ok = zlib.compress(bytes(range(256)) * 100)
    _check(_flate(), ok, served=True)


def test_native_ascii_hex_and_chains():
    ahx = {Name("Filter"): Name("ASCIIHexDecode")}
    for raw in (b"48656c6c6f>", b"4 8 6\n5 6c6c6f>", b"48656c6c6", b"",
                b">", b"4x8y6z5>trailing", b"48656C6C6F", b"\x00\xff41>"):
        _check(ahx, raw, served=True)
    body = b"BT (chained) Tj ET"
    chain = {Name("Filter"): [Name("AHx"), Name("Fl")]}
    _check(chain, zlib.compress(body).hex().encode() + b">", served=True)
    # DecodeParms as a parallel array, null entries, a non-name entry
    chain_p = {Name("Filter"): [Name("ASCIIHexDecode"), 5, Name("FlateDecode")],
               Name("DecodeParms"): [None, {Name("Predictor"): 1}]}
    _check(chain_p, zlib.compress(body).hex().encode(), served=True)
    _check({Name("Filter"): []}, b"as is", served=True)
    _check({Name("Filter"): Name("RunLengthDecode")}, b"\x01ab\x80",
           served=False)
    _check({Name("Filter"): Ref(9, 0)}, b"x", served=False)
    _check({Name("Filter"): [Name("Fl"), Ref(9, 0)]}, zlib.compress(body),
           served=False)
    _check({Name("Filter"): b"FlateDecode"}, b"x", served=False)
    dp = {Name("Filter"): Name("FlateDecode"), Name("DP"): {
        Name("Predictor"): 12, Name("Columns"): 2}}
    _check(dp, zlib.compress(b"\x02ab\x02cd"), served=True)


def test_native_lzw_early_change():
    from oxidizepdf_spark.corpus import lzw_encode

    data = b"TOBEORNOTTOBEORTOBEORNOT#" * 40
    enc = lzw_encode(data)
    for early in (None, 1, 0, True, False):
        d = {Name("Filter"): Name("LZWDecode")}
        if early is not None:
            d[Name("DecodeParms")] = {Name("EarlyChange"): early}
        _check(d, enc, served=True)
    _check({Name("Filter"): Name("LZW"),
            Name("DecodeParms"): {Name("EarlyChange"): "1"}}, enc,
           served=False)
    _check({Name("Filter"): Name("LZWDecode")}, b"\xff\xff\xff\xff",
           served=False)  # an invalid code: FilterError


def test_native_filters_mutation_fuzz():
    """Seeded byte edits of filtered payloads and parameter swaps: never
    a divergence, and a stream Python fails on is always handed back."""
    from oxidizepdf_spark.corpus import lzw_encode

    rng = random.Random(15)
    body = b"BT /F1 12 Tf 72 700 Td (Fuzzed text) Tj ET q 1 0 0 1 0 0 cm Q"
    rows = _png_rows([bytes(range(i, i + 8)) for i in range(0, 80, 8)],
                     [0, 1, 2, 3, 4, 2, 2, 1, 3, 4])
    seeds = [
        (_flate(), zlib.compress(body)),
        (_flate({"Predictor": 12, "Columns": 8}), zlib.compress(rows)),
        ({Name("Filter"): Name("LZWDecode")}, lzw_encode(body)),
        ({Name("Filter"): Name("ASCIIHexDecode")}, body.hex().encode()),
        ({Name("Filter"): [Name("AHx"), Name("Fl")]},
         zlib.compress(body).hex().encode() + b">"),
    ]
    for _ in range(600):
        d, raw = rng.choice(seeds)
        data = bytearray(raw)
        for _edit in range(rng.randrange(1, 4)):
            i = rng.randrange(len(data))
            op = rng.random()
            if op < 0.4:
                data[i] = rng.randrange(256)
            elif op < 0.7:
                del data[i:i + rng.randrange(1, 6)]
            else:
                data[i:i] = bytes(rng.randrange(256)
                                  for _ in range(rng.randrange(1, 4)))
        d = dict(d)
        if rng.random() < 0.2:
            d[Name("DecodeParms")] = {
                Name(rng.choice(["Predictor", "Columns", "Colors",
                                 "BitsPerComponent"])):
                rng.choice([0, 1, 2, 3, 10, 12, 15, 16, -1, 8, 1 << 40])}
        got = C._CSCAN.decode_stream(d, bytes(data))
        want = _python(d, bytes(data))
        if got is not None:
            assert got == want
        if isinstance(want, type):
            assert got is None


def test_stream_filters_fast_path_taken(monkeypatch):
    """X06 (xref stream, PNG predictor), X07 (object stream), X12-X15 and
    the Flate, LZW, ASCIIHex and ASCIIHex+Flate content cases run through
    the C batch loop without one ``Stream.decode`` call (the ToUnicode
    streams of the Python font build aside), and ``filter_counts`` shows
    every stream decoded natively."""
    import pyarrow as pa

    from oxidizepdf_spark.corpus import all_cases
    from oxidizepdf_spark.kernel import extract as E
    from oxidizepdf_spark.kernel.textstate import ExtractionOptions

    calls = []
    decode = Stream.decode

    def counting(self, resolve=None):
        import sys

        caller = sys._getframe(1).f_code.co_filename
        if not caller.endswith(("fonts.py", "cmap.py")):
            calls.append(self.dict)
        return decode(self, resolve)

    monkeypatch.setattr(Stream, "decode", counting)
    catalog = {case: pdf for case, pdf, _ in all_cases()}
    cases = ("X02", "X03", "X04", "X05", "X06", "X07", "X12", "X13", "X14",
             "X15")
    span = pa.struct([("kind", pa.string()), ("text", pa.string()),
                      ("media_ref", pa.string())])
    spans = pa.array([[{"kind": "raw_pdf", "media_ref": None,
                        "text": catalog[c].decode("latin-1")}]
                      for c in cases], pa.list_(span))
    C._CSCAN.filter_counts(True)
    C._CSCAN.batch_counts(True)
    out = E.extract_batch(spans, None, ExtractionOptions())
    assert calls == []
    assert all(out[1].to_pylist())
    assert C._CSCAN.batch_counts()["served"] == len(cases)
    counts = C._CSCAN.filter_counts(True)
    assert all(n == 0 for site in counts["python"].values()
               for n in site.values()), counts["python"]
    native = counts["native"]
    assert native["xref"]["FlateDecode"] >= 1
    assert native["xref"]["png_predictor"] >= 1
    assert native["objstm"]["FlateDecode"] >= 1
    assert native["content"]["LZWDecode"] >= 1
    assert native["content"]["ASCIIHexDecode"] >= 2
    assert native["content"]["FlateDecode"] >= 2
