"""Unit tests for individual in-UDF kernels (SURVEY.md §5 target plan):
filters round-trip, lexer tokens, content tokenizer, CMap decode, xref decode.
Plain pandas/python — no Spark session needed.
"""

from __future__ import annotations

import zlib

import pytest

from oxidizepdf_spark.corpus import lzw_encode
from oxidizepdf_spark.kernel import filters
from oxidizepdf_spark.kernel.cmap import CMap, decode_with_cmap
from oxidizepdf_spark.kernel.content import parse_content, tokenize
from oxidizepdf_spark.kernel.objects import Lexer, Name, Ref, parse_object
from oxidizepdf_spark.kernel.xref import find_xref_offset, scan_object_headers


# -- filters (filters.rs parity) ---------------------------------------------


def test_flate_roundtrip():
    data = b"BT (Hello) Tj ET" * 100
    assert filters.decode_flate(zlib.compress(data)) == data


def test_flate_raw_deflate_fallback():
    data = b"stream data without zlib wrapper"
    comp = zlib.compressobj(wbits=-15)
    raw = comp.compress(data) + comp.flush()
    assert filters.decode_flate(raw) == data


def test_flate_corrupt_header_skip():
    data = b"x" * 200
    blob = b"\xff\xfe" + zlib.compress(data)
    assert filters.decode_flate(blob) == data


def test_flate_empty_on_total_garbage():
    assert filters.decode_flate(b"\x00\x01\x02not-deflate") == b""


def test_ascii_hex():
    assert filters.decode_ascii_hex(b"48 65 6C 6C 6F>") == b"Hello"
    assert filters.decode_ascii_hex(b"48656C6C6F7>") == b"Hello\x70"  # odd pad


def test_ascii85():
    import base64

    payload = base64.a85encode(b"Hello World", adobe=True)
    assert filters.decode_ascii85(payload) == b"Hello World"


def test_lzw_roundtrip():
    data = b"TOBEORNOTTOBEORTOBEORNOT" * 20
    assert filters.decode_lzw(lzw_encode(data)) == data


def test_lzw_binary_roundtrip():
    data = bytes(range(256)) * 8
    assert filters.decode_lzw(lzw_encode(data)) == data


def test_run_length():
    # literal run: n<128 copies n+1 bytes; repeat run: n>128 repeats 257-n
    encoded = bytes([2]) + b"abc" + bytes([254]) + b"z" + bytes([128])
    assert filters.decode_run_length(encoded) == b"abc" + b"zzz"


def test_png_predictor_up():
    # Predictor 12 (Up), columns=4: reverse of delta rows
    rows = [b"\x01\x02\x03\x04", b"\x05\x06\x07\x08"]
    pred = bytearray()
    prev = bytes(4)
    for r in rows:
        pred.append(2)
        pred += bytes((r[i] - prev[i]) & 0xFF for i in range(4))
        prev = r
    out = filters.apply_predictor(
        bytes(pred), {"Predictor": 12, "Columns": 4}
    )
    assert out == b"".join(rows)


def test_png_up_rows_match_row_loop():
    """The all-Up shortcut of _png_unpredict (a column cumsum) against the
    row-by-row definition, with wraparound and trailing partial rows."""
    import random

    def reference(data: bytes, row_bytes: int) -> bytes:
        stride = row_bytes + 1
        prev = bytes(row_bytes)
        out = bytearray()
        for r in range(len(data) // stride):
            row = data[r * stride : (r + 1) * stride]
            assert row[0] == 2
            prev = bytes((row[1 + i] + prev[i]) & 0xFF for i in range(row_bytes))
            out += prev
        return bytes(out)

    rng = random.Random(5)
    for _ in range(50):
        row_bytes = rng.randrange(1, 9)
        n_rows = rng.randrange(1, 40)
        data = b"".join(
            bytes([2]) + bytes(rng.randrange(256) for _ in range(row_bytes))
            for _ in range(n_rows)
        ) + bytes(rng.randrange(row_bytes + 1))  # partial trailing row
        assert filters._png_unpredict(data, row_bytes, 1) == reference(
            data, row_bytes
        )


def test_filter_chain_order():
    data = b"chained content"
    encoded = zlib.compress(data).hex().encode() + b">"
    out = filters.decode_stream_data(
        encoded, ["ASCIIHexDecode", "FlateDecode"], None
    )
    assert out == data


def test_bomb_guard():
    with pytest.raises(filters.FilterError):
        filters._check_ratio(10, 10 * 1001)


# -- file-structure lexer / object parser (lexer.rs, objects.rs) --------------


def test_lexer_octal_overflow():
    # ISO §7.3.4.2: \777 = 511 & 0xFF
    lex = Lexer(rb"(\777)")
    assert lex.next_token() == ("str", bytes([511 & 0xFF]))


def test_lexer_name_hex_escape():
    lex = Lexer(rb"/A#42C")
    kind, val = lex.next_token()
    assert kind == "name" and val == "ABC"


def test_parse_reference_lookahead():
    lex = Lexer(b"12 0 R")
    assert parse_object(lex) == Ref(12, 0)
    # two ints NOT followed by R stay ints
    lex = Lexer(b"12 0 7")
    assert parse_object(lex) == 12
    assert parse_object(lex) == 0
    assert parse_object(lex) == 7


def test_parse_nested_dict_array():
    lex = Lexer(b"<< /A [1 2.5 (s) /N true null] /B << /C 3 0 R >> >>")
    obj = parse_object(lex)
    assert obj["A"] == [1, 2.5, b"s", Name("N"), True, None]
    assert obj["B"]["C"] == Ref(3, 0)


def test_hex_string_odd_pad():
    lex = Lexer(b"<48656C6C6F7>")
    assert lex.next_token() == ("hexstr", b"Hello\x70")


# -- content tokenizer/parser (content.rs) ------------------------------------


def test_content_tokenize_basics():
    toks = tokenize(b"BT /F1 12 Tf 100 700 Td (Hi) Tj ET")
    kinds = [t[0] for t in toks]
    assert kinds == ["op", "name", "int", "op", "int", "int", "op", "str", "op", "op"]


def test_content_nested_string():
    toks = tokenize(b"(a (b) c) Tj")
    assert toks[0] == ("str", b"a (b) c")


def test_content_inline_image_binary_safe():
    # EI bytes inside the payload must not terminate early (needs boundary)
    data = b"BI /W 1 /H 1 ID \x00EIx\x01 EI Q"
    ops = parse_content(data)
    assert ops[0][0] == "BI"
    assert ops[0][2] == b"\x00EIx\x01"
    assert ops[1] == ("Q",)


def test_content_malformed_operator_resync():
    # Td missing operands must not kill the rest of the stream
    ops = parse_content(b"BT Td (ok) Tj ET")
    tags = [o[0] for o in ops]
    assert tags == ["BT", "Tj", "ET"]


def test_content_dquote_operand_order():
    ops = parse_content(b'1 2 (text) "')
    assert ops[0] == ('"', 1.0, 2.0, b"text")


def test_content_unknown_operator_skipped():
    ops = parse_content(b"(x) Tj 1 2 zz (y) Tj")
    # zz unknown → skipped + operands cleared; both Tj survive
    assert [o[0] for o in ops] == ["Tj", "Tj"]


def test_content_bdc_inline_dict():
    ops = parse_content(b"/P <</MCID 0>> BDC EMC")
    assert ops[0] == ("BDC", "P", ("dict", {"MCID": 0}))


# -- CMap (cmap.rs) ------------------------------------------------------------


def test_cmap_bfchar_and_range():
    cm = CMap.parse(
        b"1 begincodespacerange <00><FF> endcodespacerange "
        b"1 beginbfchar <41><0061> endbfchar "
        b"1 beginbfrange <42><44><0042> endbfrange"
    )
    assert decode_with_cmap(b"ABCD", cm) == "aBCD"


def test_cmap_bfrange_array_form():
    cm = CMap.parse(b"1 beginbfrange <41><43> [<0058> <0059> <005A>] endbfrange")
    assert cm.map(b"A") == b"\x00X"
    assert cm.map(b"C") == b"\x00Z"


def test_cmap_identity_h():
    cm = CMap.identity_h()
    assert cm.map(b"\x00A") == b"\x00A"
    assert cm.map(b"\x01") is None  # wrong width


def test_cmap_minified_one_line():
    # BOE-style minified CMap (issue #272): whitespace-agnostic tokenizer
    cm = CMap.parse(b"1 begincodespacerange<0000><FFFF>endcodespacerange 1 beginbfchar<0048><0048>endbfchar")
    assert decode_with_cmap(b"\x00\x48", cm) == "H"


def test_cmap_surrogate_pair_dst():
    cm = CMap.parse(b"1 beginbfchar <41> <D83DDE00> endbfchar")
    assert decode_with_cmap(b"A", cm) == "\U0001f600"


# -- xref helpers ---------------------------------------------------------------


def test_find_xref_offset():
    assert find_xref_offset(b"junk startxref\n12345\n%%EOF") == 12345
    assert find_xref_offset(b"no marker here") is None


def test_scan_object_headers_last_wins():
    data = b"1 0 obj <<>> endobj ... 1 0 obj <<>> endobj"
    found = scan_object_headers(data)
    assert found[1][1] == data.rindex(b"1 0 obj")


# -- error tiers (ParseOptions strict/tolerant/skip, mod.rs:208-324) ----------


def test_error_mode_strict_rejects_corrupt_xref():
    from oxidizepdf_spark.corpus import structural_cases
    from oxidizepdf_spark.kernel.extract import extract_pdf_bytes
    from oxidizepdf_spark.kernel.textstate import ExtractionOptions

    x10 = next(c for c in structural_cases() if c[0] == "X10")[1]
    tolerant = extract_pdf_bytes(x10)
    assert tolerant.error is None and tolerant.mode == "recovered"
    strict = extract_pdf_bytes(x10, ExtractionOptions(error_mode="strict"))
    assert strict.error is not None and "strict" in strict.error


def test_error_mode_strict_rejects_length_mismatch():
    from oxidizepdf_spark.corpus import build_pdf_with_content_stream
    from oxidizepdf_spark.kernel.extract import extract_pdf_bytes
    from oxidizepdf_spark.kernel.textstate import ExtractionOptions

    pdf = build_pdf_with_content_stream(
        b"BT /F1 12 Tf 100 700 Td (Hello World) Tj ET", length_delta=-4
    )
    assert extract_pdf_bytes(pdf).spans == [("text", "Hello World", None)]
    strict = extract_pdf_bytes(pdf, ExtractionOptions(error_mode="strict"))
    assert strict.error is not None


def test_default_options_shared_and_unchanged(monkeypatch):
    """A call without options reuses one module-level ExtractionOptions:
    no instance is built per document, and extraction in every mode
    (password rows, the page loop, the Python loop, HTML) leaves the
    shared instance equal to a fresh one."""
    from oxidizepdf_spark.corpus import (
        all_cases, build_encrypted_pdf, generate_corpus,
    )
    from oxidizepdf_spark.kernel import extract as E
    from oxidizepdf_spark.kernel.textstate import ExtractionOptions

    fresh = ExtractionOptions()
    built = []
    init = ExtractionOptions.__init__

    def counting(self, *a, **k):
        built.append(1)
        init(self, *a, **k)

    monkeypatch.setattr(ExtractionOptions, "__init__", counting)
    for case, pdf, _expected in all_cases():
        E.extract_pdf_bytes(pdf)
    E.extract_pdf_bytes(build_encrypted_pdf("locked", user_pw=b"pw"))
    for in_row, _ in generate_corpus(n_docs=60, seed=5):
        E.extract_document_spans(
            [(s["kind"], s["text"], s["media_ref"]) for s in in_row["spans"]])
    import pyarrow as pa

    span = pa.struct([("kind", pa.string()), ("text", pa.string()),
                      ("media_ref", pa.string())])
    E.extract_batch(
        pa.array([[{"kind": "raw_pdf", "media_ref": None,
                    "text": all_cases()[0][1].decode("latin-1")}]],
                 pa.list_(span)),
        pa.array(["pw"]), E._DEFAULT_OPTIONS)
    assert built == []
    assert {k: getattr(E._DEFAULT_OPTIONS, k) for k in fresh.__slots__} == {
        k: getattr(fresh, k) for k in fresh.__slots__}


def test_extract_metadata_info_dict():
    from oxidizepdf_spark.corpus import build_pdf_with_content_stream
    from oxidizepdf_spark.kernel.extract import extract_metadata

    pdf = build_pdf_with_content_stream(
        b"BT /F1 12 Tf 100 700 Td (Hello) Tj ET",
        info={"Title": "My (Test) Doc", "Author": "A. Writer"},
    )
    m = extract_metadata(pdf)
    assert m["title"] == "My (Test) Doc"
    assert m["author"] == "A. Writer"
    assert m["version"] == "1.4" and m["n_pages"] == 1 and m["error"] is None
    # UTF-16BE BOM title decodes per the PDF text-string rules
    pdf2 = build_pdf_with_content_stream(
        b"BT /F1 12 Tf 100 700 Td (X) Tj ET", info={}
    )
    m2 = extract_metadata(pdf2)
    assert m2["title"] is None and m2["n_pages"] == 1
    m3 = extract_metadata(b"not a pdf")
    assert m3["error"] is not None


def test_error_mode_skip_stays_silent():
    from oxidizepdf_spark.corpus import build_pdf_with_content_stream
    from oxidizepdf_spark.kernel.extract import extract_pdf_bytes
    from oxidizepdf_spark.kernel.textstate import ExtractionOptions

    # a PDF whose page /Contents ref points at a missing object: tolerant
    # records the degradation, skip stays silent, both keep going
    pdf = build_pdf_with_content_stream(b"BT /F1 12 Tf 100 700 Td (ok) Tj ET")
    broken = pdf.replace(b"/Contents 5 0 R", b"/Contents 9 0 R", 1)
    tolerant = extract_pdf_bytes(broken)
    skip = extract_pdf_bytes(broken, ExtractionOptions(error_mode="skip"))
    assert tolerant.spans == skip.spans == []
    assert skip.error is None


def test_horizontal_scaling_affects_advance():
    from oxidizepdf_spark.corpus import build_pdf_with_content_stream
    from oxidizepdf_spark.kernel.extract import extract_pdf_bytes

    # Tz 200 doubles the pen advance: with the same Td return the gap check
    # (dx > 0.3*12 after advance) flips between scaled and unscaled runs
    content = b"BT /F1 12 Tf 200 Tz 100 700 Td (AB) Tj ET BT /F1 12 Tf 100 690 Td (CD) Tj ET"
    res = extract_pdf_bytes(build_pdf_with_content_stream(content))
    # dy=10 not > 10 → no newline; dx = 100 - (100+w) < 0 → no space
    assert res.spans == [("text", "ABCD", None)]


def test_quote_ops_set_spacing_state():
    from oxidizepdf_spark.kernel.content import parse_content
    from oxidizepdf_spark.kernel.textstate import Interpreter

    interp = Interpreter()
    interp.run(parse_content(b'BT /F1 12 Tf 14 TL (a) Tj 3 4 (b) " ET'), None)
    assert interp.state.word_space == 3.0
    assert interp.state.char_space == 4.0
    out = interp.finalize()
    assert out.text == "a\nb"


def test_state_setters_tracked():
    from oxidizepdf_spark.kernel.content import parse_content
    from oxidizepdf_spark.kernel.textstate import Interpreter

    interp = Interpreter()
    interp.run(
        parse_content(b"BT 2 Tc 3 Tw 150 Tz 5 Ts 1 Tr 0.5 g 0.1 0.2 0.3 rg ET"),
        None,
    )
    st = interp.state
    assert st.char_space == 2.0 and st.word_space == 3.0
    assert st.horizontal_scale == 150.0 and st.text_rise == 5.0
    assert st.render_mode == 1
    assert st.fill_color == ("rgb", 0.1, 0.2, 0.3)


def test_xmp_field_scrape_and_info_precedence():
    from oxidizepdf_spark.kernel.extract import _parse_xmp

    xmp = (
        b'<x:xmpmeta><rdf:RDF><rdf:Description>'
        b'<dc:title><rdf:Alt><rdf:li xml:lang="x-default">My XMP Title'
        b"</rdf:li></rdf:Alt></dc:title>"
        b"<dc:creator><rdf:Seq><rdf:li>Jane Author</rdf:li></rdf:Seq>"
        b"</dc:creator><pdf:Producer>prod-x</pdf:Producer>"
        b"<xmp:CreatorTool>tool-y</xmp:CreatorTool>"
        b"</rdf:Description></rdf:RDF></x:xmpmeta>"
    )
    out = {
        "title": None, "author": None, "subject": None,
        "producer": "info-wins", "creator": None,
    }
    _parse_xmp(xmp, out)
    assert out["title"] == "My XMP Title"
    assert out["author"] == "Jane Author"
    assert out["producer"] == "info-wins"  # /Info takes precedence
    assert out["creator"] == "tool-y"


def test_crypt_filter_identity_passthrough():
    # ISO 32000-1 §7.4.10: Crypt with /Name /Identity (or absent
    # DecodeParms — Identity is the default) passes bytes through; the
    # reference errors on every Crypt (filters.rs:833). Named crypt
    # filters stay loud: they belong to the security handler.
    import zlib

    import pytest

    from oxidizepdf_spark.kernel.filters import (
        FilterError,
        decode_stream_data,
    )

    payload = b"crypt identity passthrough"
    assert decode_stream_data(payload, "Crypt", None) == payload
    assert decode_stream_data(
        payload, "Crypt",
        {"Type": "CryptFilterDecodeParms", "Name": "Identity"},
    ) == payload
    # Crypt first in a chain (the spec's required position), then Flate
    assert decode_stream_data(
        zlib.compress(payload), ["Crypt", "FlateDecode"],
        [{"Name": "Identity"}, None],
    ) == payload
    with pytest.raises(FilterError, match="security handler"):
        decode_stream_data(payload, "Crypt", {"Name": "MyFilter"})


def test_crypt_identity_stream_extracts_end_to_end():
    # a content stream marked /Crypt Identity + Flate must extract like
    # a plain Flate stream
    from oxidizepdf_spark.corpus import build_pdf_with_content_stream
    from oxidizepdf_spark.kernel.extract import extract_pdf_bytes

    content = b"BT /F1 12 Tf 100 700 Td (crypt ok) Tj ET"
    pdf = build_pdf_with_content_stream(content, content_filter="Crypt+Fl")
    res = extract_pdf_bytes(pdf)
    assert res.page_texts == ["crypt ok"]
