"""C fast path vs pure-Python fused loop: full-output differential.

The C extension (_cscan.c) transcribes _parse_and_run_py; these tests pin
the two byte-for-byte equal — spans, page text, error strings, and final
interpreter state — over the whole synthetic corpus catalog, the builder
fixtures, and adversarial content streams. Skipped when the toolchain
can't build the extension (the engine then runs pure Python anyway)."""

from __future__ import annotations

import re
import sys

import pytest

from oxidizepdf_spark.kernel import content as C

pytestmark = pytest.mark.skipif(
    C._CSCAN is None, reason="C extension unavailable (no toolchain)"
)


def _both_paths(fn):
    """Run fn() with the C paths active, then forced-off; return both."""
    from oxidizepdf_spark.kernel import reader as R

    with_c = fn()
    saved = C._CSCAN
    saved_p = R._CPARSE
    C._CSCAN = None
    R._CPARSE = None
    try:
        without_c = fn()
    finally:
        C._CSCAN = saved
        R._CPARSE = saved_p
    return with_c, without_c


def _extract_all(data: bytes):
    from oxidizepdf_spark.kernel.extract import extract_pdf_bytes

    res = extract_pdf_bytes(data)
    return (res.spans, res.n_pages, res.error, res.mode)


def test_differential_full_corpus_catalog():
    from oxidizepdf_spark.corpus import generate_corpus
    from oxidizepdf_spark.kernel.extract import extract_document_spans

    rows = list(generate_corpus(n_docs=400, seed=99))

    def run():
        out = []
        for in_row, _ in rows:
            spans, meta = extract_document_spans(
                [(s["kind"], s["text"], s["media_ref"]) for s in in_row["spans"]]
            )
            out.append((in_row["case"], spans, meta["ok"], meta.get("error")))
        return out

    got_c, got_py = _both_paths(run)
    assert got_c == got_py


def test_differential_interpreter_state():
    """Beyond output spans: the FULL final interpreter state must match
    (matrices, counters, graphics stack, fonts scope) on dense streams."""
    from oxidizepdf_spark.corpus import build_pdf_with_content_stream
    from oxidizepdf_spark.kernel.content import parse_and_run, _parse_and_run_py
    from oxidizepdf_spark.kernel.textstate import ExtractionOptions, Interpreter

    streams = [
        b"BT /F1 12 Tf 1 0 0 1 72 700 Tm (ab) Tj 0 -14 Td (cd) Tj ET",
        b"BT /F1 9 Tf 14 TL (x) Tj T* (y) Tj (z) ' 2 3 (w) \" ET",
        b"q 2 0 0 2 10 10 cm BT /F1 12 Tf (s) Tj ET Q BT (t) Tj ET",
        b"BT [ (a) -250 (b) 12.5 (c) ] TJ ET",
        b"BT /F1 12 Tf 50 Tz (wide) Tj 100 Tz (norm) Tj ET",
        b"/Art BMC BT /F1 10 Tf (hidden) Tj ET EMC BT (vis) Tj ET",
        b"/P << /MCID 4 >> BDC BT (m) Tj ET EMC",
        b"BT <4142> Tj [ <43> -100 (D) ] TJ ET",
        b"1 0 0 RG 0.5 g 0 0 1 rg 0 1 0 0 k BT (c) Tj ET",
        b"BT /F1 12 Tf 1 2.5 Td 3 Tr -4 Ts .5 Tc 1 Tw (q) Tj ET",
        b"BT (\\110\\151) Tj (par(en)s) Tj ET",
        b"2 J 1 j [] 0 d 10 M BT (after) Tj ET % comment\nBT (x) Tj ET",
        b"BT (dangling",
        b"[ (a) /Bad (b) ] TJ BT (ok) Tj ET",
        b"5 3 Td (no-bt) Tj",
        b"BT 1 0 0 1 0 0 Tm >> ] } ; (odd) Tj ET",
        b"BT 99999999999999999999 0 Td (big) Tj ET",
        b"BT /F1 12. Tf +.5 -0.0 Td (n) Tj ET",
        # macro-shape gate parity: bad hex defers behind in_text in the
        # M2/M5 shapes, raises eagerly in generic contexts
        b"<4\x001> Tj",
        b"[ <4\x001> ] TJ",
        b"[ <4\x001> /X ] TJ",
        b"BT [ <4142> -300 <> () 12.5 ] TJ ET",
        b"[ 12 ( unclosed",
    ]

    for stream in streams:
        finals = []
        for use_c in (True, False):
            interp = Interpreter(options=ExtractionOptions())
            try:
                if use_c:
                    parse_and_run(interp, stream, {})
                else:
                    _parse_and_run_py(interp, stream, {})
                err = None
            except Exception as e:
                err = f"{type(e).__name__}:{e}"
            out = interp.finalize()
            st = interp.state
            finals.append(
                (
                    err, out.spans, out.text,
                    st.text_matrix, st.text_line_matrix, st.ctm,
                    st.leading, st.char_space, st.word_space,
                    st.horizontal_scale, st.text_rise, st.font_size,
                    st.font_name, st.render_mode, st.fill_color,
                    st.saved, st.artifact_n,
                    interp._total, interp.last_x, interp.last_y,
                    interp._last_char, interp.in_text,
                )
            )
        assert finals[0] == finals[1], stream


def test_differential_real_fixtures():
    import os

    paths = [
        "/root/reference/test-pdfs/Cold_Email_Hacks.pdf",
        "/root/reference/oxidize-pdf-core/tests/fixtures/"
        "issue_272_higgs_arxiv_1207_7214.pdf",
    ]
    for p in paths:
        if not os.path.exists(p):
            continue
        data = open(p, "rb").read()
        got_c, got_py = _both_paths(lambda: _extract_all(data))
        assert got_c == got_py, p


def test_differential_hypothesis_streams():
    """Adversarial token soup through both paths."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from oxidizepdf_spark.kernel.content import _parse_and_run_py, parse_and_run
    from oxidizepdf_spark.kernel.textstate import ExtractionOptions, Interpreter

    token = st.sampled_from(
        [b"BT", b"ET", b"Tj", b"TJ", b"Td", b"TD", b"Tm", b"Tf", b"T*",
         b"'", b'"', b"TL", b"Tz", b"q", b"Q", b"cm", b"Do", b"BMC",
         b"BDC", b"EMC", b"BI", b"ID", b"EI", b"/F1", b"/Artifact", b"(a)",
         b"(b c)", b"<4142>", b"<<", b">>", b"[", b"]", b"12", b"-3.5",
         b".5", b"(es\\(c)", b"%cmt", b"re", b"f", b"5", b"7.2",
         b"<4\x001>", b"<zz>", b"Tjx", b"TJx"]
    )

    @settings(max_examples=300, deadline=None)
    @given(st.lists(token, min_size=0, max_size=40))
    def check(tokens):
        stream = b" ".join(tokens)
        finals = []
        for use_c in (True, False):
            interp = Interpreter(options=ExtractionOptions())
            try:
                if use_c:
                    parse_and_run(interp, stream, {})
                else:
                    _parse_and_run_py(interp, stream, {})
                err = None
            except Exception as e:
                err = f"{type(e).__name__}:{e}"
            out = interp.finalize()
            st_i = interp.state
            finals.append(
                (err, out.spans, out.text, st_i.text_matrix,
                 st_i.text_line_matrix, st_i.ctm, st_i.artifact_n,
                 interp._total, interp.last_x, interp.last_y,
                 interp._last_char, interp.in_text)
            )
        assert finals[0] == finals[1], stream

    check()


def test_differential_object_parser_real_fixtures():
    """C parse_indirect vs the pure-Python object parser, object by object,
    over both real fixtures: identical (num, gen, value) for every xref
    entry, incl. streams (dict + raw payload)."""
    from oxidizepdf_spark.kernel import reader as R
    from oxidizepdf_spark.kernel.objects import Stream
    from oxidizepdf_spark.kernel.reader import PdfReader

    for path in (
        "/root/reference/test-pdfs/Cold_Email_Hacks.pdf",
        "/root/reference/oxidize-pdf-core/tests/fixtures/"
        "issue_272_higgs_arxiv_1207_7214.pdf",
    ):
        data = open(path, "rb").read()
        rdr = PdfReader(data)
        checked = 0
        for num, entry in list(rdr.xref.items()):
            if entry[0] != "n":
                continue
            offset = entry[1]
            c_res = None
            py_res = None
            c_err = py_err = None
            try:
                assert R._CPARSE is not None
                c_raw = R._CPARSE(data, offset)
                if c_raw is None:
                    continue  # C bailed: Python path is authoritative anyway
                cn, cg, cv, has_stream, pos = c_raw
                if has_stream:
                    cv = rdr._capture_stream(cv, pos, cn, cg)
                c_res = (cn, cg, cv)
            except Exception as e:
                c_err = f"{type(e).__name__}"
            try:
                py_res = rdr._parse_indirect_object_at_py(offset)
            except Exception as e:
                py_err = f"{type(e).__name__}"
            assert c_err == py_err, (path, num)
            if c_res is None:
                continue

            def canon(v):
                if isinstance(v, Stream):
                    return ("STREAM", canon(v.dict), v.raw)
                if isinstance(v, dict):
                    return tuple(sorted((k, canon(x)) for k, x in v.items()))
                if isinstance(v, list):
                    return tuple(canon(x) for x in v)
                return (type(v).__name__, v)

            assert canon(c_res[2]) == canon(py_res[2]), (path, num)
            assert c_res[:2] == py_res[:2], (path, num)
            checked += 1
        assert checked > 50, path


def test_differential_object_parser_synthetic():
    """Object-grammar soup: C parse vs Python parse on adversarial bodies
    (refs, signed gens, nested dicts, junk keys, hex, comments, escapes)."""
    from oxidizepdf_spark.kernel import reader as R
    from oxidizepdf_spark.kernel.objects import Lexer, parse_object

    bodies = [
        b"<< /A 5 0 R /B [1 2 3] /C (s\\(t) /D <4142> /E true /F null >>",
        b"[1 +2 -3 4.5 .5 5. /N (x) <0A> [nested [deep]] <<>>]",
        b"<< /K 5 +3 R /L 5 -3 R /M 5 3 Robj >>",
        b"<< 5 /Junk (skip) /Real 7 >>",
        b"<< /A % comment\n 5 >>",
        b"5 3 R",
        b"<< /Empty <> /Odd <414> >>",
        b"(with (nested) parens \\053)",
        b"<< /N [0 0 R 1 65535 R] >>",
        b"true", b"false", b"null", b"-0 3 R",
        b"<</A<</B<</C 1>>>>>>",
    ]
    for body in bodies:
        blob = b"7 0 obj " + body + b" endobj"
        c_raw = R._CPARSE(blob, 0) if R._CPARSE else None
        lexer = Lexer(blob, 0)
        lexer.next_token(); lexer.next_token(); lexer.next_token()
        try:
            py_val = parse_object(lexer)
            py_err = None
        except Exception as e:
            py_val, py_err = None, type(e).__name__
        if c_raw is None:
            continue  # bail → Python authoritative
        assert py_err is None, body
        assert c_raw[0] == 7 and c_raw[1] == 0
        assert repr(c_raw[2]) == repr(py_val), body


def _frag_key(f):
    """Bit-strict fragment fingerprint (repr distinguishes -0.0 / 0.0)."""
    return (
        f.text, repr(f.x), repr(f.y), repr(f.width), repr(f.height),
        repr(f.font_size), f.font_name, f.is_bold, f.is_italic, f.color,
        f.mcid, f.struct_tag,
    )


def test_differential_layout_fragments():
    """Layout-mode C path vs pure-Python: raw emitted fragments, the
    layout-processed fragments, page text, and final state must all
    match field-for-field — including ActualText absorption, artifact
    suppression, marked-content tags, scaled CTMs, and negative-zero
    origins (the fast-show identity shortcut would flip -0.0 to +0.0)."""
    from oxidizepdf_spark.kernel.content import _parse_and_run_py, parse_and_run
    from oxidizepdf_spark.kernel.textstate import ExtractionOptions, Interpreter

    streams = [
        b"BT /F1 12 Tf 1 0 0 1 72 700 Tm (ab) Tj 0 -14 Td (cd) Tj ET",
        b"BT /F1 9 Tf 14 TL (x) Tj T* (y) Tj (z) ' 2 3 (w) \" ET",
        b"q 2 0 0 2 10 10 cm BT /F1 12 Tf (s) Tj ET Q BT (t) Tj ET",
        b"BT /F1 12 Tf [ (a) -250 (b) 12.5 (c) ] TJ ET",
        b"BT /F1 12 Tf 50 Tz (wide) Tj 100 Tz (norm) Tj ET",
        b"/Artifact BMC BT /F1 10 Tf (hidden) Tj ET EMC BT (vis) Tj ET",
        b"/P << /MCID 4 >> BDC BT /F1 12 Tf (m) Tj ET EMC",
        b"BT /F1 12 Tf <4142> Tj [ <43> -100 (D) ] TJ ET",
        b"/Span << /ActualText (AT) >> BDC BT /F1 12 Tf (x) Tj "
        b"[ (y) -400 (z) ] TJ ET EMC BT (after) Tj ET",
        b"/Span << /ActualText (OUT) >> BDC /Artifact BMC BT /F1 10 Tf "
        b"(gone) Tj ET EMC EMC",
        b"BT /F1-Bold 12 Tf (b) Tj /F2-Italic 10 Tf (i) Tj ET",
        b"BT /F1 12 Tf -0 0 Td (negzero) Tj ET",
        b"q 3 0 0 3 5 5 cm BT /F1 12 Tf 2 0 0 2 10 20 Tm (sc) Tj "
        b"[ (t) -200 (u) ] TJ ET Q",
        b"BT /F1 12 Tf 1 2 3 4 5 6 Tm (skew) Tj ET",
        b"BT (dangling",
        b"BT /F1 12 Tf (one) Tj ET /P << /MCID 7 >> BDC BT (two) Tj "
        b"[ (three) -999 (four) ] TJ ET EMC",
    ]
    for reading_order in ("emission", "simple"):
        for stream in streams:
            finals = []
            for use_c in (True, False):
                opts = ExtractionOptions(
                    preserve_layout=True, reading_order=reading_order
                )
                interp = Interpreter(options=opts)
                try:
                    if use_c:
                        parse_and_run(interp, stream, {})
                    else:
                        _parse_and_run_py(interp, stream, {})
                    err = None
                except Exception as e:
                    err = f"{type(e).__name__}:{e}"
                raw = [_frag_key(f) for f in interp.fragments]
                out = interp.finalize()
                finals.append(
                    (
                        err, raw, [_frag_key(f) for f in out.fragments],
                        out.text, out.spans,
                        interp.state.text_matrix, interp.state.ctm,
                        interp._total, interp.last_x, interp.last_y,
                    )
                )
            assert finals[0] == finals[1], (reading_order, stream)


def test_differential_layout_real_fixtures():
    """Full documents through the layout path on both engines: Cold_Email
    + Higgs with preserve_layout and with reading_order='simple'."""
    import os

    from oxidizepdf_spark.kernel.extract import extract_pdf_bytes
    from oxidizepdf_spark.kernel.textstate import ExtractionOptions

    paths = [
        "/root/reference/test-pdfs/Cold_Email_Hacks.pdf",
        "/root/reference/oxidize-pdf-core/tests/fixtures/"
        "issue_272_higgs_arxiv_1207_7214.pdf",
    ]
    for p in paths:
        if not os.path.exists(p):
            continue
        data = open(p, "rb").read()
        for kwargs in (
            {"preserve_layout": True},
            {"reading_order": "simple"},
        ):
            def run():
                res = extract_pdf_bytes(
                    data, options=ExtractionOptions(**kwargs)
                )
                return (res.spans, res.n_pages, res.error, res.mode)

            got_c, got_py = _both_paths(run)
            assert got_c == got_py, (p, kwargs)


def test_differential_layout_hypothesis():
    """Adversarial token soup through both paths in layout mode —
    fragments compared bit-strict."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from oxidizepdf_spark.kernel.content import _parse_and_run_py, parse_and_run
    from oxidizepdf_spark.kernel.textstate import ExtractionOptions, Interpreter

    token = st.sampled_from(
        [b"BT", b"ET", b"Tj", b"TJ", b"Td", b"TD", b"Tm", b"Tf", b"T*",
         b"'", b'"', b"TL", b"Tz", b"q", b"Q", b"cm", b"BMC", b"BDC",
         b"EMC", b"/F1", b"/Artifact", b"/Span", b"<<", b">>",
         b"/ActualText", b"(AT)", b"(a)", b"(b c)", b"<4142>", b"[", b"]",
         b"12", b"-3.5", b".5", b"-0", b"%cmt", b"2", b"0", b"1",
         b"<4\x001>", b"(es\\(c)"]
    )

    @settings(max_examples=200, deadline=None)
    @given(st.lists(token, min_size=0, max_size=30))
    def check(tokens):
        stream = b" ".join(tokens)
        finals = []
        for use_c in (True, False):
            interp = Interpreter(
                options=ExtractionOptions(preserve_layout=True)
            )
            try:
                if use_c:
                    parse_and_run(interp, stream, {})
                else:
                    _parse_and_run_py(interp, stream, {})
                err = None
            except Exception as e:
                err = f"{type(e).__name__}:{e}"
            raw = [_frag_key(f) for f in interp.fragments]
            out = interp.finalize()
            finals.append((err, raw, out.text, out.spans, interp._total))
        assert finals[0] == finals[1], stream

    check()


def test_differential_merge_and_reconstruct_fuzz():
    """C merge_close + reconstruct_text vs the pure-Python LayoutProcessor
    bodies over randomized CFrag lists (same values mirrored into
    TextFragment for the Python run), covering hyphen merges, mcid
    boundaries, gap thresholds, and reconstruct_paragraphs tolerance."""
    import random

    from oxidizepdf_spark.kernel import content as CC
    from oxidizepdf_spark.kernel.layout import LayoutProcessor, TextFragment
    from oxidizepdf_spark.kernel.textstate import ExtractionOptions

    ck = CC._CSCAN
    rng = random.Random(20260817)
    texts = ["a", "bc", "word-", "x y", "", "-", "Zz", "kern"]
    fonts = [None, "F1", "F2-Bold"]
    for trial in range(200):
        n = rng.randrange(0, 12)
        vals = []
        x = 0.0
        y = 700.0
        for _ in range(n):
            if rng.random() < 0.3:
                y -= rng.choice([0.0, 0.4, 1.2, 14.0])
            if rng.random() < 0.5:
                x += rng.choice([-2.0, 0.0, 1.0, 2.5, 8.0, 40.0])
            w = rng.choice([4.0, 10.0, 18.0])
            fsz = rng.choice([8.0, 12.0])
            vals.append(
                (
                    rng.choice(texts), x, y, w, fsz, fsz,
                    rng.choice(fonts), False, False, None,
                    rng.choice([None, 1, 2]), rng.choice([None, "P"]),
                )
            )
            x += w
        cfrags = [ck.CFrag(*v) for v in vals]
        pyfrags = [TextFragment(*v) for v in vals]
        for recon_paras in (False, True):
            opts = ExtractionOptions(
                preserve_layout=True, reconstruct_paragraphs=recon_paras
            )
            proc = LayoutProcessor(opts)
            got_c = [
                _frag_key(f)
                for f in ck.merge_close(
                    cfrags, recon_paras, proc.space_gap_threshold
                )
            ]
            # pure-Python authority (C bails on TextFragment input)
            got_py = [_frag_key(f) for f in proc.merge_close_fragments(pyfrags)]
            assert got_c == got_py, (trial, recon_paras, vals)
            text_c = proc.reconstruct_text_from_fragments(cfrags)
            text_py = proc.reconstruct_text_from_fragments(pyfrags)
            assert text_c == text_py, (trial, recon_paras, vals)


def test_differential_reconstruct_hyphen_merge():
    """merge_hyphenated line joins through the C reconstruct path vs
    Python: a trailing hyphen at a newline boundary is trimmed and the
    lines fuse without a separator."""
    from oxidizepdf_spark.kernel import content as CC
    from oxidizepdf_spark.kernel.layout import LayoutProcessor, TextFragment
    from oxidizepdf_spark.kernel.textstate import ExtractionOptions

    ck = CC._CSCAN
    vals = [
        ("hyphen-", 100.0, 700.0, 40.0, 12.0, 12.0, "F1", False, False,
         None, None, None),
        ("ated", 72.0, 686.0, 25.0, 12.0, 12.0, "F1", False, False,
         None, None, None),
        ("next", 72.0, 660.0, 25.0, 12.0, 12.0, "F1", False, False,
         None, None, None),
    ]
    for merge_hyph, want in ((True, "hyphenated\nnext"), (False, "hyphen-\nated\nnext")):
        opts = ExtractionOptions(
            preserve_layout=True, merge_hyphenated=merge_hyph
        )
        proc = LayoutProcessor(opts)
        text_c = proc.reconstruct_text_from_fragments(
            [ck.CFrag(*v) for v in vals]
        )
        text_py = proc.reconstruct_text_from_fragments(
            [TextFragment(*v) for v in vals]
        )
        assert text_c == text_py == want, (merge_hyph, text_c, text_py)


def _py_html_events(html):
    from oxidizepdf_spark.kernel.html_extract import _py_events

    events, links = _py_events(html)
    return list(events), list(links)


def test_differential_html_corpus():
    """C html_events vs the stdlib html.parser consumer over every HTML
    document the synthetic corpus generates, plus the spans/links
    public surfaces."""
    from oxidizepdf_spark.corpus import generate_corpus
    from oxidizepdf_spark.kernel import content as CC
    from oxidizepdf_spark.kernel.html_extract import (
        extract_html_links,
        extract_html_spans,
    )

    n_html = 0
    for in_row, _ in generate_corpus(n_docs=600, seed=123):
        for s in in_row["spans"]:
            if s["kind"] != "raw_html":
                continue
            html = s["text"]
            n_html += 1
            c = CC._CSCAN.html_events(html)
            py = _py_html_events(html)
            assert c is not None, "unexpected bail on corpus HTML"
            assert (list(c[0]), list(c[1])) == py
            # and the public surfaces agree with themselves
            assert extract_html_spans(html) is not None
            assert extract_html_links(html) is not None
    assert n_html > 50  # the corpus does exercise the HTML tier


def _crafted_html_docs():
    """html.parser constructs: CDATA script/style, broken tags, comments,
    doctype, bogus comments, charrefs (incl. truncated at EOF),
    quoted/bare/valueless attrs, XHTML self-closing, nested/unbalanced
    anchors, img variants."""
    return [
        "<p class='sidebar x'>hidden</p><p class=promo>also</p><p>kept body text here</p>",
        '<P CLASS="NAV">upper</P><DIV ID="MainFooter">f</DIV><p>body text stays</p>',
        "<a href='/a'>one</a><a href=/b>two</a><a href>three</a><a>four</a>",
        "<img src='a.png'><img src=b.png /><img><img src=''>",
        "<script>if (a < b && c > d) { x = '<p>'; }</script><p>after body</p>",
        "<style>p > a { color: red; }</style><p>styled body text</p>",
        "<script>unterminated cdata tail is dropped",
        "<sCrIpT>x</sCrIpT after junk><p>recovery body text</p>",
        "<script>a</script ><p>space before gt body</p>",
        "<p>a<br>b<hr>c</p>",
        "<!-- c1 --><!--->odd<!----><p>comment soup body text</p>",
        "<!-- unterminated comment <p>gone</p>",
        "<!DOCTYPE html PUBLIC 'x'><p>doctype body text</p>",
        "<! bogus ><p>bogus comment body</p>",
        "<?php echo '<p>'; ?><p>pi body text</p>",
        "</><p>empty endtag body</p>",
        "</ div><p>bogus end body</p>",
        "</div attr='x'><p>attr endtag body</p>",
        "<div><p>unclosed div p",
        "<p>amp & lone</p>",
        "<p>trailing entity &am",
        "<p>entity &amp reopened</p>",
        "<p>num &#65; &#x41; &#9999999; &#xZZ;</p>",
        "<p x=1 y = '2' z=\"3\" w>attrs body text</p>",
        "<p x='a>b'>quote-gt body text</p>",
        "<p x=\"unterminated>body text continues",
        "<a href='/x' href='/y'>dup href</a>",
        "<a href='/k'><b>nested <i>anchor</i> text</b></a> tail",
        "<a href='/o'>outer <a href='/i'>inner</a> rest</a>",
        "<div class='a' class='ad'>dup class ad</div><p>body text</p>",
        "<div class='read'>not-boiler body text here</div>",
        "<div class='thread'>thread body text here</div>",
        "<div class='x-ad-y'>ad hyphens</div><p>body text</p>",
        "< p>lt space body</p>",
        "<1tag>numeric body</1tag>",
        "<tag-with-dash attr>dash body text</tag-with-dash>",
        "<p%>odd name body</p%>",
        "<p/junk>slash junk body</p>",
        "<br/><input type=text /><p>void self-close body</p>",
        "<td>cell one</td><td>cell two</td>",
        "text with no tags at all, long enough to keep",
        "<p>" + "x" * 5000 + "</p>",
        "<p>tail lt <",
        "<p>tail lt2 <x",
        "<p>tail eq <x a=",
        "<p a='é café'>unicode attr body</p>",
        "<p>café unicode body text — dash</p>",
        "<div class='café ad'>unicode class ad</div><p>body</p>",
        "<p nbsp>after-name nbsp</p>",
        "<p>\n   lead and trail \u00a0 spaces of a block\t\n</p>",
        "<p>\u2003em space\u3000ideographic\u2028line sep\x1c body</p>",
        "<p><a href='/w'>  spaced \n  anchor  </a> and body text after</p>",
    ]


def test_differential_html_constructs():
    """Targeted html.parser constructs through both engines: CDATA
    script/style, broken tags, comments, doctype, bogus comments,
    charrefs (incl. truncated at EOF), quoted/bare/valueless attrs,
    XHTML self-closing, nested/unbalanced anchors, img variants."""
    from oxidizepdf_spark.kernel import content as CC

    n_bail = 0
    for d in _crafted_html_docs():
        c = CC._CSCAN.html_events(d)
        py = _py_html_events(d)
        if c is None:
            n_bail += 1
            continue  # bail = Python authority runs; no divergence possible
        assert (list(c[0]), list(c[1])) == py, d[:80]
    # the fast path must actually cover the overwhelming majority
    assert n_bail <= 2, f"too many bails: {n_bail}"


def _corpus_html(n_docs=600, seed=123):
    from oxidizepdf_spark.corpus import generate_corpus

    return [s["text"] for in_row, _ in generate_corpus(n_docs=n_docs, seed=seed)
            for s in in_row["spans"] if s["kind"] == "raw_html"]


def test_html_events_without_links():
    """html_events(doc, want_links=False) gives the events it gives with
    links, and no links; html_spans (the C tokenizer without links plus
    the span filter) equals extract_html_spans' pure-Python path, at the
    default and at other thresholds: over the corpus HTML and the crafted
    constructs."""
    from oxidizepdf_spark.kernel import content as CC
    from oxidizepdf_spark.kernel.html_extract import extract_html_spans

    docs = _corpus_html() + _crafted_html_docs()
    assert len(docs) > 100
    served = 0
    for d in docs:
        with_links = CC._CSCAN.html_events(d, True)
        without = CC._CSCAN.html_events(d, False)
        assert (with_links is None) == (without is None), d[:80]
        if with_links is None:
            continue
        served += 1
        assert without[0] == with_links[0] and without[1] == [], d[:80]
        for ldm, mbc in ((0.5, 10), (0.0, 0), (0.2, 3), (1.0, 40)):
            got, want = _both_paths(lambda: extract_html_spans(d, ldm, mbc))
            assert got == want, (d[:80], ldm, mbc)
            assert CC._CSCAN.html_spans(d, ldm, mbc) == want, (d[:80], ldm)
    assert served >= len(docs) - 2


def test_differential_html_hypothesis():
    """Adversarial tag soup through both engines."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from oxidizepdf_spark.kernel import content as CC

    piece = st.sampled_from(
        ["<p>", "</p>", "<div class='nav'>", "</div>", "<a href='/x'>",
         "</a>", "<img src='i.png'>", "<br>", "<script>", "</script>",
         "<b", ">", "<", "&amp;", "&", "&#65;", "&nbsp;", "text body",
         " ", "longer chunk of body text", "<!", "<!--", "-->", "<?pi",
         "'", '"', "=", "/>", "</", "x=1", " class=ad ", "é",
         "<style>", "</style>", "<td>", "</ td>", ";"]
    )

    @settings(max_examples=300, deadline=None)
    @given(st.lists(piece, min_size=0, max_size=25))
    def check(pieces):
        doc = "".join(pieces)
        c = CC._CSCAN.html_events(doc)
        if c is None:
            return  # bail → Python authority
        py = _py_html_events(doc)
        assert (list(c[0]), list(c[1])) == py, doc[:120]

    check()


def test_differential_html_eq_backtrack():
    """Pinned fuzz find: sre backtracks '=+' when a quoted attr value is
    unterminated — '<a 9==\">' parses as attr ('9', '=\"') and the tag
    completes (no data event); a linear scanner that treats the value
    group as empty instead emits the raw tag text."""
    from oxidizepdf_spark.kernel import content as CC

    for doc in ('<a 9==">', '<p a=="x>y', '<p a= =">z', '<p a == "u>v'):
        c = CC._CSCAN.html_events(doc)
        assert c is not None
        assert (list(c[0]), list(c[1])) == _py_html_events(doc), doc


def test_differential_html_large_document():
    """A ~750KB realistic page and a deep unbalanced-closer pathological
    case: exact parity at scale, and the shared unwind algorithm
    terminates on both engines."""
    from oxidizepdf_spark.kernel import content as CC

    parts = [
        "<html><head><title>t</title><style>p{a:1}</style></head>"
        "<body><nav>n1 n2 n3</nav>"
    ]
    for i in range(1500):
        parts.append(
            f"<div class='art'><h2>Heading {i}</h2><p>Paragraph {i} with "
            f"body text &amp; entities, <a href='/l{i}'>a link {i}</a> and "
            f"more words to fill the block.</p><img src='im{i}.png'></div>"
        )
    parts.append("<footer>f</footer></body></html>")
    for doc in ("".join(parts), "<b>" * 1000 + "</i>" * 1000):
        c = CC._CSCAN.html_events(doc)
        assert c is not None
        assert (list(c[0]), list(c[1])) == _py_html_events(doc)


def test_differential_xref_sections():
    """C strict-stride xref parse vs the Python authority loop: crafted
    layouts, a random fuzz over section shapes, and both real fixtures'
    actual tables (Cold_Email is traditional-xref)."""
    import os
    import random

    from oxidizepdf_spark.kernel import content as CC
    from oxidizepdf_spark.kernel import xref as X

    def both(data, offset=0):
        try:
            got_c = X._parse_traditional_section(data, offset)
        except Exception as e:
            got_c = ("ERR", type(e).__name__)
        saved = CC._CSCAN
        CC._CSCAN = None
        try:
            got_py = X._parse_traditional_section(data, offset)
        except Exception as e:
            got_py = ("ERR", type(e).__name__)
        finally:
            CC._CSCAN = saved
        assert got_c == got_py, data[:120]

    crafted = [
        b"xref\n0 2\n0000000000 65535 f \n0000000017 00005 n \ntrailer << /Size 2 >>",
        b"  xref\r\n0 1\r\n0000000000 65535 f\r\n3 2\r\n0000000100 00000 n\r\n0000000200 00000 n\r\ntrailer<</Size 5>>",
        b"xref\n0 0\ntrailer << /Size 0 >>",
        b"xref\n0 1\n0000000000 65535 f \n",
        b"xref\n0 2\n0 65535 f\n17 5 n\ntrailer<<>>",
        b"xref\n0 3\n0000000000 65535 f \n0000000017 00005 n \n",
        b"noxref here",
        b"% c\nxref\n0 1\n0000000000 65535 f \ntrailer<<>>",
        b"xref\n5 1\n0000000042 00007 n \n5 1\n0000000099 00001 n \ntrailer<<>>",
        b"xref\n0 1\n0000000000 65535 x \ntrailer<<>>",
        b"xref 0 1 0000000000 65535 n trailer<<>>",
        b"xref\n0 1\n0000000000 65535 n\ttrailer<<>>",
        b"xref",
        b"xrefx\n0 1\n0000000000 65535 n \n",
    ]
    for c in crafted:
        both(c)

    rng = random.Random(11)
    for _ in range(300):
        parts = [rng.choice([b"xref", b"xref ", b" xref", b"XREF", b"xr"])]
        for _s in range(rng.randrange(0, 3)):
            start = rng.randrange(0, 50)
            cnt = rng.randrange(0, 5)
            parts.append(
                b"\n%d %d\n" % (start, cnt)
                if rng.random() < 0.8
                else b" %d  %d " % (start, cnt)
            )
            for i in range(cnt):
                if rng.random() < 0.7:
                    parts.append(b"%010d %05d %c \n" % (
                        rng.randrange(0, 10**9), rng.randrange(0, 65536),
                        rng.choice(b"nf")))
                else:
                    parts.append(b"%d %d %c\n" % (
                        rng.randrange(0, 10**9), rng.randrange(0, 65536),
                        rng.choice(b"nf")))
        parts.append(rng.choice([b"trailer << /Size 9 >>", b"", b"garbage"]))
        both(b"".join(parts))

    p = "/root/reference/test-pdfs/Cold_Email_Hacks.pdf"
    if os.path.exists(p):
        data = open(p, "rb").read()
        from oxidizepdf_spark.kernel.xref import find_xref_offset

        off = find_xref_offset(data)
        if off is not None and data[off:off + 4] == b"xref":
            both(data, off)


# -- document skeleton: xref chain, object fetch, page tree, /Contents -------


def _canon(v):
    """Type-strict, order-strict value fingerprint (Stream has no __eq__;
    Name vs str, bool vs int and Ref vs tuple must not compare equal)."""
    from oxidizepdf_spark.kernel.objects import Stream

    if isinstance(v, Stream):
        return ("Stream", _canon(v.dict), v.raw)
    if isinstance(v, dict):
        return ("dict", tuple((type(k).__name__, k, _canon(x))
                              for k, x in v.items()))
    if isinstance(v, list):
        return ("list", tuple(_canon(x) for x in v))
    return (type(v).__name__, v)


def _err(e: Exception):
    return ("ERR", type(e).__name__, str(e))


def _skeleton(data: bytes, lenient: bool = True):
    """Everything the four skeleton steps produce for one document: the
    reader's xref/trailer/mode, the flattened pages (dict, resources, media
    box), each page's /Contents bytes, every object by number, and the
    object cache they leave behind."""
    from oxidizepdf_spark.kernel.pages import flatten_page_tree, page_content
    from oxidizepdf_spark.kernel.reader import PdfReader

    try:
        rdr = PdfReader(data, lenient=lenient)
    except Exception as e:
        return _err(e)
    out = [list(rdr.xref.items()), _canon(rdr.trailer), rdr.mode]
    try:
        pages = flatten_page_tree(rdr)
    except Exception as e:
        pages = []
        out.append(_err(e))
    for page in pages:
        out.append((_canon(page.dict), _canon(page.resources),
                    _canon(page.media_box)))
        try:
            out.append(page_content(rdr, page))
        except Exception as e:
            out.append(_err(e))
    out.append(sorted(rdr._cache))
    out.append([_canon(rdr._cache[k]) for k in sorted(rdr._cache)])
    out.append([(k, _canon(rdr._objstm_cache[k]))
                for k in sorted(rdr._objstm_cache)])
    for num in sorted(rdr.xref):
        try:
            out.append((num, _canon(rdr.get_object(num))))
        except Exception as e:
            out.append((num, _err(e)))
    out.append([(k, _canon(rdr._objstm_cache[k]))
                for k in sorted(rdr._objstm_cache)])
    return out


def _assert_same_skeleton(data: bytes, label):
    from oxidizepdf_spark.kernel import xref as X

    for lenient in (True, False):
        got_c, got_py = _both_paths(lambda: _skeleton(data, lenient))
        assert got_c == got_py, (label, lenient)
    got_c, got_py = _both_paths(lambda: _extract_all(data))
    assert got_c == got_py, label
    off = X.find_xref_offset(data)
    if off is not None and data[off:off + 4] == b"xref":

        def section():
            try:
                return X._parse_traditional_section(data, off)
            except Exception as e:
                return _err(e)

        got_c, got_py = _both_paths(section)
        assert got_c == got_py, label


_CONTENT = b"BT /F1 12 Tf 72 700 Td (Hello) Tj ET"


def _objects(pages_extra=b"", page_extra=b"", content=_CONTENT,
             content_dict=b""):
    return {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 "
           b"/Resources << /Font << /F1 5 0 R >> >> " + pages_extra + b">>",
        3: b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R " + page_extra
           + b">>",
        4: b"<< /Length %d %s >>\nstream\n%s\nendstream"
           % (len(content), content_dict, content),
        5: b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
    }


def _body(objs: dict) -> tuple[bytearray, dict]:
    out = bytearray(b"%PDF-1.4\n")
    offs = {}
    for num, body in objs.items():
        offs[num] = len(out)
        out += b"%d 0 obj\n" % num + body + b"\nendobj\n"
    return out, offs


def _xref(offs: dict, size: int) -> bytes:
    s = b"xref\n0 %d\n0000000000 65535 f \n" % size
    for num in range(1, size):
        s += b"%010d 00000 %s \n" % (offs.get(num, 0),
                                     b"n" if num in offs else b"f")
    return s


def _pdf(objs: dict, trailer: bytes = b"/Root 1 0 R",
         offsets: dict | None = None) -> bytes:
    out, offs = _body(objs)
    offs.update(offsets or {})
    size = max(objs) + 1
    start = len(out)
    out += _xref(offs, size)
    out += b"trailer\n<< /Size %d %s >>\nstartxref\n%d\n%%%%EOF\n" % (
        size, trailer, start)
    return bytes(out)


def _prev_cycle_pdf(self_loop: bool) -> bytes:
    """Two traditional sections whose /Prev entries point at each other,
    or one whose /Prev points at itself."""
    out, offs = _body(_objects())
    a = len(out)
    sec_a = _xref(offs, 6)
    if self_loop:
        out += sec_a + b"trailer\n<< /Size 6 /Root 1 0 R /Prev %010d >>\n" % a
    else:
        tail_a = b"trailer\n<< /Size 6 /Root 1 0 R /Prev %010d >>\n"
        b = a + len(sec_a) + len(tail_a % 0)
        out += sec_a + tail_a % b
        out += b"xref\n0 1\n0000000000 65535 f \n"
        out += b"trailer\n<< /Size 6 /Prev %d >>\n" % a
    out += b"startxref\n%d\n%%%%EOF\n" % a
    return bytes(out)


def _deep_tree_pdf(depth: int) -> bytes:
    """A page under ``depth`` intermediate /Pages nodes."""
    objs = {1: b"<< /Type /Catalog /Pages 10 0 R >>",
            4: _objects()[4], 5: _objects()[5]}
    for i in range(depth):
        kid = 10 + i + 1 if i + 1 < depth else 3
        objs[10 + i] = b"<< /Type /Pages /Kids [%d 0 R] /Count 1 >>" % kid
    objs[3] = (b"<< /Type /Page /Contents 4 0 R "
               b"/Resources << /Font << /F1 5 0 R >> >> >>")
    return _pdf(dict(sorted(objs.items())))


def _flate_predictor_content(tags: bytes) -> bytes:
    """_CONTENT through FlateDecode with PNG predictor rows of 4 columns,
    row filter tags cycling through ``tags`` (forward direction of
    filters._png_unpredict)."""
    import zlib

    cols = 4
    data = _CONTENT + b" " * (-len(_CONTENT) % cols)
    rows = [data[i:i + cols] for i in range(0, len(data), cols)]
    prev = bytes(cols)
    enc = bytearray()
    for r, row in enumerate(rows):
        tag = tags[r % len(tags)]
        enc.append(tag)
        for i in range(cols):
            left = row[i - 1] if i >= 1 else 0
            up = prev[i]
            ul = prev[i - 1] if i >= 1 else 0
            if tag == 0:
                pred = 0
            elif tag == 1:
                pred = left
            elif tag == 2:
                pred = up
            elif tag == 3:
                pred = (left + up) >> 1
            else:
                p = left + up - ul
                pa, pb, pc = abs(p - left), abs(p - up), abs(p - ul)
                pred = left if pa <= pb and pa <= pc else (
                    up if pb <= pc else ul)
            enc.append((row[i] - pred) & 0xFF)
        prev = row
    return zlib.compress(bytes(enc))


def _xs_obj(num: int, rows: list, w=(1, 2, 1), index=None,
            extra: bytes = b"", predictor: bool = True) -> bytes:
    """Object ``num``: an /XRef stream over ``rows`` of (type, f2, f3),
    each field big-endian in its /W width (a zero width writes nothing),
    FlateDecode with or without /Predictor 12 Up rows."""
    import zlib

    data = b"".join(b"".join(v.to_bytes(k, "big") for v, k in zip(r, w) if k)
                    for r in rows)
    parms = b""
    cols = sum(w)
    if predictor and cols:
        prev, pred = bytes(cols), bytearray()
        for i in range(0, len(data), cols):
            row = data[i:i + cols]
            pred.append(2)
            pred += bytes((row[j] - prev[j]) & 0xFF for j in range(cols))
            prev = row
        data = bytes(pred)
        parms = b"/DecodeParms << /Predictor 12 /Columns %d >> " % cols
    payload = zlib.compress(data)
    idx = (b"" if index is None
           else b"/Index [%s] " % b" ".join(b"%d" % x for x in index))
    return (b"%d 0 obj\n<< /Type /XRef /W [%s] %s/Filter /FlateDecode %s%s"
            b"/Length %d >>\nstream\n" % (
                num, b" ".join(b"%d" % x for x in w), idx, parms, extra,
                len(payload))
            + payload + b"\nendstream\nendobj\n")


def _objstm_obj(num: int, members: dict, header: bytes | None = None,
                n: int | None = None, first: int | None = None,
                extra: bytes = b"") -> bytes:
    """Object ``num``: an /ObjStm packing ``members`` (number → body), its
    (number, offset) header, /N and /First overridable."""
    import zlib

    pairs, parts, pos = [], [], 0
    for onum, body in members.items():
        pairs.append(b"%d %d" % (onum, pos))
        parts.append(body)
        pos += len(body) + 1
    head = header if header is not None else b" ".join(pairs) + b"\n"
    comp = zlib.compress(head + b"\n".join(parts))
    return (b"%d 0 obj\n<< /Type /ObjStm /N %s /First %d /Filter /FlateDecode "
            b"/Length %d %s>>\nstream\n" % (
                num, b"%d" % (len(members) if n is None else n)
                if not isinstance(n, bytes) else n,
                len(head) if first is None else first, len(comp), extra)
            + comp + b"\nendstream\nendobj\n")


def _xs_pdf(objs: dict, members: dict | None = None, container: int = 6,
            stm_kw: dict | None = None, w=(1, 2, 1), index=None,
            trailer: bytes = b"/Root 1 0 R", rows_edit=None,
            predictor: bool = True, base: bytes = b"%PDF-1.5\n") -> bytes:
    """A PDF whose only cross-reference is an xref stream: ``objs`` written
    directly, ``members`` packed into object stream ``container``."""
    out = bytearray(base)
    rows = {}
    for num, body in objs.items():
        rows[num] = (1, len(out), 0)
        out += b"%d 0 obj\n" % num + body + b"\nendobj\n"
    if members is not None:
        for i, num in enumerate(members):
            rows[num] = (2, container, i)
        rows[container] = (1, len(out), 0)
        out += _objstm_obj(container, members, **(stm_kw or {}))
    xnum = max(rows) + 1
    rows[0] = (0, 0, 0)
    rows[xnum] = (1, len(out), 0)
    row_list = [rows.get(i, (0, 0, 0)) for i in range(xnum + 1)]
    if rows_edit is not None:
        row_list = rows_edit(row_list)
    xoff = len(out)
    out += _xs_obj(xnum, row_list, w, index,
                   b"/Size %d %s " % (xnum + 1, trailer), predictor)
    out += b"startxref\n%d\n%%%%EOF\n" % xoff
    return bytes(out)


def _update(base: bytes, body: bytes, section) -> bytes:
    """``base`` plus an incremental update: ``body``, then the section that
    ``section(prev_offset, own_offset, body_offsets)`` returns."""
    prev = int(base.rsplit(b"startxref", 1)[1].split()[0])
    out = bytearray(base)
    offs = {}
    for m in re.finditer(rb"(\d+) 0 obj", body):
        offs[int(m.group(1))] = len(out) + m.start()
    out += body
    own = len(out)
    out += section(prev, own, offs)
    out += b"startxref\n%d\n%%%%EOF\n" % own
    return bytes(out)


def _recovered(pdf: bytes) -> bytes:
    """The same file with its startxref offset broken (recovery)."""
    head, sep, tail = pdf.rpartition(b"startxref\n")
    return head + sep + b"99999999" + tail[tail.index(b"\n"):]


def _crafted_open_cases():
    """Xref streams, object streams, mixed /Prev chains, hybrid /XRefStm
    files and recovery shapes."""
    from oxidizepdf_spark.corpus import lzw_encode

    objs = _objects()
    direct = {4: objs[4]}
    members = {k: objs[k] for k in (1, 2, 3, 5)}
    cases = {"xs_plain": _xs_pdf(objs)}
    cases["xs_no_predictor"] = _xs_pdf(objs, predictor=False)
    cases["xs_objstm"] = _xs_pdf(direct, members)
    cases["xs_index_subsections"] = _xs_pdf(objs, index=[0, 3, 3, 4])
    cases["xs_index_gaps"] = _xs_pdf(objs, index=[0, 2, 5, 3, 30, 2])
    cases["xs_index_past_data"] = _xs_pdf(objs, index=[0, 40])
    cases["xs_index_odd_length"] = _xs_pdf(objs, index=[0, 7, 9])
    cases["xs_w_zero_type"] = _xs_pdf(objs, w=(0, 4, 1))
    cases["xs_w_zero_gen"] = _xs_pdf(objs, w=(1, 3, 0))
    cases["xs_w_four_fields"] = _xs_pdf(
        objs, w=(1, 2, 1, 2), rows_edit=lambda r: [x + (513,) for x in r])
    cases["xs_w_8byte"] = _xs_pdf(
        objs, w=(1, 8, 2),
        rows_edit=lambda r: r[:5] + [(1, 2**64 - 7, 0)] + r[6:])
    cases["xs_w_short"] = _xs_pdf(objs, w=(1, 2))
    cases["xs_w_zero_row"] = _xs_pdf(objs, w=(0, 0, 0))
    cases["xs_type_3_rows"] = _xs_pdf(
        objs, rows_edit=lambda r: [(3, 1, 1)] + r[1:3] + [(7, 0, 0)] + r[4:])
    cases["xs_strict_length_wrong"] = _xs_pdf(objs).replace(
        b"/Length 3", b"/Length 9", 1)
    xs = _xs_pdf(objs)
    cut = xs.rindex(b"/Type /XRef")
    cases["xs_indirect_length"] = xs[:cut] + re.sub(
        rb"/Length \d+ >>", b"/Length 5 0 R >>", xs[cut:], count=1)
    cases["xs_objstm_first_past_data"] = _xs_pdf(
        direct, members, stm_kw={"first": 900})
    cases["xs_objstm_n_above_pairs"] = _xs_pdf(direct, members,
                                               stm_kw={"n": 10})
    cases["xs_objstm_n_zero"] = _xs_pdf(direct, members, stm_kw={"n": 0})
    cases["xs_objstm_member_number_mismatch"] = _xs_pdf(
        direct, members, stm_kw={"header": b"9 0 2 34 3 86 5 221\n"})
    cases["xs_objstm_index_mismatch"] = _xs_pdf(
        direct, members,
        rows_edit=lambda r: r[:1] + [(2, 6, 3), (2, 6, 0)] + r[3:])
    cases["xs_objstm_extends"] = _xs_pdf(
        direct, members, stm_kw={"extra": b"/Extends 7 0 R "})
    cases["xs_objstm_lists_itself"] = _xs_pdf(
        direct, {**members, 6: b"<< /Self true >>"})
    cases["xs_objstm_own_container"] = _xs_pdf(
        direct, members, rows_edit=lambda r: r[:6] + [(2, 6, 0)] + r[7:])
    cases["xs_objstm_bad_member"] = _xs_pdf(
        direct, {**members, 8: b"endobj", 9: b"[1 2", 10: b"(unclosed"})
    cases["xs_objstm_n_ref"] = _xs_pdf({**direct, 9: b"4"}, members,
                                       stm_kw={"n": b"9 0 R"})
    # a stream section whose /Prev is a classic section, and the reverse
    plain = _pdf(objs)
    new4 = b"4 0 obj\n<< /Length 13 >>\nstream\nBT (New) Tj ET\nendstream\nendobj\n"
    cases["xs_prev_classic"] = _update(plain, new4, lambda prev, own, offs: (
        _xs_obj(7, [(1, offs[4], 0), (1, own, 0)], index=[4, 1, 7, 1],
                extra=b"/Size 8 /Root 1 0 R /Prev %d " % prev)))
    xs = cases["xs_plain"]
    cases["classic_prev_xs"] = _update(xs, new4, lambda prev, own, offs: (
        b"xref\n0 1\n0000000000 65535 f \n4 1\n%010d 00000 n \n"
        b"trailer\n<< /Size 7 /Root 1 0 R /Prev %d >>\n" % (offs[4], prev)))
    # stream /Prev → classic /Prev → the stream again
    head = _update(plain, b"", lambda prev, own, offs: _xs_obj(
        7, [(1, own, 0)], index=[7, 1],
        extra=b"/Size 8 /Root 1 0 R /Prev %d " % (own + 400)))
    own = int(head.rsplit(b"startxref", 1)[1].split()[0])
    pad = own + 400 - len(head)
    cases["prev_cycle_mixed"] = (
        head + b" " * pad + b"xref\n0 1\n0000000000 65535 f \n"
        b"trailer\n<< /Size 8 /Prev %d >>\nstartxref\n%d\n%%%%EOF\n" % (
            own, own))
    # hybrid file: the classic table lists the direct objects, /XRefStm
    # the object-stream members
    body, _ = _body(direct)
    body = bytearray(body)
    off6 = len(body)
    body += _objstm_obj(6, members)
    off7 = len(body)
    body += _xs_obj(7, [(2, 6, 0), (2, 6, 1), (2, 6, 2), (2, 6, 3)],
                    index=[1, 3, 5, 1], extra=b"/Size 8 ")
    off4 = body.index(b"4 0 obj")
    xoff = len(body)
    body += (b"xref\n0 1\n0000000000 65535 f \n4 1\n%010d 00000 n \n"
             b"6 2\n%010d 00000 n \n%010d 00000 n \n" % (off4, off6, off7))
    tail = b"trailer\n<< /Size 8 /Root 1 0 R /XRefStm %s >>\nstartxref\n%d\n%%%%EOF\n"
    cases["hybrid_xrefstm"] = bytes(body) + tail % (b"%d" % off7, xoff)
    cases["hybrid_xrefstm_bad"] = bytes(body) + tail % (b"%d" % off4, xoff)
    cases["hybrid_xrefstm_past_eof"] = bytes(body) + tail % (b"999999", xoff)
    cases["hybrid_xrefstm_bool"] = bytes(body) + tail % (b"true", xoff)
    # recovery: duplicates (the last one wins), `obj` inside stream data,
    # an ObjStm catalog, the /XRef root, the /Catalog fallback, trailers
    # that do not parse, no objects at all
    dup = _objects()
    cases["rec_duplicate_objects"] = _recovered(_pdf(dup)).replace(
        b"startxref", b"4 0 obj\n<< /Length 13 >>\nstream\nBT (Dup) Tj ET\n"
        b"endstream\nendobj\nstartxref", 1)
    cases["rec_obj_in_stream"] = _recovered(_pdf(_objects(
        content=b"BT /F1 12 Tf (1 0 obj << /Type /Catalog >>) Tj ET 7 0 obj")))
    cases["rec_obj_in_stream_late"] = _recovered(_pdf({**_objects(), 6: (
        b"<< /Length 20 >>\nstream\n3 0 obj\n<< /X 1 >>\nendstream")}))
    cases["rec_xs_objstm"] = _recovered(cases["xs_objstm"])
    cases["rec_xs_root"] = _recovered(cases["xs_plain"])
    cases["rec_xs_no_root"] = _recovered(_xs_pdf(objs, trailer=b""))
    cases["rec_trailer_no_root"] = _recovered(_pdf(objs, trailer=b""))
    cases["rec_trailer_junk_after"] = _recovered(plain) + b"%trailer junk\n"
    cases["rec_trailer_not_dict"] = _recovered(plain) + b"trailer 12 0 R\n"
    cases["rec_trailer_eof"] = _recovered(plain) + b"trailer"
    cases["rec_trailer_brace"] = _recovered(plain) + b"trailer {\n"
    cases["rec_no_catalog"] = _recovered(_pdf({
        k: v.replace(b"/Catalog", b"/Katalog") for k, v in objs.items()},
        trailer=b""))
    cases["rec_no_objects"] = b"%PDF-1.4\nnothing here\n%%EOF\n"
    cases["rec_long_number"] = _recovered(plain) + b"1234567890123456789012 0 obj\n"
    cases["rec_header_shapes"] = _recovered(plain) + (
        b"x12 0 obj\n13 0 objx\n14\t0\x0bobj\n15 0 obj_\n16  0\r\nobj\n99 0 obj")
    cases["rec_objstm_n_ref"] = _recovered(cases["xs_objstm_n_ref"])
    cases["rec_objstm_bad_zlib"] = _recovered(cases["xs_objstm"]).replace(
        b"/Filter /FlateDecode >>", b"/Filter /FooDecode >>")
    lzw = _objects(content=lzw_encode(_CONTENT, 0),
                   content_dict=b"/Filter /LZWDecode "
                                b"/DecodeParms << /EarlyChange 0 >>")
    cases["lzw_early_change_0"] = _pdf(lzw)
    return cases


def _crafted_skeleton_cases():
    from oxidizepdf_spark.corpus import (
        build_encrypted_pdf,
        build_pdf_incremental_update,
        build_pdf_with_content_stream,
        build_pdf_xref_stream,
    )

    cases = {"plain": _pdf(_objects())}
    cases["prev_cycle"] = _prev_cycle_pdf(self_loop=False)
    cases["prev_self_loop"] = _prev_cycle_pdf(self_loop=True)
    cases["incremental_update"] = build_pdf_incremental_update(
        b"BT /F1 12 Tf 72 700 Td (Updated) Tj ET")
    # /Kids cycles: the root lists itself, an intermediate node lists its
    # parent, and one page appears twice
    kids = _objects()
    kids[2] = (b"<< /Type /Pages /Kids [3 0 R 2 0 R 6 0 R 3 0 R] /Count 2 "
               b"/Resources << /Font << /F1 5 0 R >> >> >>")
    kids[6] = b"<< /Type /Pages /Kids [2 0 R 7 0 R] /Count 1 >>"
    kids[7] = b"<< /Type /Page /Contents 4 0 R >>"
    cases["kids_cycle"] = _pdf(kids)
    cases["tree_depth_64"] = _deep_tree_pdf(64)
    cases["tree_deeper_than_max"] = _deep_tree_pdf(70)
    # inherited Resources/MediaBox/CropBox/Rotate, one page overriding
    inh = _objects(pages_extra=b"/MediaBox [0 0 500 400] /CropBox [1 1 2 2] "
                   b"/Rotate 90 ")
    inh[2] = inh[2].replace(b"/Kids [3 0 R]", b"/Kids [3 0 R 6 0 R 8 0 R]")
    inh[6] = (b"<< /Type /Page /Contents 4 0 R /MediaBox 7 0 R /Rotate 180 "
              b"/Resources << >> >>")
    inh[7] = b"[0 0 300 300]"
    inh[8] = b"<< /Contents 4 0 R /Resources 9 0 R >>"  # no /Type: leaf
    inh[9] = b"<< /Font << /F1 5 0 R >> /ProcSet [/PDF /Text] >>"
    cases["inherited_attrs"] = _pdf(inh)
    # /Contents arrays: a dangling ref, a free entry, a non-stream
    arr = _objects(page_extra=b"")
    arr[3] = arr[3].replace(b"/Contents 4 0 R",
                            b"/Contents [4 0 R 99 0 R 6 0 R 4 0 R 5 0 R]")
    cases["contents_dangling_ref"] = _pdf(arr, offsets={6: 0})
    direct = _objects()
    direct[3] = direct[3].replace(b"/Contents 4 0 R", b"/Contents [4 0 R]")
    cases["contents_array"] = _pdf(direct)
    cases["indirect_length"] = build_pdf_with_content_stream(
        _CONTENT, indirect_length=True)
    # an indirect /Length naming the stream itself, a missing object, a
    # wrong length, a chain of refs, and an int inside an object stream
    for label, length, extra in (
            ("self", b"4 0 R", {}),
            ("missing", b"42 0 R", {}),
            ("wrong", b"6 0 R", {6: b"3"}),
            ("chain", b"6 0 R", {6: b"7 0 R", 7: b"%d" % len(_CONTENT)})):
        objs = {**_objects(), **extra}
        objs[4] = objs[4].replace(b"/Length %d" % len(_CONTENT),
                                  b"/Length " + length)
        cases["indirect_length_" + label] = _pdf(objs)
    objs = _objects()
    objs[4] = objs[4].replace(b"/Length %d" % len(_CONTENT), b"/Length 7 0 R")
    cases["indirect_length_objstm"] = _xs_pdf(
        {k: v for k, v in objs.items() if k != 5},
        {5: objs[5], 7: b"%d" % len(_CONTENT)}, container=8)
    cases["length_too_long"] = build_pdf_with_content_stream(
        _CONTENT, length_delta=7)
    cases["length_too_short"] = build_pdf_with_content_stream(
        _CONTENT, length_delta=-5)
    # the EOL after `stream` and before `endstream`, with a right and a
    # wrong /Length (the wrong one takes the lenient endstream search)
    for eol in (b"\r\n", b"\r", b"\n"):
        for length in (len(_CONTENT), 999, None):
            objs = _objects()
            objs[4] = (b"<< %s>>\nstream%s%s%sendstream" % (
                b"" if length is None else b"/Length %d " % length,
                eol, _CONTENT, eol))
            cases[f"eol_{eol.hex()}_length_{length}"] = _pdf(objs)
    for tags in (b"\x02", b"\x00\x02", b"\x01\x03\x04\x02"):
        payload = _flate_predictor_content(tags)
        cases[f"flate_predictor_{tags.hex()}"] = _pdf(_objects(
            content=payload,
            content_dict=b"/Filter /FlateDecode "
                         b"/DecodeParms << /Predictor 12 /Columns 4 >>"))
    cases["flate_parms_ref"] = _pdf({**_objects(
        content=_flate_predictor_content(b"\x02"),
        content_dict=b"/Filter /FlateDecode /DecodeParms 6 0 R"),
        6: b"<< /Predictor 12 /Columns 4 >>"})
    cases["null_filter_with_parms"] = _pdf(_objects(
        content_dict=b"/Filter null /DP << /Predictor 1 >>"))
    cases["unknown_filter"] = _pdf(_objects(
        content_dict=b"/Filter /FooDecode"))
    for name in ("FlateDecode", "LZWDecode", "ASCIIHexDecode", "AHx+Fl"):
        cases[f"filter_{name}"] = build_pdf_with_content_stream(
            _CONTENT, content_filter=name)
    # a stream cut off before its endstream: in a file cut short, and as
    # the last object of an intact file (no endstream anywhere after it)
    plain = _pdf(_objects())
    cut = plain.index(b"endstream")
    cases["truncated_file"] = plain[:cut - 10]
    cut_objs = _objects()
    cut_objs[6] = b"<< /Length 500 >>\nstream\n" + _CONTENT[:20]
    cut_objs[3] = cut_objs[3].replace(b"/Contents 4 0 R", b"/Contents 6 0 R")
    cases["truncated_stream"] = _pdf(cut_objs)
    # object 4's xref entry points at object 5
    out, offs = _body(_objects())
    cases["wrong_object_offset"] = _pdf(_objects(), offsets={4: offs[5]})
    cases["offset_past_eof"] = _pdf(_objects(), offsets={4: 10**9})
    cases["missing_root"] = _pdf(_objects(), trailer=b"")
    cases["root_not_a_dict"] = _pdf({**_objects(), 6: b"[1 2]"},
                                   trailer=b"/Root 6 0 R")
    cases["prev_float"] = _pdf(_objects(), trailer=b"/Root 1 0 R /Prev 9.5")
    cases["prev_bool"] = _pdf(_objects(), trailer=b"/Root 1 0 R /Prev true")
    cases["xrefstm_int"] = _pdf(_objects(),
                                trailer=b"/Root 1 0 R /XRefStm 123")
    cases["encrypted_rc4"] = build_encrypted_pdf("secret text")
    cases["encrypted_aes"] = build_encrypted_pdf("aes text", method="aes-128")
    cases["xref_stream"] = build_pdf_xref_stream(_CONTENT)
    cases["xref_stream_objstm"] = build_pdf_xref_stream(_CONTENT,
                                                        use_objstm=True)
    cases["no_startxref"] = plain.replace(b"startxref", b"startxrex")
    # ';' ends tokens in content streams only: `trailer;`, `stream;`,
    # `obj;`, `R;` and `/Na;me` are other tokens to the object lexer
    cases["semicolon_trailer"] = plain.replace(b"trailer\n", b"trailer;\n")
    cases["semicolon_stream"] = plain.replace(b">>\nstream\n", b">>\nstream;\n")
    cases["semicolon_obj"] = plain.replace(b"3 0 obj\n", b"3 0 obj;\n")
    cases["semicolon_ref"] = plain.replace(b"/Contents 4 0 R", b"/Contents 4 0 R;")
    cases["semicolon_name"] = plain.replace(b"/Type /Page ", b"/Type /Pa;ge ")
    cases.update(_crafted_open_cases())
    return cases


def test_differential_skeleton_crafted():
    """C skeleton (xref_chain, get_object, flatten_pages, page_content) vs
    the pure-Python authority on crafted structure: /Prev and /Kids cycles,
    tree depth around MAX_TREE_DEPTH, inheritance, dangling and free
    /Contents refs, indirect /Length, predictors, unknown filters,
    truncated streams, wrong-object offsets, a missing /Root and encrypted
    documents — in lenient and strict readers."""
    for label, data in _crafted_skeleton_cases().items():
        _assert_same_skeleton(data, label)


def test_differential_skeleton_corpus_catalog():
    """Every PDF of the corpus catalog, plus its corrupted variants from a
    generated corpus, through both skeleton paths."""
    from oxidizepdf_spark.corpus import all_cases, generate_corpus
    from oxidizepdf_spark.kernel.extract import decode_raw_payload

    for case, pdf, _expected in all_cases():
        _assert_same_skeleton(pdf, case)
    for in_row, _ in generate_corpus(n_docs=300, seed=7, mega_doc_rate=0.0):
        for s in in_row["spans"]:
            if s["kind"] == "raw_pdf":
                _assert_same_skeleton(decode_raw_payload(s["text"] or ""),
                                      (in_row["doc_id"], in_row["case"]))


def test_differential_skeleton_mutations():
    """Random byte edits of the crafted documents (overwrites, inserted
    PDF tokens, deletions, truncation) through both skeleton paths."""
    import random

    cases = list(_crafted_skeleton_cases().values())
    tokens = [b"R", b" ", b"<<", b">>", b"[", b"]", b"/", b"(", b")", b"%",
              b"\n", b"\r", b"0", b"9", b"-", b".", b"#", b"<", b">", b";",
              b"\x00", b"endstream", b"obj", b"trailer", b"xref", b"/Prev 0",
              b"/Kids", b"/Type /Page"]
    rng = random.Random(2)
    for _ in range(1200):
        data = bytearray(rng.choice(cases))
        for _edit in range(rng.randrange(1, 4)):
            i = rng.randrange(len(data))
            op = rng.random()
            if op < 0.3:
                data[i] = rng.randrange(256)
            elif op < 0.6:
                data[i:i] = rng.choice(tokens)
            elif op < 0.8:
                del data[i:i + rng.randrange(1, 8)]
            else:
                del data[max(i, 16):]
        data = bytes(data)
        for lenient in (True, False):
            got_c, got_py = _both_paths(lambda: _skeleton(data, lenient))
            assert got_c == got_py, (data, lenient)


def test_skeleton_fast_path_taken():
    """The crafted documents open, flatten and assemble in C (no bail):
    classic and xref-stream chains (an xref stream with an indirect
    /Length, an int /XRefStm at non-object bytes), a recovery, a recovered
    reader's fetch, page tree and contents, an object-stream member, a
    stream with an indirect /Length and an LZW payload; and each listed
    shape bails to Python."""
    from oxidizepdf_spark.corpus import lzw_encode
    from oxidizepdf_spark.kernel.filters import MAX_DECOMPRESSED_SIZE
    from oxidizepdf_spark.kernel.pages import MAX_TREE_DEPTH, Page
    from oxidizepdf_spark.kernel.reader import PdfReader

    ck = C._CSCAN
    cases = _crafted_skeleton_cases()
    for label, mode in (("plain", "strict"), ("xref_stream", "strict"),
                        ("xref_stream_objstm", "strict"),
                        ("xs_prev_classic", "strict"),
                        ("hybrid_xrefstm", "strict"),
                        ("xrefstm_int", "strict"),
                        ("xs_indirect_length", "strict"),
                        ("no_startxref", "recovered"),
                        ("rec_xs_objstm", "recovered")):
        r = ck.xref_chain(cases[label], True)
        assert r is not None and r[2] == mode, label
    assert ck.recover_xref(cases["rec_duplicate_objects"]) is not None
    for label in ("plain", "no_startxref", "missing_root", "rec_xs_objstm",
                  "xref_stream_objstm"):
        rdr = PdfReader(cases[label])
        pages = ck.flatten_pages(rdr, Page, MAX_TREE_DEPTH)
        assert pages is not None and len(pages) == 1, label
        assert ck.page_content(rdr, pages[0].dict["Contents"],
                               None) == _CONTENT, label
        assert ck.get_object(rdr, 1, 0) is not ck.BAIL, label
    # a compressed entry: the catalog inside the object stream
    rdr = PdfReader(cases["xref_stream_objstm"])
    assert rdr.xref[1][0] == "c"
    assert ck.get_object(rdr, 1, 0)["Type"] == "Catalog"
    assert rdr._objstm_cache
    assert ck.lzw_decode(lzw_encode(_CONTENT), 1,
                         MAX_DECOMPRESSED_SIZE) == _CONTENT
    for label in ("prev_float", "semicolon_trailer", "hybrid_xrefstm_bool",
                  "rec_long_number"):
        assert ck.xref_chain(cases[label], True) is None, label
    for label in ("encrypted_rc4",):
        rdr = PdfReader(cases[label])
        assert ck.flatten_pages(rdr, Page, MAX_TREE_DEPTH) is None, label
        assert ck.get_object(rdr, 1, 0) is ck.BAIL, label
    indirect = re.search(rb"(\d+) 0 obj\s*<< /Length \d+ 0 R",
                         cases["indirect_length"])
    rdr = PdfReader(cases["indirect_length"])
    stm = ck.get_object(rdr, int(indirect.group(1)), 0)
    assert stm is not ck.BAIL and stm.raw == _CONTENT
    for label, num in (("wrong_object_offset", 4),
                       ("contents_dangling_ref", 99),
                       ("xs_objstm_n_ref", 1),
                       ("xs_objstm_own_container", 6)):
        rdr = PdfReader(cases[label])
        assert ck.get_object(rdr, num, 0) is ck.BAIL, label


def _lzw_pack(codes) -> bytes:
    """(code, width) pairs packed MSB-first, zero-padded to a byte."""
    buf = nbits = 0
    out = bytearray()
    for code, width in codes:
        buf = (buf << width) | code
        nbits += width
        while nbits >= 8:
            out.append((buf >> (nbits - 8)) & 0xFF)
            nbits -= 8
    if nbits:
        out.append((buf << (8 - nbits)) & 0xFF)
    return bytes(out)


def test_differential_lzw(monkeypatch):
    """The C decode_lzw vs the Python loop: both early-change rules,
    Clear codes mid-stream, a table grown past 4,096 entries, invalid
    initial and later codes, a missing EOD, odd early-change values, random
    bytes, and output over the size cap."""
    import random

    from oxidizepdf_spark.corpus import lzw_encode
    from oxidizepdf_spark.kernel import filters as F

    def both(data, early=1):
        def run():
            try:
                return F.decode_lzw(data, early)
            except Exception as e:
                return _err(e)

        got_c, got_py = _both_paths(run)
        assert got_c == got_py, (data[:40], early)
        return got_c

    rng = random.Random(5)
    texts = [b"", b"a", _CONTENT, b"abababababababababab" * 50,
             bytes(rng.randrange(256) for _ in range(9000)),
             bytes(rng.randrange(4) for _ in range(30000))]
    for text in texts:
        for enc in (0, 1):
            for dec in (0, 1):
                got = both(lzw_encode(text, enc), dec)
                if enc == dec and len(text) < 9000:
                    assert got == text
    clear_mid = _lzw_pack([(256, 9), (65, 9), (66, 9), (258, 9), (256, 9),
                           (67, 9), (68, 9), (258, 9), (259, 9), (257, 9)])
    assert both(clear_mid) == b"ABABCDCDDC"
    for codes in ([(256, 9), (300, 9)],            # invalid initial code
                  [(65, 9), (400, 9)],             # invalid later code
                  [(65, 9), (258, 9)],             # code == table size
                  [(65, 9), (66, 9), (67, 9)],     # no EOD
                  [(256, 9), (257, 9), (65, 9)],   # EOD first
                  [(257, 9)]):
        both(_lzw_pack(codes))
    for early in (2, -1, 300, 5000):
        both(lzw_encode(_CONTENT * 20, 1), early)
    for _ in range(300):
        both(bytes(rng.randrange(256) for _ in range(rng.randrange(1, 80))),
             rng.choice((0, 1)))
    monkeypatch.setattr(F, "MAX_DECOMPRESSED_SIZE", 1000)
    got = both(lzw_encode(b"x" * 5000))
    assert got == ("ERR", "FilterError", "LZW output exceeds size limit")


# -- fonts and text decode: parse_cmap, the per-font code table ------------


def _num(v):
    return (type(v).__name__, repr(v))


def _cmap_key(cm):
    if cm is None:
        return None
    return (
        _num(cm.name), cm.cmap_type, _num(cm.wmode), cm.codespace_ranges,
        cm.ranges, sorted(cm.single.items()), sorted(cm.cid_singles.items()),
        cm.cid_ranges, cm.notdef_ranges, cm.inherited_predefined,
    )


def _font_key(fi):
    """Every FontInfo field the decode and width paths read, type-strict
    (the memo caches _decode_table and _code_table are left out)."""
    if fi is None:
        return None
    return (
        _num(fi.name), _num(fi.font_type), _num(fi.encoding),
        _cmap_key(fi.to_unicode),
        None if fi.differences is None else sorted(
            (_num(k), _num(v)) for k, v in fi.differences.items()),
        _font_key(fi.descendant_font), _num(fi.cid_ordering),
        _cmap_key(fi.encoding_cmap), _num(fi.first_char),
        _num(fi.last_char),
        None if fi.widths is None else (
            type(fi.widths).__name__, [_num(w) for w in fi.widths]),
        _num(fi.missing_width), fi.cid_widths, _num(fi.cid_default_width),
    )


def _font_run(data: bytes, layout: bool = False):
    """Per page: the fonts extract_page_fonts builds, then the page run
    (spans, text, raw and finalized fragments); at the end the document's
    FontInfo cache and every run-memo entry (decoded text and unit width,
    bit-strict) keyed by font fields and fallback class."""
    from oxidizepdf_spark.kernel.content import parse_and_run
    from oxidizepdf_spark.kernel.fonts import extract_page_fonts
    from oxidizepdf_spark.kernel.pages import flatten_page_tree, page_content
    from oxidizepdf_spark.kernel.reader import PdfReader
    from oxidizepdf_spark.kernel.textstate import ExtractionOptions, Interpreter

    try:
        rdr = PdfReader(data, lenient=True)
        pages = flatten_page_tree(rdr)
    except Exception as e:
        return _err(e)
    opts = ExtractionOptions(preserve_layout=layout)
    out = []
    for idx, page in enumerate(pages):
        try:
            fonts = extract_page_fonts(page.resources, rdr)
            content = page_content(rdr, page)
        except Exception as e:
            out.append(_err(e))
            continue
        out.append(sorted(((k, type(k).__name__, _font_key(v))
                           for k, v in fonts.items()), key=repr))
        interp = Interpreter(reader=rdr, fonts=fonts, options=opts,
                             page_index=idx)
        try:
            parse_and_run(interp, content, page.resources)
            err = None
        except Exception as e:
            err = _err(e)
        raw = [_frag_key(f) for f in interp.fragments]
        res = interp.finalize()
        out.append((err, res.spans, res.text, raw,
                    [_frag_key(f) for f in res.fragments]))
    out.append(sorted(((k, _font_key(v))
                       for k, v in rdr._fontinfo_cache.items()), key=repr))
    out.append(sorted((
        ((_font_key(info), cls),
         sorted(((b, d, repr(w)) for b, (d, w) in memo.items()), key=repr))
        for (info, cls), memo in rdr._span_decode_memo.items()), key=repr))
    return out


def _assert_same_fonts(data: bytes, label):
    for layout in (False, True):
        got_c, got_py = _both_paths(lambda: _font_run(data, layout))
        assert got_c == got_py, (label, layout)
    got_c, got_py = _both_paths(lambda: _extract_all(data))
    assert got_c == got_py, label


def _stm(body: bytes, extra: bytes = b"") -> bytes:
    return b"<< /Length %d %s>>\nstream\n%s\nendstream" % (
        len(body), extra, body)


def _font_pdf(font: bytes, content: bytes, extra: dict | None = None,
              **kw) -> bytes:
    objs = _objects(content=content, **kw)
    objs[5] = font
    objs.update(extra or {})
    return _pdf(dict(sorted(objs.items())))


_ALL_BYTES = b"".join(
    b"(%s) Tj " % bytes(b for b in range(i, i + 16)
                         if b not in b"()\\\r\n")
    for i in range(0, 256, 16))
_SHOW = (b"BT /F1 12 Tf 72 700 Td (Hello) Tj [(Wor) -250 (ld)] TJ "
         b"<00480069> Tj <41424300> Tj (a  b) Tj (   ) Tj () Tj "
         + _ALL_BYTES + b"ET")

_CMAP_2BYTE = b"""/CIDInit /ProcSet findresource begin
12 dict begin begincmap /CMapName /Test-UCS def /WMode 1 def
1 begincodespacerange <0000> <FFFF> endcodespacerange
4 beginbfchar <0003> <0020> <0011> <D83DDE00> <0048> <0048>
<0012> <D800> endbfchar
5 beginbfrange <0024> <0026> [<0041> <00420043> <>]
<00FE> <0101> <FFFE> <0040> <0042> <0061> <0069> <0069> <E282AC>
<01FE> <0201> [<0050> <0051> <0052> <0053>]
endbfrange
endcmap CMapName currentdict /CMap defineresource pop end end"""

_CMAP_1BYTE = b"""begincmap /WMode -255 def
1 begincodespacerange <00> <FF> endcodespacerange
2 beginbfchar <41> <0058> <20> <0020> endbfchar
3 beginbfrange <61> <63> [<0031> <0032>] <64> <66> <0044> <FE> <FF> <FFFF>
endbfrange endcmap"""


def _crafted_font_cases(show: bytes = _SHOW):
    import zlib

    helv = b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica %s>>"
    tt = b"<< /Type /Font /Subtype /TrueType /BaseFont /ABCDEF+Custom %s>>"
    type0 = (b"<< /Type /Font /Subtype /Type0 /BaseFont /Dummy "
             b"/Encoding /Identity-H /DescendantFonts [6 0 R] %s>>")
    cid = (b"<< /Type /Font /Subtype /CIDFontType2 /BaseFont /Dummy "
           b"/CIDSystemInfo << /Registry (Adobe) /Ordering (Identity) "
           b"/Supplement 0 >> /DW 900 >>")
    cases = {}
    cases["std14_plain"] = _font_pdf(helv % b"", show)
    cases["std14_differences"] = _font_pdf(helv % (
        b"/Encoding << /BaseEncoding /WinAnsiEncoding /Differences [65 /B /C "
        b"97 /uni00E9 /bullet /u1F600 /notaglyph /space -1 /Euro 300 /fi "
        b"true /A 2.5 (x) /uniD800] >> "), show)
    cases["macroman"] = _font_pdf(
        helv.replace(b"Helvetica", b"Times-BoldItalic")
        % b"/Encoding /MacRomanEncoding ", show)
    cases["encoding_ref"] = _font_pdf(
        helv % b"/Encoding 6 0 R ", show,
        {6: b"<< /Differences [72 /H.alt /e 104 /uni0048] >>"})
    cases["truetype_widths"] = _font_pdf(tt % (
        b"/FirstChar 65 /LastChar 70 /Widths [500 600 700.5 /x null true] "
        b"/FontDescriptor 6 0 R /Encoding /WinAnsiEncoding "), show,
        {6: b"<< /Type /FontDescriptor /MissingWidth 333.25 >>"})
    cases["truetype_no_widths"] = _font_pdf(tt % b"", show)
    cases["missing_firstchar"] = _font_pdf(
        tt % b"/Widths 6 0 R /LastChar 300 ", show,
        {6: b"[" + b" ".join(b"%d" % (250 + i) for i in range(120)) + b"]"})
    cases["type1_tounicode"] = _font_pdf(
        tt % b"/ToUnicode 6 0 R /Widths [600 700] /FirstChar 97 ", show,
        {6: _stm(_CMAP_1BYTE)})
    cases["identity_h_tounicode"] = _font_pdf(
        type0 % b"/ToUnicode 7 0 R ", show, {6: cid, 7: _stm(_CMAP_2BYTE)})
    cases["identity_h_flate_tounicode"] = _font_pdf(
        type0 % b"/ToUnicode 7 0 R ", show,
        {6: cid, 7: _stm(zlib.compress(_CMAP_2BYTE), b"/Filter /FlateDecode ")})
    cases["identity_h_bad_flate"] = _font_pdf(
        type0 % b"/ToUnicode 7 0 R ", show,
        {6: cid, 7: _stm(b"not zlib", b"/Filter /FlateDecode ")})
    cases["tounicode_3byte"] = _font_pdf(
        type0 % b"/ToUnicode 7 0 R ", show,
        {6: cid, 7: _stm(b"1 beginbfchar <414243> <0058> endbfchar "
                         b"1 beginbfrange <0048> <0049> <0061> endbfrange")})
    cases["tounicode_usecmap"] = _font_pdf(
        type0 % b"/ToUnicode 7 0 R ", show,
        {6: cid, 7: _stm(b"/Identity-H usecmap " + _CMAP_2BYTE)})
    cases["type0_self_descendant"] = _font_pdf(
        b"<< /Type /Font /Subtype /Type0 /BaseFont /Loop "
        b"/Encoding /Identity-H /DescendantFonts [5 0 R] >>", _CONTENT)
    cases["type0_cjk"] = _font_pdf(
        b"<< /Type /Font /Subtype /Type0 /BaseFont /SimSun "
        b"/Encoding /GBK-EUC-H /DescendantFonts [6 0 R] >>",
        b"BT /F1 12 Tf <c4e3bac3> Tj (Hi) Tj ET",
        {6: b"<< /Type /Font /Subtype /CIDFontType0 /BaseFont /SimSun "
            b"/CIDSystemInfo << /Registry (Adobe) /Ordering (GB1) "
            b"/Supplement 2 >> >>"})
    cases["type0_encoding_stream"] = _font_pdf(
        b"<< /Type /Font /Subtype /Type0 /BaseFont /X /Encoding 7 0 R "
        b"/DescendantFonts [6 0 R] >>", show,
        {6: cid, 7: _stm(b"1 begincidrange <0000> <FFFF> 0 endcidrange")})
    cases["type3"] = _font_pdf(
        b"<< /Type /Font /Subtype /Type3 /FontBBox [0 0 1 1] "
        b"/FontMatrix [0.001 0 0 0.001 0 0] /CharProcs << >> "
        b"/Encoding << /Differences [72 /H /e] >> /FirstChar 72 "
        b"/LastChar 101 /Widths [500 600] >>", show)
    cases["fontfile_widths"] = _font_pdf(
        tt % b"/FontDescriptor 6 0 R ", show,
        {6: b"<< /Type /FontDescriptor /FontFile2 7 0 R >>",
         7: _stm(b"\x00\x01\x00\x00 not a font")})
    # fonts from the page tree: inherited from /Pages, overridden on a
    # second page, and one font Ref shared by two pages
    shared = _objects(content=show)
    shared[2] = shared[2].replace(b"/Kids [3 0 R]", b"/Kids [3 0 R 6 0 R 7 0 R]")
    shared[6] = (b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R "
                 b"/Resources << /Font << /F1 8 0 R /F2 5 0 R >> >> >>")
    shared[7] = b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>"
    shared[8] = tt % b"/Widths [1 2 3] /FirstChar 72 "
    cases["shared_and_inherited"] = _pdf(shared)
    return cases


def test_differential_fonts_crafted():
    """C font build and code-table decode vs the Python authority: fonts,
    FontInfo cache, run memo (decoded text and unit width), spans and
    layout-mode fragment widths — Standard-14 with /Differences, TrueType
    with and without /Widths, a missing /FirstChar, ToUnicode CMaps
    (1- and 2-byte, bfrange array form, a wrapping range, filtered and
    broken streams, 3-byte codes, usecmap), Type3, CJK and encoding-CMap
    Type0 fonts, an embedded FontFile2, fonts inherited through the page
    tree and shared by two pages, and a Type0 font that is its own
    descendant."""
    for label, data in _crafted_font_cases().items():
        _assert_same_fonts(data, label)


def test_differential_fonts_corpus_catalog():
    from oxidizepdf_spark.corpus import all_cases, generate_corpus
    from oxidizepdf_spark.kernel.extract import decode_raw_payload

    for case, pdf, _expected in all_cases():
        _assert_same_fonts(pdf, case)
    for in_row, _ in generate_corpus(n_docs=150, seed=11, mega_doc_rate=0.0):
        for s in in_row["spans"]:
            if s["kind"] == "raw_pdf":
                _assert_same_fonts(decode_raw_payload(s["text"] or ""),
                                   (in_row["doc_id"], in_row["case"]))


def test_differential_fonts_mutations():
    """Seeded edits of font dicts and ToUnicode CMap bodies (the xref
    stays valid, so every edit reaches the font build and the decode)."""
    import random

    fonts = [
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica /Encoding "
        b"<< /Differences [65 /B /C 97 /uni00E9] >> >>",
        b"<< /Type /Font /Subtype /TrueType /BaseFont /Custom /FirstChar 65 "
        b"/LastChar 70 /Widths [500 600 700.5] /FontDescriptor 6 0 R >>",
        b"<< /Type /Font /Subtype /Type0 /BaseFont /Dummy /Encoding "
        b"/Identity-H /DescendantFonts [6 0 R] /ToUnicode 7 0 R >>",
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Custom "
        b"/ToUnicode 7 0 R >>",
    ]
    cmaps = [_CMAP_1BYTE, _CMAP_2BYTE]
    tokens = [b"/Widths", b"[", b"]", b"<", b">", b"<<", b">>", b"0", b"-1",
              b"255", b"99999999999999999999", b"/Differences", b"/FirstChar",
              b" 5 0 R", b" 6 0 R", b"beginbfrange", b"endbfrange",
              b"beginbfchar", b"usecmap", b"<FFFF>", b"<D800>", b"/Type0",
              b"/Type3", b"%", b"\n", b"(", b")", b"/Subtype", b"<0041>",
              b"begincodespacerange", b"/WMode", b"2.5", b"true", b"null"]
    rng = random.Random(5)

    def mutate(body: bytes) -> bytes:
        data = bytearray(body)
        for _edit in range(rng.randrange(1, 4)):
            i = rng.randrange(len(data))
            op = rng.random()
            if op < 0.3:
                data[i] = rng.randrange(256)
            elif op < 0.7:
                data[i:i] = rng.choice(tokens)
            else:
                del data[i:i + rng.randrange(1, 6)]
        return bytes(data)

    for _ in range(250):
        font, cmap = rng.choice(fonts), rng.choice(cmaps)
        if rng.random() < 0.5:
            font = mutate(font)
        else:
            cmap = mutate(cmap)
        data = _font_pdf(font, _SHOW, {
            6: b"<< /Type /Font /Subtype /CIDFontType2 /MissingWidth 250 "
               b"/DW 800 >>",
            7: _stm(cmap)})
        got_c, got_py = _both_paths(lambda: _font_run(data))
        assert got_c == got_py, (font, cmap)


def test_font_fast_path_taken(monkeypatch):
    """The corpus's Helvetica, ToUnicode Type1 and Identity-H fonts decode
    every run natively (no Python _decode call), and Type3 and a CJK
    Type0 font bail to Python; a ToUnicode stream parses in C, a usecmap
    ToUnicode and an embedded encoding CMap (cid sections) bail to the
    Python CMap.parse."""
    from oxidizepdf_spark.corpus import all_cases
    from oxidizepdf_spark.kernel.cmap import tokenize_cmap
    from oxidizepdf_spark.kernel.extract import extract_pdf_bytes
    from oxidizepdf_spark.kernel.fonts import extract_page_fonts
    from oxidizepdf_spark.kernel.pages import flatten_page_tree
    from oxidizepdf_spark.kernel.reader import PdfReader
    from oxidizepdf_spark.kernel.textstate import Interpreter

    calls = []
    orig = Interpreter._decode

    def counting(self, tb):
        calls.append((self.state.font_name, tb))
        return orig(self, tb)

    monkeypatch.setattr(Interpreter, "_decode", counting)
    ck = C._CSCAN
    catalog = {case: pdf for case, pdf, _ in all_cases()}
    for case in ("X01", "X12", "X13", "X14", "X15"):
        calls.clear()
        assert extract_pdf_bytes(catalog[case]).spans
        assert calls == [], case
    cases = _crafted_font_cases()
    for label in ("type3", "type0_cjk"):
        calls.clear()
        extract_pdf_bytes(cases[label])
        assert calls, label
    # which CMaps the Python parser reads (its tokenizer runs under the
    # C parse_cmap's bails; seen through the profiler, since fonts.py
    # calls CMap.parse directly)
    py_parsed = []

    def profile(frame, event, _arg):
        if event == "call" and frame.f_code is tokenize_cmap.__code__:
            py_parsed.append(frame.f_locals["data"])

    def fonts_of(label):
        rdr = PdfReader(cases[label])
        py_parsed.clear()
        sys.setprofile(profile)
        try:
            return extract_page_fonts(flatten_page_tree(rdr)[0].resources,
                                      rdr)
        finally:
            sys.setprofile(None)

    for label in ("tounicode_usecmap", "type0_encoding_stream"):
        fonts_of(label)
        assert len(py_parsed) == 1, label
        assert ck.parse_cmap(py_parsed[0]) is ck.BAIL, label
    fi = fonts_of("identity_h_tounicode")["F1"]
    assert py_parsed == []
    assert fi.to_unicode.name == "Test-UCS" and fi.to_unicode.wmode == 1
    assert ck.parse_cmap(bytearray(_CMAP_2BYTE)) is ck.BAIL


def test_type0_self_descendant_extracts():
    """A Type0 font whose /DescendantFonts lists itself: the descendant
    is not followed (it must be a CIDFont), so the page extracts instead
    of failing with RecursionError — on both paths."""
    data = _crafted_font_cases()["type0_self_descendant"]
    got_c, got_py = _both_paths(lambda: _extract_all(data))
    assert got_c == got_py
    spans, n_pages, error, _mode = got_c
    assert spans == [("text", "Hello", None)] and error is None


def test_xref_stream_indirect_length_extracts():
    """An xref stream whose /Length is indirect is read while the xref is
    being built, when the reference cannot resolve: the lenient endstream
    search finds the payload and the document extracts (it used to end as
    internal:AttributeError); a strict reader reports the unresolvable
    xref. Both paths agree."""
    from oxidizepdf_spark.kernel.extract import extract_pdf_bytes
    from oxidizepdf_spark.kernel.textstate import ExtractionOptions

    data = _crafted_skeleton_cases()["xs_indirect_length"]
    for opts, want in ((None, ([("text", "Hello", None)], None)),
                       (ExtractionOptions(error_mode="strict"),
                        ([], "parse:xref unresolvable (strict mode)"))):
        def run():
            res = extract_pdf_bytes(data, opts)
            return res.spans, res.error

        got_c, got_py = _both_paths(run)
        assert got_c == got_py == want


# -- the page loop (run_pages) against the Python page loop ---------------


def _doc_run(data: bytes, options=None):
    """extract_pdf_bytes' whole result, plus what the document's reader
    holds afterwards: the object-cache and FontInfo-cache keys in
    insertion order, and every run-memo entry keyed by font fields."""
    from oxidizepdf_spark.kernel import extract as E

    readers = []

    class Recording(E.PdfReader):
        __slots__ = ()

        def __init__(self, *a, **k):
            readers.append(self)
            super().__init__(*a, **k)

    saved = E.PdfReader
    E.PdfReader = Recording
    try:
        res = E.extract_pdf_bytes(data, options)
    finally:
        E.PdfReader = saved
    out = [res.spans, res.page_texts,
           [[_frag_key(f) for f in page] for page in res.page_fragments],
           res.n_pages, res.mode, res.error]
    for rdr in readers:
        if not hasattr(rdr, "xref"):
            continue
        out.append(list(rdr._cache))
        out.append([(k, _font_key(v)) for k, v in rdr._fontinfo_cache.items()])
        out.append(sorted((
            ((_font_key(info), cls),
             sorted(((b, d, repr(w)) for b, (d, w) in memo.items()),
                    key=repr))
            for (info, cls), memo in rdr._span_decode_memo.items()),
            key=repr))
    return out


def _both_page_loops(fn, monkeypatch):
    """fn() with the C page loop, then with the Python page loop forced
    (every other C step still on)."""
    from oxidizepdf_spark.kernel import extract as E

    with_loop = fn()
    with monkeypatch.context() as m:
        m.setattr(E, "_page_loop_serves", lambda options: False)
        without = fn()
    return with_loop, without


def _assert_same_page_loop(data: bytes, label, monkeypatch, options=()):
    for opts in (None, *options):
        got, want = _both_page_loops(lambda: _doc_run(data, opts),
                                     monkeypatch)
        assert got == want, (label, opts and opts.error_mode)


def _error_modes():
    from oxidizepdf_spark.kernel.textstate import ExtractionOptions

    return (ExtractionOptions(error_mode="strict"),
            ExtractionOptions(error_mode="skip"),
            ExtractionOptions(include_artifacts=True, space_threshold=0.05,
                              newline_threshold=1.5, tj_space_threshold=0.0))


def _page_loop_content_cases():
    """Content streams for the native operators: ' and ", q/Q, marked
    content with inline and named property lists, image and Form
    XObjects, inline images, fonts missing from the page, and broken
    operands."""
    streams = {
        "quotes": b"BT /F1 10 Tf 12 TL 72 700 Td (a) Tj (b) ' 1 2 (c) \" "
                  b"(d) ' T* (e) Tj ET",
        "quote_no_bt": b"(x) ' 1 2 (y) \" BT (z) ' ET",
        "quote_no_leading": b"BT /F1 10 Tf 5 5 Td (a) ' (b) ' ET",
        "q_nesting": b"q 2 0 0 2 5 5 cm q 1 0 0 1 9 9 cm BT /F1 8 Tf (a) Tj "
                     b"ET Q BT (b) Tj ET Q Q Q BT 0 -30 Td (c) Tj ET",
        "artifact": b"/Artifact BMC BT /F1 10 Tf (hide) Tj ET /Span BMC "
                    b"BT (nested) Tj ET EMC EMC BT (show) Tj ET EMC EMC",
        "bdc_inline": b"/P << /MCID 2 /ActualText (x) /K [1 [2] << /A 1 >>] "
                      b">> BDC BT /F1 10 Tf (tag) Tj ET EMC",
        "bdc_named": b"/P /MC0 BDC BT /F1 10 Tf (n) Tj ET EMC /Artifact "
                     b"/MC1 BDC (hidden) Tj BT (h) Tj ET EMC /X /None BDC EMC",
        "bdc_broken": b"/P << /MCID >> BDC (a) Tj /P << 3 4 >> BDC BDC "
                      b"/Artifact << /A [ 1 >> BDC BT /F1 9 Tf (b) Tj ET "
                      b"EMC EMC EMC",
        "bdc_deep": b"/P << /K " + b"[" * 80 + b"]" * 80 + b" >> BDC "
                    b"BT /F1 9 Tf (deep) Tj ET EMC",
        "images": b"BT /F1 10 Tf (before) Tj ET /Im1 Do q /Im2 Do Q /Bad Do "
                  b"/NotStm Do /Missing Do 5 Do BT (after) Tj ET /Im1 Do",
        "form": b"BT /F1 10 Tf (out) Tj ET /Fm1 Do BT (after) Tj ET",
        "inline_images": b"BT /F1 10 Tf (a) Tj ET BI /W 1 /H 1 /CS /G /BPC 8 "
                         b"ID \x00 EI BT (b) Tj ET BI /W 1 ID \x00\x01 EI BI",
        "unknown_font": b"BT /F9 10 Tf (a) Tj /F1 10 Tf (b) Tj / 10 Tf (c) "
                        b"Tj ET",
        "font_switch": b"BT /F1 10 Tf (a) Tj /F2 12 Tf (b) Tj /F1 14 Tf (a) "
                       b"Tj /F2 12 Tf [(b) -300 (c)] TJ ET",
        "empty": b"",
        "bad_hex": b"BT /F1 10 Tf <4G> Tj ET",
        "gray_colors": b"0.5 g 1 0 0 rg 0 0 0 1 k BT /F1 10 Tf (c) Tj ET",
        # resource names pick the run memo's fallback class
        "fallback_names": b"BT /StandardF 9 Tf (a) Tj /MacRomanF 9 Tf (b) "
                          b"' /Helvetica 9 Tf (c) Tj /xPDFDOC 9 Tf (d) Tj "
                          b"/WINANSI#C9 9 Tf (e) Tj /Times 9 Tf (f) Tj ET",
        "huge_matrix": b"BT /F1 10 Tf 1 0 1" + b"0" * 400 + b" 1 0 0 Tm "
                       b"-1" + b"0" * 400 + b" TL (a) ' (b) ' (c) Tj ET",
    }
    return {"content_" + label: _page_loop_pdf(content)
            for label, content in streams.items()}


def _page_loop_pdf(content: bytes) -> bytes:
    """One page showing ``content`` over two fonts, image and Form
    XObjects and named property lists."""
    img = (b"<< /Type /XObject /Subtype /Image /Width 1 /Height 1 "
           b"/ColorSpace /DeviceGray /BitsPerComponent 8 /Length 1 >>\n"
           b"stream\n\x00\nendstream")
    form = (b"<< /Type /XObject /Subtype /Form /BBox [0 0 9 9] /Length 31 >>"
            b"\nstream\nBT /F1 9 Tf (Inside form) Tj ET\nendstream")
    res = (b"/Resources << /Font << /F1 5 0 R /F2 10 0 R /StandardF 5 0 R "
           b"/MacRomanF 5 0 R /Helvetica 10 0 R /xPDFDOC 5 0 R "
           b"/WINANSI#C9 5 0 R /Times 5 0 R >> /XObject << "
           b"/Im1 6 0 R /Fm1 7 0 R /Im2 9 0 R /Bad 99 0 R /NotStm 8 0 R >> "
           b"/Properties << /MC0 8 0 R /MC1 << /MCID 3 >> >> >> ")
    objs = _objects(content=content, page_extra=res)
    objs.update({
        6: img, 7: form, 8: b"<< /MCID 7 /ActualText (alt) >>",
        9: img.replace(b"/Image", b"/Other"),
        10: b"<< /Type /Font /Subtype /Type1 /BaseFont /Times-Bold "
            b"/Encoding /MacRomanEncoding >>"})
    return _pdf(objs)


def test_differential_page_loop_crafted(monkeypatch):
    """The C page loop against the Python page loop on the crafted font,
    skeleton and content cases, in every error mode and with non-default
    thresholds: spans, page texts, fragments, page count, mode, error,
    and the reader's object cache, FontInfo cache and run memo."""
    cases = {**_crafted_font_cases(), **_crafted_skeleton_cases(),
             **_page_loop_content_cases()}
    modes = _error_modes()
    for label, data in cases.items():
        _assert_same_page_loop(data, label, monkeypatch, modes)


def test_differential_page_loop_corpus(monkeypatch):
    """The catalog, and a 300-document generated sample with 50-page
    documents and corrupted (recovered) variants."""
    from oxidizepdf_spark.corpus import all_cases, generate_corpus
    from oxidizepdf_spark.kernel.extract import decode_raw_payload

    for case, pdf, _expected in all_cases():
        _assert_same_page_loop(pdf, case, monkeypatch, _error_modes())
    mega = 0
    for in_row, _ in generate_corpus(n_docs=300, seed=13, mega_doc_rate=0.05,
                                     corrupt_rate=0.1):
        mega += in_row["case"] == "MEGA"
        for s in in_row["spans"]:
            if s["kind"] == "raw_pdf":
                _assert_same_page_loop(decode_raw_payload(s["text"] or ""),
                                       (in_row["doc_id"], in_row["case"]),
                                       monkeypatch)
    assert mega >= 5


def test_differential_page_loop_mutations(monkeypatch):
    """Seeded edits of the crafted documents' bytes (the skeleton and font
    shapes) and of their content streams (operator soup over the native
    operators), through both page loops."""
    import random

    rng = random.Random(13)
    docs = list(_crafted_skeleton_cases().values())
    docs += list(_crafted_font_cases().values())
    tokens = [b"R", b" ", b"<<", b">>", b"[", b"]", b"/", b"(", b")", b"%",
              b"\n", b"0", b"9", b"-", b".", b"<", b">", b"\x00", b"endstream",
              b"obj", b"/Contents", b"/Font", b"/Length 2 0 R"]
    for _ in range(600):
        data = bytearray(rng.choice(docs))
        for _edit in range(rng.randrange(1, 4)):
            i = rng.randrange(len(data))
            op = rng.random()
            if op < 0.3:
                data[i] = rng.randrange(256)
            elif op < 0.7:
                data[i:i] = rng.choice(tokens)
            else:
                del data[i:i + rng.randrange(1, 8)]
        data = bytes(data)
        got, want = _both_page_loops(lambda: _doc_run(data), monkeypatch)
        assert got == want, data
    ops = [b"BT", b"ET", b"/F1 10 Tf", b"/F2 7 Tf", b"/F9 3 Tf", b"(ab)",
           b"<41 42>", b"Tj", b"TJ", b"[(x) -300 (y)]", b"'", b"\"", b"1",
           b"-2.5", b"Td", b"TD", b"T*", b"12 TL", b"Tm", b"cm", b"q", b"Q",
           b"/Artifact", b"/P", b"/MC0", b"/MC1", b"BMC", b"BDC", b"EMC",
           b"<<", b">>", b"/MCID", b"[", b"]", b"/Im1 Do", b"/Im2 Do",
           b"/Fm1 Do", b"/Bad Do", b"Do", b"BI /W 1 ID \x00 EI", b"BI",
           b"0.5 g", b"1 0 0 rg", b"Tz", b"Tc", b"Tw", b"Ts", b"Tr", b"%c\n",
           b"( ) Tj", b"(a  b) Tj", b"<00> Tj", b"ID", b"EI", b";", b"}"]
    for _ in range(600):
        content = b" ".join(rng.choice(ops)
                            for _ in range(rng.randrange(1, 30)))
        data = _page_loop_pdf(content)
        got, want = _both_page_loops(lambda: _doc_run(data), monkeypatch)
        assert got == want, content


def test_page_loop_fast_path_taken(monkeypatch):
    """The catalog's X01 and X12-X15 and a 50-page generated document run
    every page in the C loop: no Interpreter is built, no
    extract_page_fonts and no finalize runs. Layout mode, simple reading
    order, a Type3 font and an encrypted document still take the Python
    loop, so a silent fallback cannot pass for the fast path."""
    from oxidizepdf_spark.corpus import (
        all_cases, build_encrypted_pdf, build_pdf_multipage_texts,
    )
    from oxidizepdf_spark.kernel import extract as E
    from oxidizepdf_spark.kernel.textstate import ExtractionOptions, Interpreter

    calls = []

    def counting(name, fn):
        def wrapper(*a, **k):
            calls.append(name)
            return fn(*a, **k)
        return wrapper

    monkeypatch.setattr(Interpreter, "__init__",
                        counting("init", Interpreter.__init__))
    monkeypatch.setattr(Interpreter, "finalize",
                        counting("finalize", Interpreter.finalize))
    monkeypatch.setattr(E, "extract_page_fonts",
                        counting("fonts", E.extract_page_fonts))
    catalog = {case: pdf for case, pdf, _ in all_cases()}
    mega = build_pdf_multipage_texts([f"page {i}" for i in range(50)])
    for label, data in (*((c, catalog[c]) for c in
                          ("X01", "X12", "X13", "X14", "X15")),
                        ("50-page", mega)):
        calls.clear()
        res = E.extract_pdf_bytes(data)
        assert res.spans and res.error is None, label
        assert calls == [], label
    assert len(E.extract_pdf_bytes(mega).page_texts) == 50
    for label, data, opts in (
            ("layout", catalog["X01"],
             ExtractionOptions(preserve_layout=True)),
            ("simple order", catalog["X01"],
             ExtractionOptions(reading_order="simple")),
            ("type3", _crafted_font_cases()["type3"], None),
            ("encrypted", build_encrypted_pdf("secret text"), None)):
        calls.clear()
        E.extract_pdf_bytes(data, opts)
        assert {"init", "fonts", "finalize"} <= set(calls), label


# -- the batch loop (extract_batch) against the per-document Python loop --


def _arrow_batch(docs, passwords=None):
    """An input Arrow batch of documents, each a list of (kind, text,
    media_ref) spans, with a password column when given."""
    import pyarrow as pa

    span = pa.struct([("kind", pa.string()), ("text", pa.string()),
                      ("media_ref", pa.string())])
    cols = [pa.array([f"doc-{i}" for i in range(len(docs))], pa.string()),
            pa.array([i % 5 for i in range(len(docs))], pa.int32()),
            pa.array([[{"kind": k, "text": t, "media_ref": m}
                       for k, t, m in d] for d in docs], pa.list_(span))]
    names = ["doc_id", "part_id", "spans"]
    if passwords is not None:
        cols.append(pa.array(passwords, pa.string()))
        names.append("password")
    return pa.RecordBatch.from_arrays(cols, names=names)


def _batch_rows(batches, options):
    """_extract_batches' output rows, every column but wall_ms."""
    from oxidizepdf_spark.pipeline import _extract_batches

    rows = []
    for out in _extract_batches(batches, options):
        assert all(w >= 0.0 for w in out.column("wall_ms").to_pylist())
        rows += out.drop_columns(["wall_ms"]).to_pylist()
    return rows


def _assert_same_batches(batches, monkeypatch, modes=True):
    """The batch loop against the forced per-document Python loop (every
    other C step on), in tolerant mode and, with ``modes``, in strict and
    skip modes and at non-default thresholds."""
    from oxidizepdf_spark.kernel import extract as E
    from oxidizepdf_spark.kernel.textstate import ExtractionOptions

    for opts in (ExtractionOptions(), *(_error_modes() if modes else ())):
        got = _batch_rows(batches, opts)
        with monkeypatch.context() as m:
            m.setattr(E, "_batch_loop_serves", lambda options: False)
            want = _batch_rows(batches, opts)
        assert len(got) == len(want)
        for g, w in zip(got, want):
            assert g == w, (g["doc_id"], opts.error_mode)


def _pdf_doc(pdf: bytes):
    return [("raw_pdf", pdf.decode("latin-1"), None)]


def _utf8_spans(pdf: bytes) -> bool:
    """Whether every span text of the document encodes as UTF-8 (Arrow
    cannot take a lone surrogate a glyph name such as /uniD800 decodes
    to)."""
    from oxidizepdf_spark.kernel.extract import extract_pdf_bytes

    try:
        for _k, t, _m in extract_pdf_bytes(pdf).spans:
            t.encode("utf-8")
    except UnicodeEncodeError:
        return False
    return True


def test_differential_batch_loop_crafted(monkeypatch):
    """The crafted skeleton, content and font cases and the catalog, one
    document each, in every error mode; the batch also runs sliced, so
    the span child carries an offset. Two more batches open with a font
    dict that holds a reference (a ToUnicode font, as in X12-X14) and
    with one that holds none, so the batch's first FontInfo build of
    each kind constructs the document's reader. An object stream whose
    container filter the native chain declines is handed back (its
    decode would run in the middle of a fetch). A document whose spans
    Arrow cannot encode would be an error row in both loops (see
    test_batch_lone_surrogate_is_one_error_row)."""
    from oxidizepdf_spark.corpus import all_cases

    helv = b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica %s>>"
    tt = b"<< /Type /Font /Subtype /TrueType /BaseFont /ABCDEF+Custom %s>>"
    # the batch shares a FontInfo between font dicts with equal keys (the
    # objects their references resolve to included): these pairs are
    # equal dicts whose referenced objects (an encoding, a ToUnicode
    # stream, widths, a descriptor), or whose float bits, differ, and a
    # reference against the same value inline
    shared = [
        _font_pdf(helv % b"/Encoding 6 0 R ", _SHOW,
                  {6: b"<< /Differences [72 /%s] >>" % glyph})
        for glyph in (b"A", b"B")] + [
        _font_pdf(helv % b"/FirstChar 72 /LastChar 72 /Widths [%s] " % w,
                  b"BT /F1 10 Tf (HH) Tj ET") for w in (b"0.0", b"-0.0")] + [
        _font_pdf(tt % b"/ToUnicode 6 0 R ", _SHOW,
                  {6: _stm(_CMAP_1BYTE.replace(b"<0058>", dst))})
        for dst in (b"<0058>", b"<0059>")] + [
        _font_pdf(tt % b"/FirstChar 72 /Widths 6 0 R /FontDescriptor 7 0 R ",
                  _SHOW, {6: b"[%s 500]" % w,
                          7: b"<< /MissingWidth %s >>" % mw})
        for w, mw in ((b"600", b"250"), (b"700", b"250"),
                      (b"600", b"251"))] + [
        _font_pdf(helv % enc, _SHOW, extra)
        for enc, extra in (
            (b"/Encoding << /Differences [72 /B] >> ", None),
            (b"/Encoding 6 0 R ", {6: b"<< /Differences [72 /B] >>"}))]
    fonts = _crafted_font_cases()
    catalog = {case: pdf for case, pdf, _ in all_cases()}
    pdfs = [*_crafted_skeleton_cases().values(),
            *_page_loop_content_cases().values(),
            *fonts.values(), *shared, *catalog.values()]
    batch = _arrow_batch([_pdf_doc(p) for p in pdfs])
    refs_first = _arrow_batch([_pdf_doc(p) for p in (
        catalog["X12"], fonts["type1_tounicode"], catalog["X13"])])
    free_first = _arrow_batch([_pdf_doc(p) for p in (
        fonts["std14_plain"], catalog["X14"], fonts["std14_plain"])])
    _assert_same_batches([batch, batch.slice(7, 40), refs_first, free_first],
                         monkeypatch)
    # an indirect /DecodeParms on the container: the native chain declines
    objs = _objects()
    objstm = _xs_pdf({4: objs[4], 9: b"<< /Predictor 1 >>"},
                     {k: objs[k] for k in (1, 2, 3, 5)},
                     stm_kw={"extra": b"/DecodeParms 9 0 R "})
    C._CSCAN.batch_counts(True)
    _assert_same_batches([_arrow_batch([_pdf_doc(objstm)])], monkeypatch,
                         modes=False)
    assert C._CSCAN.batch_counts(True)["objstm"] == 1


def test_batch_loop_reader_factory(monkeypatch):
    """The batch loop builds a document's PdfReader through the factory
    extract_batch passes it, PdfReader's own constructor: here a subclass
    with one more slot, which counts the builds made outside the Python
    row function, so no layout of the class is mirrored in C. Over the
    crafted font cases (with their own content, and with a one-byte and a
    two-byte show the page loop serves), each alone in its batch so its
    first font dict misses the batch's FontInfo cache, the columns equal
    the Python loop's and each document builds exactly one reader; with
    the cases twice in one batch, a copy whose font dicts all hit the
    cache builds none."""
    from oxidizepdf_spark.kernel import extract as E
    from oxidizepdf_spark.kernel.reader import PdfReader
    from oxidizepdf_spark.kernel.textstate import ExtractionOptions

    built, in_row = [], [False]

    class Counting(PdfReader):
        __slots__ = ("in_row",)

        def __init__(self, data, **kw):
            super().__init__(data, **kw)
            self.in_row = in_row[0]
            if not self.in_row:
                built.append(data)

    run_row = E._run_row

    def flagged_row(*a):
        in_row[0] = True
        try:
            return run_row(*a)
        finally:
            in_row[0] = False

    monkeypatch.setattr(E, "PdfReader", Counting)
    monkeypatch.setattr(E, "_run_row", flagged_row)
    pdfs = list(dict.fromkeys(
        p for show in (_SHOW, b"BT /F1 12 Tf (Hello) Tj [(Wor) -250 (ld)] TJ ET",
                       b"BT /F1 12 Tf <00480024> Tj ET")
        for p in _crafted_font_cases(show).values() if _utf8_spans(p)))
    singles = [_arrow_batch([_pdf_doc(p)]) for p in pdfs]
    doubled = _arrow_batch([_pdf_doc(p) for p in pdfs + pdfs])
    _assert_same_batches([*singles, doubled], monkeypatch, modes=False)
    opts = ExtractionOptions()
    C._CSCAN.batch_counts(True)
    built.clear()
    _batch_rows(singles, opts)
    # a page the page loop bails on is handed back after its font build
    assert C._CSCAN.batch_counts(True)["served"] >= 10
    assert sorted(map(pdfs.index, built)) == list(range(len(pdfs)))
    built.clear()
    _batch_rows([doubled], opts)
    assert len(built) <= len(pdfs)


def test_differential_batch_loop_corpus(monkeypatch):
    """A 300-document generated sample (50-page, corrupted, HTML and
    interleaved documents), documents with several payloads, a password
    column, b85: and non-latin-1 payloads, and odd rows (no spans, null
    kinds and texts, unknown kinds)."""
    import base64

    from oxidizepdf_spark.corpus import all_cases, build_encrypted_pdf
    from oxidizepdf_spark.corpus import generate_corpus

    docs, counts = [], {"MEGA": 0, "HTML": 0, "corrupt": 0}
    for in_row, _ in generate_corpus(n_docs=300, seed=17, mega_doc_rate=0.05,
                                     corrupt_rate=0.1):
        case = in_row["case"]
        for key in counts:
            counts[key] += key in case
        docs.append([(s["kind"], s["text"], s["media_ref"])
                     for s in in_row["spans"]])
    assert counts["MEGA"] >= 5 and counts["HTML"] >= 20
    assert counts["corrupt"] >= 10
    docs += [docs[i] + docs[i + 1] + docs[i + 2] for i in range(0, 60, 3)]
    catalog = {case: pdf for case, pdf, _ in all_cases()}
    locked = build_encrypted_pdf("locked text", user_pw=b"pw")
    docs += [
        _pdf_doc(locked), _pdf_doc(locked), _pdf_doc(locked),
        _pdf_doc(build_encrypted_pdf("open text")),
        [("raw_pdf", "b85:" + base64.b85encode(catalog["X01"]).decode(),
          None)],
        [("raw_pdf", catalog["X01"].decode("latin-1") + "\u2603", None)],
        [], [("raw_pdf", None, None)], [("raw_pdf", "", None)],
        [("raw_html", None, None)], [(None, "x", "m")], [("text", None, "m")],
        [("media", None, None)], [("weird", "w", "r")],
        [("raw_pdf", "%PDF-1.4 garbage", None), ("text", "after", None)],
    ]
    passwords = [None] * len(docs)
    passwords[-15:-12] = ["pw", "wrong", None]
    passwords[5] = "unused"
    _assert_same_batches([_arrow_batch(docs, passwords)], monkeypatch)


def test_differential_batch_loop_mutations(monkeypatch):
    """600 seeded byte edits of the crafted skeleton and font documents
    (those whose spans Arrow can encode), through both document loops."""
    import random

    rng = random.Random(14)
    pdfs = [p for p in (*_crafted_skeleton_cases().values(),
                        *_crafted_font_cases().values()) if _utf8_spans(p)]
    tokens = [b"R", b" ", b"<<", b">>", b"[", b"]", b"/", b"(", b")", b"%",
              b"\n", b"0", b"9", b"-", b".", b"\x00", b"endstream", b"obj",
              b"trailer", b"xref", b"/Contents", b"/Font", b"/Encrypt",
              b"/Root", b"%PDF-1.", b"/Length 2 0 R"]
    docs = []
    for _ in range(600):
        data = bytearray(rng.choice(pdfs))
        for _edit in range(rng.randrange(1, 4)):
            i = rng.randrange(len(data))
            op = rng.random()
            if op < 0.3:
                data[i] = rng.randrange(256)
            elif op < 0.7:
                data[i:i] = rng.choice(tokens)
            elif op < 0.9:
                del data[i:i + rng.randrange(1, 8)]
            else:
                del data[max(i, 16):]
        docs.append(_pdf_doc(bytes(data)))
    batches = [_arrow_batch(docs[i:i + 150]) for i in range(0, 600, 150)]
    _assert_same_batches(batches, monkeypatch, modes=False)


def test_batch_loop_fast_path_taken(monkeypatch):
    """X01, X12-X15, a 50-page document, an HTML document and text/media
    rows run in the C batch loop: extract_document_spans is never called.
    A password row, an encrypted document, a layout-options run and the
    X16 Form document are each handed to it once, so a silent fallback
    cannot pass for the fast path."""
    from oxidizepdf_spark.corpus import (
        all_cases, build_encrypted_pdf, build_html_doc,
        build_pdf_multipage_texts,
    )
    from oxidizepdf_spark.kernel import extract as E
    from oxidizepdf_spark.kernel.textstate import ExtractionOptions

    calls = []
    inner = E.extract_document_spans

    def counting(*a, **k):
        calls.append(1)
        return inner(*a, **k)

    monkeypatch.setattr(E, "extract_document_spans", counting)
    catalog = {case: pdf for case, pdf, _ in all_cases()}
    mega = build_pdf_multipage_texts([f"page {i}" for i in range(50)])
    html = build_html_doc("some body text long enough\nanother line here",
                          with_image=True)
    default = ExtractionOptions()
    for label, doc in (
            *((c, _pdf_doc(catalog[c])) for c in
              ("X01", "X12", "X13", "X14", "X15")),
            ("50-page", _pdf_doc(mega)),
            ("html", [("raw_html", html, None)]),
            ("text/media", [("text", "a", None), ("media", "", "m://1")])):
        calls.clear()
        C._CSCAN.batch_counts(True)
        rows = _batch_rows([_arrow_batch([doc])], default)
        assert rows[0]["ok"] and rows[0]["n_spans"] > 0, label
        assert calls == [], label
        assert C._CSCAN.batch_counts()["served"] == 1, label
    assert _batch_rows([_arrow_batch([_pdf_doc(mega)])],
                       default)[0]["n_pages"] == 50
    locked = build_encrypted_pdf("locked text", user_pw=b"pw")
    for label, doc, password, opts, reason in (
            ("password", _pdf_doc(locked), "pw", default, "password"),
            ("encrypted", _pdf_doc(build_encrypted_pdf("secret")), None,
             default, "encrypted"),
            ("layout", _pdf_doc(catalog["X01"]), None,
             ExtractionOptions(preserve_layout=True), None),
            ("form", _pdf_doc(catalog["X16"]), None, default, "page")):
        calls.clear()
        C._CSCAN.batch_counts(True)
        rows = _batch_rows([_arrow_batch([doc], [password])], opts)
        assert calls == [1], label
        counts = C._CSCAN.batch_counts(True)
        assert counts["served"] == 0, label
        if reason is not None:
            assert counts[reason] == 1, (label, counts)
    assert rows[0]["ok"], "X16 extracts through the fallback"


# -- the Arrow boundary of extract_batch ------------------------------------


def _batch_columns(spans, passwords, options, python: bool):
    """extract_batch's output columns as Python lists, wall_ms dropped:
    the C batch loop, or (``python``) the Python loop behind the same
    contract."""
    from oxidizepdf_spark.kernel import extract as E

    if python:
        out = E._extract_batch_py(spans, passwords, options)
    else:
        out = E.extract_batch(spans, passwords, options)
    assert len(out) == 8
    assert all(len(c) == len(spans) for c in out)
    return [c.to_pylist() for c in out[:7]]


def _expected_columns(spans, passwords, options):
    """The contract spelled out per row: extract_document_spans over the
    row's to_pylist() triples (null list and struct entries read through
    their fields, as extract_batch reads them)."""
    from oxidizepdf_spark.kernel.extract import _run_row

    offsets = spans.offsets.to_pylist()
    flat = spans.values
    fields = [flat.field(f).to_pylist() for f in ("kind", "text", "media_ref")]
    pw = passwords.to_pylist() if passwords is not None else None
    cols = [[] for _ in range(7)]
    for row in range(len(spans)):
        lo, hi = offsets[row], offsets[row + 1]
        doc, meta = _run_row(list(zip(*(f[lo:hi] for f in fields))),
                             pw[row] if pw else None, options)
        cols[0].append([dict(zip(("kind", "text", "media_ref", "offset"), s))
                        for s in doc])
        for c, k in enumerate(("ok", "mode", "error", "n_pages"), start=1):
            cols[c].append(meta[k])
        cols[5].append(len(doc))
        cols[6].append(meta["bytes_in"])
    return cols


def _assert_boundary(spans, passwords=None, options=None, native=True):
    """C and Python extract_batch give equal columns, equal to the
    contract; ``native`` asserts the C loop served at least one row."""
    from oxidizepdf_spark.kernel.textstate import ExtractionOptions

    options = options or ExtractionOptions()
    C._CSCAN.batch_counts(True)
    got = _batch_columns(spans, passwords, options, python=False)
    counts = C._CSCAN.batch_counts(True)
    assert (counts["served"] > 0) == native, counts
    assert got == _batch_columns(spans, passwords, options, python=True)
    assert got == _expected_columns(spans, passwords, options)


def _span_struct(docs_flat, mask=None, field_masks=None):
    import pyarrow as pa

    arrays = []
    for i, name in enumerate(("kind", "text", "media_ref")):
        m = field_masks.get(name) if field_masks else None
        arrays.append(pa.array([d[i] for d in docs_flat], pa.string(),
                               mask=None if m is None else pa.array(m)))
    return pa.StructArray.from_arrays(
        arrays, names=["kind", "text", "media_ref"],
        mask=None if mask is None else pa.array(mask))


def test_batch_boundary_sliced_offsets():
    """Slices of the list column, and a list over a sliced struct child
    whose fields are themselves slices: nonzero offsets at every level."""
    import pyarrow as pa

    from oxidizepdf_spark.corpus import all_cases, build_html_doc

    catalog = {case: pdf for case, pdf, _ in all_cases()}
    flat = [("text", "lead", None)]
    for case in ("X01", "X02", "X06", "X07", "X10", "C19"):
        flat += [("raw_pdf", catalog[case].decode("latin-1"), None),
                 ("media", "", f"m://{case}")]
    flat += [("raw_html", build_html_doc("body text long enough here",
                                         with_image=True), None)]
    child = _span_struct(flat)
    offsets = [0, 1, 3, 3, 7, 10, 14]
    for k in (0, 1, 3):
        # the list over child[k:], its offsets relative to the slice
        sl = child.slice(k)
        offs = [o for o in offsets if o <= len(sl)]
        lst = pa.ListArray.from_arrays(pa.array(offs, pa.int32()), sl)
        for a, b in ((0, len(lst)), (1, len(lst)), (2, 3), (len(lst), 0)):
            _assert_boundary(lst.slice(a, b), native=b > 0 and a < len(lst)
                             and any(offs[i + 1] > offs[i]
                                     for i in range(a, min(a + b, len(lst)))))
    # fields that are slices of longer arrays inside a sliced struct
    kinds = pa.array(["pad"] + [d[0] for d in flat], pa.string()).slice(1)
    texts = pa.array(["pad", "pad"] + [d[1] for d in flat],
                     pa.string()).slice(2)
    refs = pa.array([d[2] for d in flat] + ["tail"], pa.string()).slice(
        0, len(flat))
    st = pa.StructArray.from_arrays([kinds, texts, refs],
                                    names=["kind", "text", "media_ref"])
    lst = pa.ListArray.from_arrays(pa.array(offsets, pa.int32()), st)
    _assert_boundary(lst)
    _assert_boundary(lst.slice(2, 3))


def test_batch_boundary_nulls_at_each_level():
    """A null list entry, a null struct entry (its fields still read),
    and nulls in each field."""
    import pyarrow as pa

    from oxidizepdf_spark.corpus import all_cases

    x01 = all_cases()[0][1].decode("latin-1")
    flat = [("raw_pdf", x01, None), ("text", "t", "ref-dropped"),
            ("media", "m", "m://1"), ("raw_pdf", x01, None),
            ("text", "u", None), ("media", None, None), (None, "k", "r"),
            ("raw_html", None, None), ("raw_pdf", None, None)]
    child = _span_struct(
        flat, mask=[False, False, True, False, False, False, False, False,
                    False],
        field_masks={"kind": [False] * 6 + [True, False, False],
                     "text": [False] * 4 + [True] + [False] * 4,
                     "media_ref": [True] + [False] * 8})
    lst = pa.ListArray.from_arrays(
        pa.array([0, 3, 3, 5, 6, 7, 8, 9], pa.int32()), child,
        mask=pa.array([False, True, False, False, False, False, False]))
    _assert_boundary(lst)


def test_batch_boundary_large_string_and_payload_kinds():
    """A large_string spans column runs in Python with the same outputs;
    non-latin-1 and b85: payloads are handed back and decode as the
    Python loop decodes them."""
    import base64

    import pyarrow as pa

    from oxidizepdf_spark.corpus import all_cases
    from oxidizepdf_spark.kernel.textstate import ExtractionOptions

    catalog = {case: pdf for case, pdf, _ in all_cases()}
    docs = [[("raw_pdf", catalog["X01"].decode("latin-1"), None)],
            [("raw_pdf", "b85:" + base64.b85encode(catalog["X02"]).decode(),
              None)],
            [("raw_pdf", catalog["X01"].decode("latin-1") + "\u2603", None)],
            [("raw_pdf", catalog["X01"].decode("latin-1") + "\u00e9\u00ff",
              None)],
            [("text", "caf\u00e9 \u2603 \U0001f600", None)]]
    span = pa.struct([("kind", pa.string()), ("text", pa.string()),
                      ("media_ref", pa.string())])
    spans = pa.array([[dict(zip(("kind", "text", "media_ref"), s))
                       for s in d] for d in docs], pa.list_(span))
    _assert_boundary(spans)
    large = pa.struct([("kind", pa.large_string()),
                       ("text", pa.large_string()),
                       ("media_ref", pa.large_string())])
    big = spans.cast(pa.list_(large))
    opts = ExtractionOptions()
    got = _batch_columns(big, None, opts, python=False)
    assert got == _batch_columns(spans, None, opts, python=False)
    assert got == _batch_columns(big, None, opts, python=True)


def test_batch_boundary_empty_and_all_handed_back():
    import pyarrow as pa

    from oxidizepdf_spark.corpus import all_cases, build_encrypted_pdf

    span = pa.struct([("kind", pa.string()), ("text", pa.string()),
                      ("media_ref", pa.string())])
    empty = pa.array([], pa.list_(span))
    from oxidizepdf_spark.kernel import extract as E
    from oxidizepdf_spark.kernel.textstate import ExtractionOptions

    out = E.extract_batch(empty, None, ExtractionOptions())
    assert [len(c) for c in out] == [0] * 8
    assert out[0].type == E._extract_batch_py(
        empty, None, ExtractionOptions())[0].type
    locked = build_encrypted_pdf("locked text", user_pw=b"pw")
    catalog = {case: pdf for case, pdf, _ in all_cases()}
    docs = [[{"kind": "raw_pdf", "text": p.decode("latin-1"),
              "media_ref": None}]
            for p in (locked, catalog["X16"], locked, b"%PDF-1.4 junk")]
    spans = pa.array(docs, pa.list_(span))
    _assert_boundary(spans, native=False)
    _assert_boundary(spans, pa.array(["pw", None, "wrong", None]),
                     native=False)


def test_batch_lone_surrogate_is_one_error_row(monkeypatch):
    """A span text with a lone surrogate ends as that document's
    ``kernel:UnicodeEncodeError`` row on the C and Python paths alike,
    never as a failed batch, and every other row stays ok. No glyph name
    or CMap of the engine maps to a surrogate any more (the Standard-14
    font whose /Differences name /uniD800 decodes without one), so a
    glyph mapper that does is installed for the test, in the Python font
    build and in the C code tables."""
    import pyarrow as pa

    from oxidizepdf_spark.corpus import all_cases
    from oxidizepdf_spark.kernel import afm_widths, cmap, encodings, fonts
    from oxidizepdf_spark.kernel.textstate import ExtractionOptions

    def setup(glyph):
        C._CSCAN.setup_fonts(
            cmap.CMap, glyph,
            "".join(encodings.decode_winansi_byte(b) for b in range(256)),
            "".join(encodings.decode_macroman_byte(b) for b in range(256)),
            afm_widths.TABLES, fonts.extract_font_info,
            fonts.fallback_encoding)

    plain = encodings.glyph_name_to_unicode

    def odd(name):
        return "\ud800" if name == "surrogate.test" else plain(name)

    helv = (b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica /Encoding "
            b"<< /Differences [66 /surrogate.test] >> >>")
    surrogate = _font_pdf(helv, b"BT /F1 12 Tf 72 700 Td (ABC) Tj ET")
    std14 = _crafted_font_cases()["std14_differences"]
    x01 = all_cases()[0][1]
    span = pa.struct([("kind", pa.string()), ("text", pa.string()),
                      ("media_ref", pa.string())])
    docs = [x01, surrogate, x01, std14, x01]
    spans = pa.array([[{"kind": "raw_pdf", "text": p.decode("latin-1"),
                        "media_ref": None}] for p in docs], pa.list_(span))
    monkeypatch.setattr(fonts, "glyph_name_to_unicode", odd)
    setup(odd)
    try:
        _assert_boundary(spans)
        cols = _batch_columns(spans, None, ExtractionOptions(), python=False)
    finally:
        setup(plain)
    texts, ok, err = cols[0], cols[1], cols[3]
    assert ok == [True, False, True, True, True]
    assert err[1] == ("kernel:UnicodeEncodeError:'utf-8' codec can't encode "
                      "character '\\ud800' in position 1: surrogates not "
                      "allowed")
    assert texts[1] == []
    assert not any(0xD800 <= ord(ch) <= 0xDFFF
                   for s in texts[3] for ch in s["text"])
