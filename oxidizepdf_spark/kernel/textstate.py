"""Stateful content-stream interpretation → ordered span emission.

Reimplements the reference's per-page stateful scan (its "window function",
SURVEY.md §2.5) with exact threshold parity:

- TextState machine + defaults:  oxidize-pdf-core/src/text/extraction.rs:212-291
- op handlers:                   extraction.rs:821-1317 (BT/ET 824-833,
  Tm 840, Td 849, T* 858, Tj 867-935, TJ 940-1030, ' 1035, " 1091,
  Tf/TL/Tc/Tw/Tz/Ts/Tr 1151-1178, cm 1181, q/Q 1205-1217,
  g/rg/k 1220-1241, BMC/BDC/EMC 1244-1311, Do 1313-1392)
- space/newline synthesis:       extraction.rs:874-883 (dy > newline_threshold
  → '\\n', else dx > space_threshold*font_size → ' '); ShowText only
- TJ implicit space:             extraction.rs:976-1029 (tx > tj_space_threshold
  *font_size, text non-empty, no double space)
- Artifact gate:                 skip_artifact_text extraction.rs:1869-1880
- Form XObject recursion:        extraction.rs:1313-1456, depth cap 12
- matrix math:                   multiply_matrix/text_origin extraction.rs:1958-1976

Behavioral notes mirrored deliberately:
- ``TD`` is parsed but has NO extraction effect (the reference's op match
  lacks a MoveTextSetLeading arm — extraction.rs ``_ => {}`` fall-through).
- Default options (extraction.rs:73-89) run with preserve_layout=False, so
  fragments/layout passes never fire; extracted text is the emission-order
  synthesis stream. Our spans segment that stream at image-capture points.
- Image XObjects and inline images become ``kind='image'`` spans at their
  ``Do``/``BI`` sites (extract_images.rs:195-284; reference capture only).
"""

from __future__ import annotations

from .content import parse_and_run, parse_content  # noqa: F401 — run() API
from .fonts import (
    FontInfo,
    calculate_text_width_from_codes,
    decode_text,
    extract_page_fonts,
    fallback_encoding as _fallback_enc_class,
)
from .layout import LayoutProcessor, TextFragment, parse_font_style
from .objects import Ref, Stream


class _PendingActualText:
    """PendingActualText (extraction.rs:185-209): suppress per-Tj fragment
    emission inside an /ActualText scope; flush one canonical fragment on
    the matching EMC."""

    __slots__ = (
        "text", "first_x", "first_y", "width", "font_size", "font_name",
        "is_bold", "is_italic", "color", "stack_depth", "populated",
    )

    def __init__(self, text: str, font_size: float, font_name, color, stack_depth: int):
        self.text = text
        self.first_x = 0.0
        self.first_y = 0.0
        self.width = 0.0
        self.font_size = font_size
        self.font_name = font_name
        self.is_bold = False
        self.is_italic = False
        self.color = color
        self.stack_depth = stack_depth
        self.populated = False


def _decode_pdf_string(raw: bytes) -> str:
    """UTF-16BE w/ BOM else byte-chars (extraction.rs decode_pdf_string)."""
    if len(raw) >= 2 and raw[0] == 0xFE and raw[1] == 0xFF:
        body = raw[2 : len(raw) - ((len(raw) - 2) % 2)]
        return body.decode("utf-16-be", errors="replace")
    return "".join(chr(b) for b in raw)


def _resolve_props(props, page_properties, reader):
    """BDC props → (mcid, actual_text) (extraction.rs resolve_props:2013)."""
    kind, val = props
    if kind == "dict":
        d = val
    elif kind == "ref":
        if not isinstance(page_properties, dict):
            return (None, None)
        entry = page_properties.get(val)
        if reader is not None and isinstance(entry, Ref):
            entry = reader.resolve(entry)
        if not isinstance(entry, dict):
            return (None, None)
        d = entry
    else:  # pragma: no cover
        return (None, None)
    mcid = d.get("MCID")
    mcid = mcid if isinstance(mcid, int) and 0 <= mcid <= 0xFFFFFFFF and not isinstance(mcid, bool) else None
    at = d.get("ActualText")
    if isinstance(at, bytes):
        actual = _decode_pdf_string(at)
    elif isinstance(at, str):
        actual = at
    else:
        actual = None
    return (mcid, actual)


def _innermost_mc_tag(stack) -> tuple[int | None, str | None]:
    """extraction.rs:2070-2076."""
    for e in reversed(stack):
        if e[2] is not None:
            return (e[2], e[0])
    return (None, None)

MAX_XOBJECT_DEPTH = 12

IDENTITY = (1.0, 0.0, 0.0, 1.0, 0.0, 0.0)


class ExtractionOptions:
    """extraction.rs:73-89 defaults."""

    __slots__ = (
        "space_threshold",
        "tj_space_threshold",
        "newline_threshold",
        "include_artifacts",
        "preserve_layout",
        "sort_by_position",
        "detect_columns",
        "column_threshold",
        "merge_hyphenated",
        "reconstruct_paragraphs",
        "error_mode",
        "reading_order",
        "reading_order_min_gap",
        "password",
        "recipient_key",
        "ocr_provider",
    )

    def __init__(
        self,
        space_threshold: float = 0.3,
        tj_space_threshold: float = 0.2,
        newline_threshold: float = 10.0,
        include_artifacts: bool = False,
        preserve_layout: bool = False,
        sort_by_position: bool = True,
        detect_columns: bool = False,
        column_threshold: float = 50.0,
        merge_hyphenated: bool = True,
        reconstruct_paragraphs: bool = False,
        error_mode: str = "tolerant",  # 'strict' | 'tolerant' | 'skip'
        reading_order: str = "emission",  # 'emission' | 'simple' | 'xycut'
        reading_order_min_gap: float = 20.0,
        password: str | None = None,
        recipient_key: tuple | None = None,
        ocr_provider=None,
    ):
        self.space_threshold = space_threshold
        self.tj_space_threshold = tj_space_threshold
        self.newline_threshold = newline_threshold
        self.include_artifacts = include_artifacts
        self.preserve_layout = preserve_layout
        self.sort_by_position = sort_by_position
        self.detect_columns = detect_columns
        self.column_threshold = column_threshold
        self.merge_hyphenated = merge_hyphenated
        self.reconstruct_paragraphs = reconstruct_paragraphs
        # error tiers mirror ParseOptions (parser/mod.rs:208-324):
        # strict — structural anomalies are errors (no recovery scan, no
        #          lenient stream lengths, a bad page fails the document)
        # tolerant — recover what can be recovered, record error-as-data
        # skip — like tolerant but bad pages are silently skipped
        self.error_mode = error_mode
        # reading-order strategy (pipeline/reading_order.rs, selectable via
        # PartitionConfig in the reference — partition.rs:200-211):
        # emission  — operator order (ReadingOrderStrategy::None)
        # simple    — Y-chained lines, left-to-right (SimpleReadingOrder)
        # xycut     — recursive X-Y cut, columns first (XYCutReadingOrder)
        # structure — tagged-PDF /StructTreeRoot MCID order where present
        #             (structure/tagged.rs ground truth), simple fallback
        if reading_order not in ("emission", "simple", "xycut", "structure"):
            raise ValueError(f"unknown reading_order: {reading_order!r}")
        self.reading_order = reading_order
        self.reading_order_min_gap = reading_order_min_gap
        # caller-supplied decryption password (PasswordProvider SPI,
        # parser/mod.rs:167-169): tried as user OR owner after the empty
        # user password fails; None keeps empty-password-only behavior
        self.password = password
        # recipient RSA private key (n, d) for /Adobe.PubSec public-key
        # encrypted documents (ISO 32000-1 §7.6.5) — beyond-reference,
        # the reference's reader handles /Standard only
        self.recipient_key = recipient_key
        # OCR SPI (text/ocr/ OcrProvider, tesseract_provider.rs shape):
        # callable(image_bytes) -> str, invoked on each image of a page
        # that yielded NO text (the scanned-page class); the returned text
        # is spliced after the image span. None = no OCR (default). The
        # engine passes the image's RAW encoded stream bytes — exactly
        # what an OCR engine ingests (e.g. JPEG for DCTDecode).
        self.ocr_provider = ocr_provider

    def with_password(self, password: str | None) -> "ExtractionOptions":
        """Shallow clone with a different password — the per-document
        password-column path (pipeline._extract_batches) reuses one base
        options object and overrides only the credential."""
        import copy

        o = copy.copy(self)
        o.password = password
        return o


def _mul(a, b):
    """multiply_matrix (extraction.rs:1964): row-vector convention, a then b."""
    return (
        a[0] * b[0] + a[1] * b[2],
        a[0] * b[1] + a[1] * b[3],
        a[2] * b[0] + a[3] * b[2],
        a[2] * b[1] + a[3] * b[3],
        a[4] * b[0] + a[5] * b[2] + b[4],
        a[4] * b[1] + a[5] * b[3] + b[5],
    )


class _State:
    __slots__ = (
        "text_matrix",
        "text_line_matrix",
        "ctm",
        "leading",
        "char_space",
        "word_space",
        "horizontal_scale",
        "text_rise",
        "font_size",
        "font_name",
        "render_mode",
        "fill_color",
        "saved",  # list of (ctm, fill_color) — SavedGraphicsState
        "mc_stack",  # list of [tag, is_artifact, mcid, actual_text]
        "artifact_n",  # count of mc_stack entries with is_artifact=True
        "pending_actualtext",
    )

    def __init__(self):
        self.text_matrix = IDENTITY
        self.text_line_matrix = IDENTITY
        self.ctm = IDENTITY
        self.leading = 0.0
        self.char_space = 0.0
        self.word_space = 0.0
        self.horizontal_scale = 100.0
        self.text_rise = 0.0
        self.font_size = 0.0
        self.font_name: str | None = None
        self.render_mode = 0
        self.fill_color = None
        self.saved: list[tuple] = []
        self.mc_stack: list[list] = []
        self.artifact_n = 0
        self.pending_actualtext: "_PendingActualText | None" = None

    def origin(self) -> tuple[float, float]:
        """text_origin (extraction.rs:1958): (Tm × CTM)(0,0)."""
        tm = self.text_matrix
        ctm = self.ctm
        # translation row of Tm × CTM, without the full 6-term product
        return (
            tm[4] * ctm[0] + tm[5] * ctm[2] + ctm[4],
            tm[4] * ctm[1] + tm[5] * ctm[3] + ctm[5],
        )

    def in_artifact(self) -> bool:
        return self.artifact_n > 0


class PageExtraction:
    """Result of one page: interleaved text/image span segments, plus the
    positioned fragments when preserve_layout is on."""

    __slots__ = ("spans", "text", "fragments")

    def __init__(self):
        self.spans: list[tuple[str, str, str | None]] = []  # (kind, text, media_ref)
        self.text = ""
        self.fragments: list[TextFragment] = []


class Interpreter:
    """Per-page interpreter. ``reader`` may be None for bare content streams
    (then Do targets nothing and fonts come from ``fonts``).

    For options without layout fragments, the C page loop (``_cscan.c``
    ``run_pages``, called from extract.extract_pdf_bytes) runs pages with
    no Interpreter: it keeps this state in C and keys the document's run
    memo as ``_memo_for`` does, so a change to either must follow in the
    other (``tests/test_cscan_differential.py`` compares the two loops)."""

    def __init__(
        self,
        reader=None,
        fonts: dict[str, FontInfo] | None = None,
        options: ExtractionOptions | None = None,
        page_index: int = 0,
        struct_order: list[int] | None = None,
    ):
        self.reader = reader
        self.fonts: dict[str, FontInfo] = fonts or {}
        self.options = options or ExtractionOptions()
        self.page_index = page_index
        # this page's MCID sequence from the structure tree (pre-computed
        # by extract.structure_mcid_order when reading_order='structure')
        self.struct_order = struct_order
        self.state = _State()
        self.in_text = False
        self.last_x = 0.0
        self.last_y = 0.0
        self.text_parts: list[str] = []  # accumulated extracted_text
        self.out = PageExtraction()
        self._flushed_len = 0  # chars of text already flushed into spans
        self._inline_idx = 0
        self.image_areas: list[float] = []  # |det CTM| per image paint
        self._total = 0  # total chars accumulated (extracted_text length)
        self._last_char = ""  # last accumulated char, for ends_with(' ')
        self.fragments: list[TextFragment] = []
        # {memo_key → {bytes → (decoded, unit_width)}} memo: real documents
        # repeat a few hundred distinct runs tens of thousands of times
        # (98%+ hit rate on the Cold_Email fixture). Two-level so the hot
        # lookup hashes only the run bytes.
        #
        # DOCUMENT-scoped (stored on the reader): the decode of a byte run
        # depends only on the resolved FontInfo (identity-stable per reader
        # via _fontinfo_cache) plus the name-derived fallback-encoding
        # class, NOT on which page or fonts-mapping referenced it — so the
        # key is (FontInfo, fallback_class) and a 44-page book decodes each
        # distinct run once instead of once per page (the round-4 kernel
        # lever; was per-Interpreter = per-page).
        self._decode_memo = (
            reader._span_decode_memo if reader is not None else {}
        )
        # per-fonts-scope name → run-memo cache (names resolve to different
        # FontInfos in different scopes; reset on XObject font merges)
        self._fm_by_name: dict = {}
        self._font_memo: dict = self._memo_for(None)
        # fragments are needed for preserve_layout AND for any non-emission
        # reading-order strategy (the strategy reorders positioned fragments)
        self._layout = (
            self.options.preserve_layout
            or self.options.reading_order != "emission"
        )

    def _append(self, s: str) -> None:
        if s:
            self.text_parts.append(s)
            self._total += len(s)
            self._last_char = s[-1]

    # -- span segmentation ----------------------------------------------

    def _flush_text(self) -> None:
        full = "".join(self.text_parts)
        seg = full[self._flushed_len :]
        if seg:
            self.out.spans.append(("text", seg, None))
            self._flushed_len = len(full)

    def _emit_image(self, media_ref: str) -> None:
        self._flush_text()
        self.out.spans.append(("image", "", media_ref))
        # placed image area in user space: the image paints into the CTM
        # image of the unit square (§8.3.4), area = |det CTM|. Feeds the
        # page-composition analyzer (operations/page_analysis.rs contract);
        # st.ctm is always current here (cm/q/Q write it through in the
        # fused loop too).
        m = self.state.ctm
        self.image_areas.append(abs(m[0] * m[3] - m[1] * m[2]))

    def _structure_order(self):
        """Order fragments by the structure tree's MCID sequence
        (structure/tagged.rs: the author-declared reading order beats any
        geometric heuristic where the document is tagged). Fragments whose
        MCID appears in the sequence sort by its first position (stable —
        emission order within one marked-content scope); untagged
        fragments append after in emission order. An untagged page (no
        struct info) falls back to SimpleReadingOrder."""
        from .reading_order import simple_reading_order

        if not self.struct_order:
            return simple_reading_order(self.fragments)
        pos: dict[int, int] = {}
        for i, mc in enumerate(self.struct_order):
            pos.setdefault(mc, i)
        tagged = [f for f in self.fragments if f.mcid in pos]
        untagged = [f for f in self.fragments if f.mcid not in pos]
        tagged.sort(key=lambda f: pos[f.mcid])
        return tagged + untagged

    def finalize(self) -> PageExtraction:
        self._flush_text()
        extracted = "".join(self.text_parts)
        opts = self.options
        proc = LayoutProcessor(opts, self.fonts)
        if opts.reading_order != "emission":
            # strategy mode (reference: partition.rs:200-211 applies the
            # selected ReadingOrder to the extractor's fragments): reorder
            # the positioned fragments, rebuild the page text from the
            # ordered sequence. Span interleaving is inherently an
            # emission-order notion, so spans become one ordered text span
            # (+ image spans, emission order preserved among themselves).
            from .reading_order import simple_reading_order, xycut_reading_order

            if opts.reading_order == "simple":
                ordered = simple_reading_order(self.fragments)
            elif opts.reading_order == "structure":
                ordered = self._structure_order()
            else:
                ordered = xycut_reading_order(
                    self.fragments, min_gap=opts.reading_order_min_gap
                )
            if ordered:
                extracted = proc.reconstruct_text_from_fragments(ordered)
            imgs = [s for s in self.out.spans if s[0] == "image"]
            self.out.spans = (
                [("text", extracted, None)] if extracted else []
            ) + imgs
            self.out.fragments = ordered
            self.out.text = extracted
            return self.out
        # layout_finalize sequence (extraction.rs:750-783)
        fragments, extracted = proc.finalize(
            self.fragments,
            extracted,
            preserve_layout=opts.preserve_layout,
            sort_by_position=opts.sort_by_position,
            reconstruct_paragraphs=opts.reconstruct_paragraphs,
        )
        self.out.fragments = fragments
        self.out.text = extracted
        return self.out

    # -- fragment emission (extraction.rs emit_text_fragment:1875-1956) -----

    def _emit_fragment(self, decoded: str, text_width: float, x: float, y: float) -> None:
        if not decoded:
            return
        st = self.state
        if not self.options.include_artifacts and st.in_artifact():
            return
        is_bold, is_italic = (
            parse_font_style(st.font_name) if st.font_name else (False, False)
        )
        combined = _mul(st.text_matrix, st.ctm)
        x_scale = (combined[0] * combined[0] + combined[1] * combined[1]) ** 0.5
        y_scale = (combined[2] * combined[2] + combined[3] * combined[3]) ** 0.5
        eff_width = text_width * x_scale
        eff_size = st.font_size * y_scale
        pending = st.pending_actualtext
        if pending is not None:
            if not pending.populated:
                pending.first_x = x
                pending.first_y = y
                pending.font_size = eff_size
                pending.font_name = st.font_name
                pending.is_bold = is_bold
                pending.is_italic = is_italic
                pending.color = st.fill_color
                pending.populated = True
            pending.width += eff_width
            return
        mcid, struct_tag = _innermost_mc_tag(st.mc_stack)
        self.fragments.append(
            TextFragment(
                decoded, x, y, eff_width, eff_size, eff_size, st.font_name,
                is_bold, is_italic, st.fill_color, mcid, struct_tag,
            )
        )

    def _pending_absorb(self, x: float, y: float, eff_size: float,
                        eff_width: float) -> None:
        """C-path helper: absorb one show run into the pending ActualText
        accumulator — the pending branch of ``_emit_fragment`` with the
        effective geometry precomputed by the C loop (which reads
        font/color state straight off ``self.state``, already synced by
        the caller's write-through discipline)."""
        st = self.state
        pending = st.pending_actualtext
        if pending is None:
            return
        if not pending.populated:
            is_bold, is_italic = (
                parse_font_style(st.font_name)
                if st.font_name
                else (False, False)
            )
            pending.first_x = x
            pending.first_y = y
            pending.font_size = eff_size
            pending.font_name = st.font_name
            pending.is_bold = is_bold
            pending.is_italic = is_italic
            pending.color = st.fill_color
            pending.populated = True
        pending.width += eff_width

    # -- text helpers ------------------------------------------------------

    def _skip_artifact(self) -> bool:
        return not self.options.include_artifacts and self.state.in_artifact()

    def _decode(self, text_bytes: bytes):
        """(decoded, unit_width) for a show run — memoized per fonts scope.
        Every width path (code-indexed, composite, 0.5em fallback) is linear
        in font_size, so the memo stores width at font_size=1."""
        hit = self._font_memo.get(text_bytes)
        if hit is None:
            fname = self.state.font_name
            d = decode_text(text_bytes, fname, self.fonts)
            info = self.fonts.get(fname) if fname else None
            w1 = calculate_text_width_from_codes(text_bytes, d, 1.0, info)
            hit = (d, w1)
            self._font_memo[text_bytes] = hit
        return hit

    def _memo_for(self, font_name) -> dict:
        """Run-memo dict for ``font_name`` in the CURRENT fonts scope,
        keyed document-wide by what decode actually depends on: the
        resolved FontInfo identity when present, else the name-derived
        fallback-encoding class (decode_text's rejection fallback also
        uses that class, so two names sharing a FontInfo but mapping to
        different fallback encodings get separate buckets)."""
        info = self.fonts.get(font_name) if font_name else None
        # the FontInfo object itself is the key (identity hash; the memo
        # holds a reference, so no id-reuse hazard)
        key = (info, _fallback_enc_class(font_name))
        dm = self._decode_memo
        fm = dm.get(key)
        if fm is None:
            fm = dm[key] = {}
        return fm

    def _set_font_memo(self, font_name) -> None:
        fm = self._fm_by_name.get(font_name)
        if fm is None:
            fm = self._fm_by_name[font_name] = self._memo_for(font_name)
        self._font_memo = fm

    def _show_text(self, text_bytes: bytes) -> None:
        """ShowText / Tj (extraction.rs:867-935)."""
        st = self.state
        opts = self.options
        decoded, unit_w = self._decode(text_bytes)
        # origin = translation row of Tm × CTM (extraction.rs:1958), inlined
        tm = st.text_matrix
        ctm = st.ctm
        x = tm[4] * ctm[0] + tm[5] * ctm[2] + ctm[4]
        y = tm[4] * ctm[1] + tm[5] * ctm[3] + ctm[5]
        skip = st.artifact_n > 0 and not opts.include_artifacts
        if not skip:
            parts = self.text_parts
            if self._total:
                dy = y - self.last_y
                if dy > opts.newline_threshold or -dy > opts.newline_threshold:
                    parts.append("\n")
                    self._total += 1
                    self._last_char = "\n"
                elif x - self.last_x > opts.space_threshold * st.font_size:
                    parts.append(" ")
                    self._total += 1
                    self._last_char = " "
            if decoded:
                parts.append(decoded)
                self._total += len(decoded)
                self._last_char = decoded[-1]
        width = unit_w * st.font_size
        if self._layout:
            self._emit_fragment(decoded, width, x, y)
        self.last_x = x + width
        self.last_y = y
        tx = width * st.horizontal_scale / 100.0
        # translation-advance × Tm, inlined
        st.text_matrix = (
            tm[0], tm[1], tm[2], tm[3],
            tx * tm[0] + tm[4], tx * tm[1] + tm[5],
        )

    def _show_text_array(self, elements: list[tuple]) -> None:
        """ShowTextArray / TJ (extraction.rs:940-1030)."""
        st = self.state
        opts = self.options
        # artifact state can't change inside a TJ array — hoist the check
        skip = st.artifact_n > 0 and not opts.include_artifacts
        layout = self._layout
        if not layout:
            # fast path: no fragments/origins needed, and the per-element
            # matrix updates are pure text-space translations — they
            # compose additively, so apply ONE advance at the end
            fsize = st.font_size
            hs = st.horizontal_scale / 100.0
            thr = opts.tj_space_threshold * fsize
            tx_total = 0.0
            for kind, val in elements:
                if kind == "t":
                    decoded, unit_w = self._decode(val)
                    if not skip and decoded:
                        self.text_parts.append(decoded)
                        self._total += len(decoded)
                        self._last_char = decoded[-1]
                    tx_total += unit_w * fsize * hs
                else:
                    tx = -val / 1000.0 * fsize
                    if (
                        not skip
                        and tx > thr
                        and self._total
                        and self._last_char != " "
                    ):
                        self.text_parts.append(" ")
                        self._total += 1
                        self._last_char = " "
                    tx_total += tx
            tm = st.text_matrix
            st.text_matrix = (
                tm[0], tm[1], tm[2], tm[3],
                tx_total * tm[0] + tm[4], tx_total * tm[1] + tm[5],
            )
            return
        for kind, val in elements:
            if kind == "t":
                decoded, unit_w = self._decode(val)
                if not skip:
                    self._append(decoded)
                width = unit_w * st.font_size
                if layout:
                    fx, fy = st.origin()
                    self._emit_fragment(decoded, width, fx, fy)
                tx = width * st.horizontal_scale / 100.0
            else:  # spacing adjustment
                tx = -val / 1000.0 * st.font_size
                if (
                    not skip
                    and tx > opts.tj_space_threshold * st.font_size
                    and self._total
                    and self._last_char != " "
                ):
                    # implicit-space synthesis, no doubling (extraction.rs:976)
                    self._append(" ")
                    # synthetic single-space fragment so downstream merges see
                    # the gap as explicit content (extraction.rs:995-1028);
                    # suppressed while an ActualText run is pending
                    if layout and st.pending_actualtext is None:
                        sx, sy = st.origin()
                        self._emit_fragment(" ", tx, sx, sy)
            tm = st.text_matrix
            st.text_matrix = (
                tm[0], tm[1], tm[2], tm[3],
                tx * tm[0] + tm[4], tx * tm[1] + tm[5],
            )

    def _next_line_show(self, text_bytes: bytes) -> None:
        """' operator (extraction.rs:1035-1089): T* then show, '\\n' joined."""
        st = self.state
        nm = _mul((1.0, 0.0, 0.0, 1.0, 0.0, -st.leading), st.text_line_matrix)
        st.text_matrix = nm
        st.text_line_matrix = nm
        decoded, unit_w = self._decode(text_bytes)
        x, y = st.origin()
        if not self._skip_artifact():
            if self._total:
                self._append("\n")
            self._append(decoded)
        width = unit_w * st.font_size
        if self._layout:
            self._emit_fragment(decoded, width, x, y)
        self.last_x = x + width
        self.last_y = y
        tx = width * st.horizontal_scale / 100.0
        st.text_matrix = _mul((1.0, 0.0, 0.0, 1.0, tx, 0.0), st.text_matrix)

    # -- xobjects ----------------------------------------------------------

    def _paint_xobject(self, name: str, resources: dict | None, depth: int) -> None:
        """Do (extraction.rs:1313-1392 + extract_images.rs reference capture)."""
        if self.reader is None or resources is None:
            return
        reader = self.reader
        xobjects = resources.get("XObject")
        if isinstance(xobjects, Ref):
            xobjects = reader.resolve(xobjects)
        if not isinstance(xobjects, dict):
            return
        target = xobjects.get(name)
        obj = reader.resolve(target) if isinstance(target, Ref) else target
        if not isinstance(obj, Stream):
            return
        subtype = str(obj.dict.get("Subtype", ""))
        if subtype == "Image":
            self._emit_image(name)
            return
        if subtype != "Form" or depth >= MAX_XOBJECT_DEPTH:
            return
        # Form XObject: implicit q/Q, /Matrix onto CTM, own /Resources fonts
        try:
            data = obj.decode(resolve=reader.resolve)
        except Exception:
            return
        xres = obj.dict.get("Resources")
        if isinstance(xres, Ref):
            xres = reader.resolve(xres)
        xres = xres if isinstance(xres, dict) else None
        st = self.state
        saved_ctm = st.ctm
        saved_fill = st.fill_color
        saved_stack_len = len(st.saved)
        saved_fonts = self.fonts
        matrix = obj.dict.get("Matrix")
        if isinstance(matrix, list) and len(matrix) == 6:
            try:
                m = tuple(float(v) for v in matrix)
                st.ctm = _mul(m, st.ctm)
            except (TypeError, ValueError):
                pass
        saved_fm_names = self._fm_by_name
        if xres is not None:
            merged = dict(self.fonts)
            merged.update(extract_page_fonts(xres, reader))
            self.fonts = merged
            # names may resolve to different FontInfos inside the XObject
            # scope; the document-level run memo itself stays valid (keyed
            # by FontInfo, not name)
            self._fm_by_name = {}
            self._set_font_memo(st.font_name)
        saved_in_text = self.in_text
        self.in_text = False
        try:
            # a malformed Form XObject is contained to itself: whatever it
            # managed to emit stays, the failure never aborts the page
            # (tolerant-mode discipline; the old two-pass code swallowed
            # parse errors the same way)
            parse_and_run(
                self, data, xres if xres is not None else resources, depth + 1
            )
        except Exception:
            pass
        finally:
            self.in_text = saved_in_text
            st.ctm = saved_ctm
            st.fill_color = saved_fill
            del st.saved[saved_stack_len:]
            self.fonts = saved_fonts
            self._fm_by_name = saved_fm_names
            # font_name deliberately persists across the xobject (reference
            # behavior) — re-point the hot memo at the now-current font
            self._set_font_memo(st.font_name)

    # -- marked-content ops (shared by run() and the fused stream path) ------

    def _op_bmc(self, tag: str) -> None:
        st = self.state
        parent_artifact = bool(st.mc_stack) and st.mc_stack[-1][1]
        is_art = tag == "Artifact" or parent_artifact
        st.artifact_n += is_art
        st.mc_stack.append([tag, is_art, None, None])

    def _op_bdc(self, tag: str, props, resources) -> None:
        st = self.state
        parent_artifact = bool(st.mc_stack) and st.mc_stack[-1][1]
        page_properties = None
        if isinstance(resources, dict):
            pp = resources.get("Properties")
            if self.reader is not None and isinstance(pp, Ref):
                pp = self.reader.resolve(pp)
            page_properties = pp if isinstance(pp, dict) else None
        mcid, actual_text = _resolve_props(props, page_properties, self.reader)
        if actual_text is not None:
            # open a pending run, flushed on the matching EMC
            # (innermost-ActualText-wins, extraction.rs:1256-1272)
            st.pending_actualtext = _PendingActualText(
                actual_text, st.font_size, st.font_name,
                st.fill_color, len(st.mc_stack),
            )
        is_art = tag == "Artifact" or parent_artifact
        st.artifact_n += is_art
        st.mc_stack.append([tag, is_art, mcid, actual_text])

    def _op_emc(self) -> None:
        st = self.state
        popped_depth = len(st.mc_stack)
        if st.mc_stack:
            st.artifact_n -= st.mc_stack.pop()[1]
            pending = st.pending_actualtext
            if pending is not None and pending.stack_depth + 1 == popped_depth:
                st.pending_actualtext = None
                if pending.populated and self._layout:
                    mcid, struct_tag = _innermost_mc_tag(st.mc_stack)
                    in_artifact = st.in_artifact()
                    if not in_artifact or self.options.include_artifacts:
                        self.fragments.append(
                            TextFragment(
                                pending.text, pending.first_x,
                                pending.first_y, pending.width,
                                pending.font_size, pending.font_size,
                                pending.font_name, pending.is_bold,
                                pending.is_italic, pending.color,
                                mcid, struct_tag,
                            )
                        )

    # -- main loop -----------------------------------------------------------

    def run(self, ops: list[tuple], resources: dict | None, depth: int = 0) -> None:
        st = self.state
        # branch chain ordered by real-document frequency (Cold_Email
        # histogram: Td/Tj 59.6k, BT/Tf/Tm/ET 31.6k each, rest <2k)
        for op in ops:
            tag = op[0]
            if tag == "Td":
                # translation × text_line_matrix, inlined (_mul with the
                # a=(1,0,0,1,tx,ty) special case)
                t = st.text_line_matrix
                nm = (
                    t[0], t[1], t[2], t[3],
                    op[1] * t[0] + op[2] * t[2] + t[4],
                    op[1] * t[1] + op[2] * t[3] + t[5],
                )
                st.text_matrix = nm
                st.text_line_matrix = nm
            elif tag == "Tj":
                if self.in_text:
                    self._show_text(op[1])
            elif tag == "Tm":
                m = (op[1], op[2], op[3], op[4], op[5], op[6])
                st.text_matrix = m
                st.text_line_matrix = m
            elif tag == "Tf":
                st.font_name = op[1]
                st.font_size = op[2]
                self._set_font_memo(op[1])
            elif tag == "BT":
                self.in_text = True
                st.text_matrix = IDENTITY
                st.text_line_matrix = IDENTITY
            elif tag == "ET":
                self.in_text = False
            elif tag == "TJ":
                if self.in_text:
                    self._show_text_array(op[1])
            elif tag == "T*":
                t = st.text_line_matrix
                lead = st.leading
                nm = (
                    t[0], t[1], t[2], t[3],
                    -lead * t[2] + t[4],
                    -lead * t[3] + t[5],
                )
                st.text_matrix = nm
                st.text_line_matrix = nm
            elif tag == "'":
                if self.in_text:
                    self._next_line_show(op[1])
            elif tag == '"':
                if self.in_text:
                    # aw Tw, ac Tc, then ' (ISO §9.4.3; extraction.rs:1091)
                    st.word_space = op[1]
                    st.char_space = op[2]
                    self._next_line_show(op[3])
            elif tag == "TL":
                st.leading = op[1]
            elif tag == "Tc":
                st.char_space = op[1]
            elif tag == "Tw":
                st.word_space = op[1]
            elif tag == "Tz":
                st.horizontal_scale = op[1]
            elif tag == "Ts":
                st.text_rise = op[1]
            elif tag == "Tr":
                st.render_mode = op[1]
            elif tag == "cm":
                st.ctm = _mul((op[1], op[2], op[3], op[4], op[5], op[6]), st.ctm)
            elif tag == "q":
                st.saved.append((st.ctm, st.fill_color))
            elif tag == "Q":
                if st.saved:
                    st.ctm, st.fill_color = st.saved.pop()
            elif tag == "BMC":
                self._op_bmc(op[1])
            elif tag == "BDC":
                self._op_bdc(op[1], op[2], resources)
            elif tag == "EMC":
                self._op_emc()
            elif tag == "g":
                st.fill_color = ("gray", op[1])
            elif tag == "rg":
                st.fill_color = ("rgb", op[1], op[2], op[3])
            elif tag == "k":
                st.fill_color = ("cmyk", op[1], op[2], op[3], op[4])
            elif tag == "Do":
                self._paint_xobject(op[1], resources, depth)
            elif tag == "BI":
                self._emit_image(f"inline:{self.page_index}:{self._inline_idx}")
                self._inline_idx += 1
            # all other operators have no extraction effect (extraction.rs _=>{})
