"""HTML main-content extraction: boilerplate strip via DOM heuristics.

The north_rule scopes the engine as a *main-content extraction pipeline*
(HTML boilerplate strip, PDF/layout parse, DOM heuristics). This module is
the HTML leg: a stdlib ``html.parser`` pass segments text at block
boundaries, then readability-style heuristics keep content segments:

- structural strip: <script>/<style>/<template>/<noscript>/<head> contents
  dropped entirely
- boilerplate subtrees: <nav>/<header>/<footer>/<aside>/<form>/<button>
  and any element whose class/id/role matches navigation/ad/cookie/...
  hints (the DOM heuristics) — the whole subtree is pruned
- link-density: segments whose text is mostly anchor text are navigation
- length: segments under ``min_block_chars`` are page furniture

Output mirrors the PDF leg: ordered (kind, text, media_ref) spans — one
``text`` span per kept segment in document order, ``image`` spans for
in-content <img src> — so interleaved corpora mix ``raw_pdf`` and
``raw_html`` payload spans under one contract (FIXTURES.md §1.1).

Per-document, in-UDF, tolerant: malformed markup never raises
(html.parser is non-validating; unbalanced tags degrade to keeping more
content, never to crashing).
"""

from __future__ import annotations

import re
from html.parser import HTMLParser

_DROP_CONTENT = {"script", "style", "template", "noscript", "svg", "head"}
_BOILER_TAGS = {"nav", "header", "footer", "aside", "form", "button"}
_BLOCK_TAGS = {
    "p", "div", "section", "article", "main", "body", "li", "td", "th",
    "h1", "h2", "h3", "h4", "h5", "h6", "blockquote", "pre", "figcaption",
    "ul", "ol", "table", "tr",
}
_VOID_TAGS = {"br", "hr", "img", "meta", "link", "input", "wbr", "source"}
_BOILER_HINT = re.compile(
    r"nav|menu|sidebar|side-bar|footer|header|banner|breadcrumb|"
    r"\bad\b|ads|advert|cookie|consent|popup|modal|share|social|comment|"
    r"related|promo|subscribe|newsletter",
    re.IGNORECASE,
)
_WS = re.compile(r"\s+")

LINK_DENSITY_MAX = 0.5
MIN_BLOCK_CHARS = 10


def _is_boiler(tag: str, attrs) -> bool:
    if tag in _BOILER_TAGS:
        return True
    for k, v in attrs:
        if k in ("class", "id", "role") and v and _BOILER_HINT.search(v):
            return True
    return False


class _MainContentParser(HTMLParser):
    """Streams text into segments; a segment closes at every block boundary
    (block open/close, image), so emission order == document order. An
    explicit element stack tracks which open elements contributed drop /
    boilerplate state, so class-hinted containers unwind correctly."""

    def __init__(self):
        super().__init__(convert_charrefs=True)
        self._stack: list[tuple[str, bool, bool]] = []  # (tag, drops, boils)
        self._drop_depth = 0
        self._boiler_depth = 0
        self._anchor_depth = 0
        self._seg: list[str] = []
        self._seg_link = 0
        self.events: list[tuple] = []  # ('text', raw, link_chars) | ('img', src)
        # outbound links: EVERY anchor with an href, including nav/footer
        # boilerplate (crawl pipelines want the full out-link set even
        # where main-content extraction drops the text)
        self.links: list[tuple[str, str]] = []  # (href, anchor_text)
        self._anchor_stack: list[list] = []  # [href, [text parts]]

    def _flush(self) -> None:
        if self._seg:
            self.events.append(("text", "".join(self._seg), self._seg_link))
            self._seg = []
            self._seg_link = 0

    def handle_starttag(self, tag, attrs):
        if tag in _VOID_TAGS:
            if tag == "img" and not self._drop_depth and not self._boiler_depth:
                self._flush()
                src = dict(attrs).get("src") or ""
                if src:
                    self.events.append(("img", src))
            elif tag == "br":
                self._flush()
            return
        drops = tag in _DROP_CONTENT
        boils = not drops and _is_boiler(tag, attrs)
        if tag in _BLOCK_TAGS or boils or drops:
            self._flush()
        self._stack.append((tag, drops, boils))
        if drops:
            self._drop_depth += 1
        if boils:
            self._boiler_depth += 1
        if tag == "a":
            self._anchor_depth += 1
            self._anchor_stack.append([dict(attrs).get("href") or "", []])

    def handle_startendtag(self, tag, attrs):
        self.handle_starttag(tag, attrs)
        if tag not in _VOID_TAGS:
            self.handle_endtag(tag)

    def handle_endtag(self, tag):
        if tag in _VOID_TAGS:
            return
        # unwind to the nearest matching open tag (recovery for unbalanced
        # markup); unknown closers are ignored
        for i in range(len(self._stack) - 1, -1, -1):
            if self._stack[i][0] == tag:
                if tag in _BLOCK_TAGS or self._stack[i][2]:
                    self._flush()
                for t, drops, boils in self._stack[i:]:
                    if drops:
                        self._drop_depth = max(0, self._drop_depth - 1)
                    if boils:
                        self._boiler_depth = max(0, self._boiler_depth - 1)
                    if t == "a":
                        self._anchor_depth = max(0, self._anchor_depth - 1)
                        if self._anchor_stack:
                            href, parts = self._anchor_stack.pop()
                            if href:
                                self.links.append(
                                    (href, _WS.sub(" ", "".join(parts)).strip())
                                )
                del self._stack[i:]
                return

    def handle_data(self, data):
        if self._anchor_stack and not self._drop_depth and data:
            self._anchor_stack[-1][1].append(data)
        if self._drop_depth or self._boiler_depth:
            return
        if not data or data.isspace():
            return
        self._seg.append(data)
        if self._anchor_depth:
            self._seg_link += len(_WS.sub(" ", data).strip())

    def close(self):
        super().close()
        self._flush()


# C fast-path helper (installed into _cscan via setup_html): the C
# tokenizer delegates exactly this back to Python, where a byte-level
# reimplementation would be risky (unicode \b in the hint regex)
def _hint_value(v: str) -> bool:
    return _BOILER_HINT.search(v) is not None


def _py_events(html: str):
    """(events, links) from the pure-Python ``html.parser`` pass, the
    behavior authority."""
    parser = _MainContentParser()
    try:
        parser.feed(html)
        parser.close()
    except Exception:
        pass  # tolerate pathological markup; keep whatever parsed
    return parser.events, parser.links


def _parse_events(html: str):
    """(events, links) via the C tokenizer (html_events, _cscan.c — a
    transcription of this module's html.parser pass) when available;
    any bail/None/exception falls back to the pure-Python authority."""
    from .content import _CSCAN

    if _CSCAN is not None:
        try:
            r = _CSCAN.html_events(html)
        except Exception:
            r = None
        if r is not None:
            return r
    return _py_events(html)


def extract_html_spans(
    html: str,
    link_density_max: float = LINK_DENSITY_MAX,
    min_block_chars: int = MIN_BLOCK_CHARS,
) -> list[tuple[str, str, str | None]]:
    """One HTML document → ordered main-content spans: kept segments as
    ``text`` spans (whitespace-normalized, document order), in-content
    images as ``image`` spans with media_ref = the src attribute.

    With the C kernel loaded, the tokenizer and this filter run in one
    call (``html_spans``, _cscan.c, collecting no links); on its bail the
    Python parser and the loop below decide."""
    from .content import _CSCAN

    if _CSCAN is not None:
        try:
            spans = _CSCAN.html_spans(html, link_density_max, min_block_chars)
        except Exception:
            spans = None
        if spans is not None:
            return spans
    events, _links = _py_events(html)
    spans: list[tuple[str, str, str | None]] = []
    for ev in events:
        if ev[0] == "img":
            spans.append(("image", "", ev[1]))
            continue
        _, raw, link_chars = ev
        text = _WS.sub(" ", raw).strip()
        if len(text) < min_block_chars:
            continue
        if link_chars / max(len(text), 1) > link_density_max:
            continue
        spans.append(("text", text, None))
    return spans


def extract_html_links(html: str) -> list[tuple[str, str]]:
    """All outbound links of a document as (href, anchor_text) in document
    order — the crawl-graph surface. Unlike the main-content span path,
    boilerplate anchors (nav, footers, link farms) ARE included: out-link
    mining wants the full edge set; script/style content is still dropped."""
    _events, links = _parse_events(html)
    return links
