"""Content-stream tokenizer and operator parser — the hot loop.

Reimplements (in-UDF, per page):

- ContentTokenizer incl. inline-image raw mode:
  oxidize-pdf-core/src/parser/content.rs:433-870
  (next_token 452, literal strings + octal 601-668, hex 672, names 745,
   read_operator 782, read_inline_image_data 808)
- ContentParser operand-stack dispatch over the full 73-operator set:
  content.rs:886-1306 (malformed-operator resync content.rs:985-999,
  the ``\"`` aw/ac ISO §9.4.3 operand order content.rs:1084-1093)

Tokenization strategy (BASELINE.json "batched byte-stream passes"): one
compiled master regex consumes whitespace/comments/numbers/names/operators/
delimiters in single C-level ``match`` calls at a moving cursor; only
literal strings (nesting + escapes) and inline-image payloads drop into a
dedicated scanner. Per-token Python overhead is one regex match + one
branch, with no per-character loops on the common path.

Operations are emitted as tuples ``(op, *operands)`` with the PDF operator
mnemonic as tag. Text-showing arrays (TJ) become lists of
``('t', bytes) | ('s', float)`` elements mirroring TextElement
(content.rs:405-411).
"""

from __future__ import annotations

import re
from binascii import unhexlify as _unhex

# Leading whitespace/comments are folded into every token match so the
# finditer sweep yields exactly one match per token (no separate skip
# matches — they would double the Python-level iteration count).
_MASTER = re.compile(
    # fused skippable prefix — ATOMIC: a comment runs to EOL or EOF
    # (content.rs:539 skip_comment); a backtrackable prefix would give
    # comment bytes back to the token body and hallucinate tokens out of
    # comment text (b'%ET q' tokenized as op 'q')
    rb"(?>(?:[\x00\t\n\x0c\r ]+|%[^\r\n]*)*)"
    rb"(?:(?P<num>[+-]?(?:\d+\.\d*|\.\d+|\d+))"
    # fast path: flat literal string (no nesting/escapes) resolved in-regex;
    # anything trickier falls through to the lstr scanner
    rb"|(?P<sstr>\([^()\\]*\))"
    rb"|(?P<lstr>\()"
    rb"|(?P<op>[^\x00\t\n\x0c\r ()<>\[\]{}/%;]+)"
    rb"|(?P<name>/[^\x00\t\n\x0c\r ()<>\[\]{}/%]*)"
    rb"|(?P<dopen><<)"
    rb"|(?P<dclose>>>)"
    rb"|(?P<hstr><[0-9A-Fa-f\x00\t\n\x0c\r ]*>)"
    rb"|(?P<aopen>\[)"
    rb"|(?P<aclose>\])"
    rb"|(?P<skipd>[;){}])"
    # end-of-data: lets the atomic prefix consume a TRAILING comment/ws
    # run (otherwise the match fails at EOF and finditer re-enters the
    # comment's interior)
    rb"|(?P<eod>\Z))"
)

_NAME_HEX = re.compile(rb"#([0-9A-Fa-f]{2})")

_EOL_WS = b" \t\r\n\x0c"


class ContentParseError(Exception):
    pass


def _decode_name(raw: bytes) -> str:
    if b"#" in raw:
        raw = _NAME_HEX.sub(lambda m: bytes([int(m.group(1), 16)]), raw)
    return raw.decode("latin-1")


def _read_literal_string(data: bytes, pos: int) -> tuple[bytes, int]:
    """Literal string scanner (content.rs:601-652): nesting, escapes, octal
    with ISO §7.3.4.2 overflow (value & 0xFF)."""
    out = bytearray()
    depth = 1
    n = len(data)
    i = pos
    while i < n and depth > 0:
        c = data[i]
        i += 1
        if c == 0x5C:  # backslash
            if i >= n:
                break
            e = data[i]
            i += 1
            if e == 0x6E:
                out.append(0x0A)
            elif e == 0x72:
                out.append(0x0D)
            elif e == 0x74:
                out.append(0x09)
            elif e == 0x62:
                out.append(0x08)
            elif e == 0x66:
                out.append(0x0C)
            elif e in b"()\\":
                out.append(e)
            elif 0x30 <= e <= 0x37:
                val = e - 0x30
                cnt = 1
                while cnt < 3 and i < n and 0x30 <= data[i] <= 0x37:
                    val = val * 8 + (data[i] - 0x30)
                    i += 1
                    cnt += 1
                out.append(val & 0xFF)
            else:
                out.append(e)  # unknown escape → literal (content.rs:628)
        elif c == 0x28:
            depth += 1
            out.append(c)
        elif c == 0x29:
            depth -= 1
            if depth > 0:
                out.append(c)
        else:
            out.append(c)
    return bytes(out), i


def _read_inline_image_data(data: bytes, pos: int) -> tuple[bytes, int]:
    """Raw bytes between ID and EI (content.rs:808-870): skip one whitespace
    after ID, then scan for whitespace-preceded 'EI' followed by a boundary."""
    n = len(data)
    if pos < n and data[pos] in b" \n\r\t":
        ch = data[pos]
        pos += 1
        if ch == 0x0D and pos < n and data[pos] == 0x0A:
            pos += 1
    start = pos
    i = pos
    while i + 1 < n:
        preceded = i == start or data[i - 1] in _EOL_WS
        if preceded and data[i] == 0x45 and data[i + 1] == 0x49:  # 'EI'
            after = i + 2
            if after >= n or data[after] in b" \t\r\n\x0c/<([%":
                end = i
                if end > start and data[end - 1] in _EOL_WS:
                    end -= 1
                return data[start:end], after
        i += 1
    return data[start:], n


def tokenize(data: bytes) -> list[tuple]:
    """Tokenize a content stream; best-effort (keeps tokens on tail errors,
    content.rs:941-960). Token kinds: 'int' 'num' 'str' 'hex' 'name'
    'arr[' 'arr]' 'dict<<' 'dict>>' 'op' 'inline'.

    Bulk pass: ``finditer`` iterates contiguous token runs at C speed; the
    iterator is only restarted after the two constructs that move the cursor
    themselves (nested/escaped literal strings, inline-image payloads) —
    both rare, so nearly the whole stream tokenizes in one sweep."""
    tokens: list[tuple] = []
    push = tokens.append
    pos = 0
    n = len(data)
    gi = _MASTER.groupindex
    NUM, SSTR, OP, LSTR, HSTR, NAME = (
        gi["num"], gi["sstr"], gi["op"], gi["lstr"], gi["hstr"], gi["name"],
    )
    AOPEN, ACLOSE, DOPEN, DCLOSE = (
        gi["aopen"], gi["aclose"], gi["dopen"], gi["dclose"],
    )
    while pos < n:
        restart = False
        for m in _MASTER.finditer(data, pos):
            # bytes between matches are unhandled delimiters — skipped, same
            # as the reference (content.rs:509-514). Dispatch on the integer
            # group index (lastindex): faster than the name lookup, and
            # m.end() is only needed on the two restart branches.
            kind = m.lastindex
            if kind is None:
                continue  # whitespace/comment run
            if kind == NUM:
                t = m.group(NUM)
                if b"." in t:
                    push(("num", float(t)))
                else:
                    push(("int", int(t)))
            elif kind == SSTR:
                push(("str", m.group(SSTR)[1:-1]))
            elif kind == OP:
                op = m.group(OP).decode("latin-1")
                push(("op", op))
                if op == "ID":
                    payload, pos = _read_inline_image_data(data, m.end())
                    push(("inline", payload))
                    restart = True
                    break
            elif kind == LSTR:
                s, pos = _read_literal_string(data, m.end())
                push(("str", s))
                restart = True
                break
            elif kind == HSTR:
                h = m.group(HSTR)[1:-1]
                clean = bytes(c for c in h if c not in _EOL_WS)
                if len(clean) % 2:
                    clean += b"0"
                push(("hex", bytes.fromhex(clean.decode("ascii"))))
            elif kind == NAME:
                push(("name", _decode_name(m.group(NAME)[1:])))
            elif kind == AOPEN:
                push(("arr[", None))
            elif kind == ACLOSE:
                push(("arr]", None))
            elif kind == DOPEN:
                push(("dict<<", None))
            elif kind == DCLOSE:
                push(("dict>>", None))
            # 'skipd' delimiters are dropped
        if not restart:
            break
    return tokens


# --- operand pops (content.rs:1310-1420) -----------------------------------


def _pop_number(st: list) -> float:
    t = st.pop()
    if t[0] in ("num", "int"):
        return float(t[1])
    raise ContentParseError("expected number operand")


def _pop_integer(st: list) -> int:
    t = st.pop()
    if t[0] == "int":
        return t[1]
    raise ContentParseError("expected integer operand")


def _pop_name(st: list) -> str:
    t = st.pop()
    if t[0] == "name":
        return t[1]
    raise ContentParseError("expected name operand")


def _pop_string(st: list) -> bytes:
    t = st.pop()
    if t[0] in ("str", "hex"):
        return t[1]
    raise ContentParseError("expected string operand")


def _pop_array(st: list) -> list[tuple]:
    if st and st[-1][0] == "arr]":
        st.pop()
    arr: list[tuple] = []
    found = False
    while st:
        t = st.pop()
        if t[0] == "arr[":
            found = True
            break
        if t[0] == "arr]":
            continue
        arr.append(t)
    if not found:
        raise ContentParseError("expected array")
    arr.reverse()
    return arr


def _token_to_value(t: tuple, st: list):
    """Marked-content property values (content.rs token_to_mc_value)."""
    kind = t[0]
    if kind in ("str", "hex"):
        return t[1]
    if kind == "int":
        return t[1]
    if kind == "num":
        return t[1]
    if kind == "name":
        return t[1]
    if kind == "arr]":
        items = []
        while st:
            nxt = st.pop()
            if nxt[0] == "arr[":
                items.reverse()
                return items
            items.append(_token_to_value(nxt, st))
        raise ContentParseError("unterminated array in props")
    if kind == "dict>>":
        nested: dict = {}
        while st:
            nxt = st.pop()
            if nxt[0] == "dict<<":
                return nested
            value = _token_to_value(nxt, st)
            key = st.pop()
            if key[0] != "name":
                raise ContentParseError("expected name key in nested dict")
            nested[key[1]] = value
        raise ContentParseError("unterminated nested dict in props")
    raise ContentParseError(f"unexpected token in props: {kind}")


def _pop_dict_or_name(st: list):
    """BDC/DP props: Name → ('ref', name); inline dict → ('dict', {...})
    (content.rs:1392-1420)."""
    if not st:
        raise ContentParseError("expected dict or name operand")
    t = st.pop()
    if t[0] == "name":
        return ("ref", t[1])
    if t[0] == "dict>>":
        d: dict = {}
        while True:
            if not st:
                raise ContentParseError("unterminated inline dict")
            nxt = st.pop()
            if nxt[0] == "dict<<":
                break
            value = _token_to_value(nxt, st)
            if not st:
                raise ContentParseError("missing key in inline dict")
            key = st.pop()
            if key[0] != "name":
                raise ContentParseError("expected name key in inline dict")
            d[key[1]] = value
        return ("dict", d)
    raise ContentParseError("expected name or inline dict")


def _pop_colors(st: list) -> list[float]:
    comps: list[float] = []
    while st and st[-1][0] in ("num", "int"):
        comps.append(float(st.pop()[1]))
    comps.reverse()
    return comps


def _text_array(tokens: list[tuple]) -> list[tuple]:
    """TJ array → [('t', bytes) | ('s', float)] (content.rs parse_text_array)."""
    out = []
    for t in tokens:
        if t[0] in ("str", "hex"):
            out.append(("t", t[1]))
        elif t[0] in ("num", "int"):
            out.append(("s", float(t[1])))
        else:
            raise ContentParseError("invalid element in text array")
    return out


_INLINE_KEYS = {
    "W": "Width",
    "H": "Height",
    "CS": "ColorSpace",
    "BPC": "BitsPerComponent",
    "F": "Filter",
    "DP": "DecodeParms",
    "IM": "ImageMask",
    "I": "Interpolate",
    "D": "Decode",
}

# number-of-operand validation is implicit in the pop sequences below
_ZERO_OPERAND = {
    "BT": ("BT",),
    "ET": ("ET",),
    "T*": ("T*",),
    "q": ("q",),
    "Q": ("Q",),
    "h": ("h",),
    "S": ("S",),
    "s": ("s",),
    "f": ("f",),
    "F": ("f",),
    "f*": ("f*",),
    "B": ("B",),
    "B*": ("B*",),
    "b": ("b",),
    "b*": ("b*",),
    "n": ("n",),
    "W": ("W",),
    "W*": ("W*",),
    "EMC": ("EMC",),
    "BX": ("BX",),
    "EX": ("EX",),
}


def _apply_op(op: str, st: list, ops: list) -> None:
    """Dispatch one operator against the operand stack, appending the parsed
    operation (content.rs:1007-1306). Raises ContentParseError on operand
    mismatch / unknown operator; BI/ID/EI are handled by the callers."""
    if True:
        if True:
            z = _ZERO_OPERAND.get(op)
            if z is not None:
                ops.append(z)
            elif op == "Tj":
                ops.append(("Tj", _pop_string(st)))
            elif op == "TJ":
                ops.append(("TJ", _text_array(_pop_array(st))))
            elif op == "'":
                ops.append(("'", _pop_string(st)))
            elif op == '"':
                # ISO §9.4.3 operand order: aw ac string (content.rs:1084-1093)
                text = _pop_string(st)
                ac = _pop_number(st)
                aw = _pop_number(st)
                ops.append(('"', aw, ac, text))
            elif op == "Td":
                ty = _pop_number(st)
                tx = _pop_number(st)
                ops.append(("Td", tx, ty))
            elif op == "TD":
                ty = _pop_number(st)
                tx = _pop_number(st)
                ops.append(("TD", tx, ty))
            elif op == "Tm":
                f = _pop_number(st)
                e = _pop_number(st)
                d = _pop_number(st)
                c = _pop_number(st)
                b = _pop_number(st)
                a = _pop_number(st)
                ops.append(("Tm", a, b, c, d, e, f))
            elif op == "Tf":
                size = _pop_number(st)
                font = _pop_name(st)
                ops.append(("Tf", font, size))
            elif op == "Tc":
                ops.append(("Tc", _pop_number(st)))
            elif op == "Tw":
                ops.append(("Tw", _pop_number(st)))
            elif op == "Tz":
                ops.append(("Tz", _pop_number(st)))
            elif op == "TL":
                ops.append(("TL", _pop_number(st)))
            elif op == "Tr":
                ops.append(("Tr", _pop_integer(st)))
            elif op == "Ts":
                ops.append(("Ts", _pop_number(st)))
            elif op == "cm":
                f = _pop_number(st)
                e = _pop_number(st)
                d = _pop_number(st)
                c = _pop_number(st)
                b = _pop_number(st)
                a = _pop_number(st)
                ops.append(("cm", a, b, c, d, e, f))
            elif op == "w":
                ops.append(("w", _pop_number(st)))
            elif op == "J":
                ops.append(("J", _pop_integer(st)))
            elif op == "j":
                ops.append(("j", _pop_integer(st)))
            elif op == "M":
                ops.append(("M", _pop_number(st)))
            elif op == "d":
                phase = _pop_number(st)
                arr = _pop_array(st)
                pattern = [float(x[1]) for x in arr if x[0] in ("num", "int")]
                ops.append(("d", pattern, phase))
            elif op == "ri":
                ops.append(("ri", _pop_name(st)))
            elif op == "i":
                ops.append(("i", _pop_number(st)))
            elif op == "gs":
                ops.append(("gs", _pop_name(st)))
            elif op == "m":
                y = _pop_number(st)
                x = _pop_number(st)
                ops.append(("m", x, y))
            elif op == "l":
                y = _pop_number(st)
                x = _pop_number(st)
                ops.append(("l", x, y))
            elif op == "c":
                vals = [_pop_number(st) for _ in range(6)]
                ops.append(("c", *reversed(vals)))
            elif op == "v":
                vals = [_pop_number(st) for _ in range(4)]
                ops.append(("v", *reversed(vals)))
            elif op == "y":
                vals = [_pop_number(st) for _ in range(4)]
                ops.append(("y", *reversed(vals)))
            elif op == "re":
                h = _pop_number(st)
                wdt = _pop_number(st)
                y = _pop_number(st)
                x = _pop_number(st)
                ops.append(("re", x, y, wdt, h))
            elif op in ("CS", "cs", "sh", "Do"):
                ops.append((op, _pop_name(st)))
            elif op in ("SC", "SCN"):
                ops.append(("SC", _pop_colors(st)))
            elif op in ("sc", "scn"):
                ops.append(("sc", _pop_colors(st)))
            elif op == "G":
                ops.append(("G", _pop_number(st)))
            elif op == "g":
                ops.append(("g", _pop_number(st)))
            elif op == "RG":
                b3 = _pop_number(st)
                g2 = _pop_number(st)
                r1 = _pop_number(st)
                ops.append(("RG", r1, g2, b3))
            elif op == "rg":
                b3 = _pop_number(st)
                g2 = _pop_number(st)
                r1 = _pop_number(st)
                ops.append(("rg", r1, g2, b3))
            elif op == "K":
                vals = [_pop_number(st) for _ in range(4)]
                ops.append(("K", *reversed(vals)))
            elif op == "k":
                vals = [_pop_number(st) for _ in range(4)]
                ops.append(("k", *reversed(vals)))
            elif op == "BMC":
                ops.append(("BMC", _pop_name(st)))
            elif op == "BDC":
                props = _pop_dict_or_name(st)
                tag = _pop_name(st)
                ops.append(("BDC", tag, props))
            elif op == "MP":
                ops.append(("MP", _pop_name(st)))
            elif op == "DP":
                props = _pop_dict_or_name(st)
                tag = _pop_name(st)
                ops.append(("DP", tag, props))
            elif op == "ID" or op == "EI":
                # handled by callers / tokenizer; stray ones are skipped
                pass
            else:
                raise ContentParseError(f"unknown operator: {op}")


def parse_operators(tokens: list[tuple]) -> list[tuple]:
    """Operand-stack → operation list with per-operator resync on errors
    (content.rs:970-1010). Returns tuples tagged by mnemonic."""
    ops: list[tuple] = []
    st: list[tuple] = []
    i = 0
    n = len(tokens)
    while i < n:
        t = tokens[i]
        i += 1
        if t[0] != "op":
            st.append(t)
            continue
        op = t[1]
        if op == "BI":
            st.clear()
            params, data, i = _parse_inline_image(tokens, i)
            ops.append(("BI", params, data))
            continue
        try:
            _apply_op(op, st, ops)
        except (ContentParseError, IndexError):
            pass  # skip malformed operator, resync (content.rs:985-999)
        st.clear()
    return ops


def _parse_inline_image(tokens: list[tuple], i: int) -> tuple[dict, bytes, int]:
    """BI … ID <raw> EI (content.rs:1563-1621). Returns (params, data, new_i)."""
    params: dict = {}
    n = len(tokens)
    while i < n:
        t = tokens[i]
        if t[0] == "op" and t[1] == "ID":
            i += 1
            break
        if t[0] == "name":
            key = _INLINE_KEYS.get(t[1], t[1])
            i += 1
            if i >= n:
                break
            v = tokens[i]
            if v[0] in ("int", "num"):
                params[key] = v[1]
            elif v[0] == "name":
                params[key] = v[1]
            elif v[0] in ("str", "hex"):
                params[key] = v[1]
            else:
                params[key] = None
            i += 1
        else:
            i += 1
    data = b""
    if i < n and tokens[i][0] == "inline":
        data = tokens[i][1]
        i += 1
    return params, data, i


# ---------------------------------------------------------------------------
# fused fast parser (the hot loop of the whole engine)
# ---------------------------------------------------------------------------
#
# Real text-heavy PDFs are dominated by the show cycle — on the reference's
# Cold_Email fixture the operator histogram is Td/Tj 59.6k each and
# BT/Tf/Tm/ET 31.6k each out of 249.6k total ops. parse_content therefore:
#
# 1. fuses the two dominant patterns into single regex matches (macro ops):
#      M1:  x y Td (flat) Tj     → ("Td",x,y), ("Tj",s) in ONE C-level match
#      M2:  (flat) Tj            → ("Tj",s)
#    Anything the macros can't express (escapes, hex strings, TD, arrays)
#    falls through to the generic token alternatives below them.
# 2. keeps the operand stack as RAW VALUES (float/int/bytes/str + four
#    marker sentinels) instead of ("kind", value) tuples — one allocation
#    per token saved on the ~60% of tokens that are numbers.
# 3. dispatches operators via a bytes→opcode dict (no .decode per op) with
#    the branch chain ordered by real-document frequency.
#
# Output is tuple-for-tuple identical to parse_operators(tokenize(data)) —
# pinned by the hypothesis differential test (tests/test_property.py).

_NUMPAT = rb"[+-]?(?:\d+\.\d*|\.\d+|\d+)"
# atomic variant for the macro alternatives: numbers are maximal-munch in
# the tokenizer, so forbidding backtracking into them is semantics-neutral
# and prevents exponential re-splitting when a macro alternative fails
_NUMPAT_A = rb"[+-]?(?>\d+\.\d*|\.\d+|\d+)"
_WS1 = rb"[\x00\t\n\x0c\r ]"
_HEXCLS = rb"[0-9A-Fa-f\x00\t\n\x0c\r ]"
_BOUND = rb"(?=[\x00\t\n\x0c\r ()<>\[\]{}/%;]|$)"

_MASTER_FAST = re.compile(
    rb"(?>(?:[\x00\t\n\x0c\r ]+|%[^\r\n]*)*)"  # fused skippable prefix (atomic)
    rb"(?:"
    # M0: BT /f s Tf a b c d e f Tm x y Td (s)|<hex> Tj [ET] — a whole
    # machine-generated text block in ONE match (prefix 'BT' makes the
    # alternative nearly free to reject everywhere else)
    rb"BT" + _WS1 + rb"*"
    rb"(?P<b0h>"
    rb"/(?P<b0n>[^\x00\t\n\x0c\r ()<>\[\]{}/%]*)" + _WS1 + rb"+"
    rb"(?P<b0s>" + _NUMPAT_A + rb")" + _WS1 + rb"+Tf" + _WS1 + rb"+"
    rb"(?P<b0m1>" + _NUMPAT_A + rb")" + _WS1 + rb"+"
    rb"(?P<b0m2>" + _NUMPAT_A + rb")" + _WS1 + rb"+"
    rb"(?P<b0m3>" + _NUMPAT_A + rb")" + _WS1 + rb"+"
    rb"(?P<b0m4>" + _NUMPAT_A + rb")" + _WS1 + rb"+"
    rb"(?P<b0m5>" + _NUMPAT_A + rb")" + _WS1 + rb"+"
    rb"(?P<b0m6>" + _NUMPAT_A + rb")" + _WS1 + rb"+Tm"
    rb")" + _WS1 + rb"+"
    rb"(?P<b0x>" + _NUMPAT_A + rb")" + _WS1 + rb"+"
    rb"(?P<b0y>" + _NUMPAT_A + rb")" + _WS1 + rb"+Td" + _WS1 + rb"*"
    rb"(?:\((?P<b0lit>[^()\\]*)\)|<(?P<b0hex>" + _HEXCLS + rb"*)>)"
    + _WS1 + rb"*Tj" + _BOUND +
    rb"(?:" + _WS1 + rb"+(?P<b0et>ET)" + _BOUND + rb")?"
    # M1: x y Td (flat)|<hex> Tj [ET] — the dominant show cycle, one match
    rb"|(?P<m1x>" + _NUMPAT + rb")" + _WS1 + rb"+"
    rb"(?P<m1y>" + _NUMPAT_A + rb")" + _WS1 + rb"+"
    rb"Td" + _WS1 + rb"*"
    rb"(?:\((?P<m1s>[^()\\]*)\)|<(?P<m1h>" + _HEXCLS + rb"*)>)"
    + _WS1 + rb"*Tj" + _BOUND +
    rb"(?:" + _WS1 + rb"+(?P<m1et>ET)" + _BOUND + rb")?" +
    # M3: a b c d e f Tm — 7 tokens in one match
    rb"|(?P<tm1>" + _NUMPAT + rb")" + _WS1 + rb"+"
    rb"(?P<tm2>" + _NUMPAT_A + rb")" + _WS1 + rb"+"
    rb"(?P<tm3>" + _NUMPAT_A + rb")" + _WS1 + rb"+"
    rb"(?P<tm4>" + _NUMPAT_A + rb")" + _WS1 + rb"+"
    rb"(?P<tm5>" + _NUMPAT_A + rb")" + _WS1 + rb"+"
    rb"(?P<tm6>" + _NUMPAT_A + rb")" + _WS1 + rb"+Tm" + _BOUND +
    # M2: (flat)|<hex> Tj
    rb"|(?:\((?P<m2s>[^()\\]*)\)|<(?P<m2h>" + _HEXCLS + rb"*)>)"
    + _WS1 + rb"*Tj" + _BOUND +
    # M5: [ flat-strings / hex / numbers ] TJ — a whole flat TJ array in
    # one match; the body admits only COMPLETE tokens (ws, number, flat
    # string, hex string), so arrays with names/ops/escapes fall through
    rb"|\[(?P<tjb>(?>(?:[\x00\t\n\x0c\r ]+|" + _NUMPAT_A +
    rb"|\([^()\\]*\)|<" + _HEXCLS + rb"*>)*))\]" + _WS1 + rb"*TJ" + _BOUND +
    # M4: /name size Tf
    rb"|/(?P<tfn>[^\x00\t\n\x0c\r ()<>\[\]{}/%]*)" + _WS1 + rb"+"
    rb"(?P<tfs>" + _NUMPAT_A + rb")" + _WS1 + rb"+Tf" + _BOUND +
    # generic token alternatives (same order/classes as _MASTER)
    rb"|(?P<num>" + _NUMPAT + rb")"
    rb"|(?P<sstr>\([^()\\]*\))"
    rb"|(?P<lstr>\()"
    rb"|(?P<op>[^\x00\t\n\x0c\r ()<>\[\]{}/%;]+)"
    rb"|(?P<name>/[^\x00\t\n\x0c\r ()<>\[\]{}/%]*)"
    rb"|(?P<dopen><<)"
    rb"|(?P<dclose>>>)"
    rb"|(?P<hstr><" + _HEXCLS + rb"*>)"
    rb"|(?P<aopen>\[)"
    rb"|(?P<aclose>\])"
    rb"|(?P<skipd>[;){}])"
    # end-of-data alternative, same reason as _MASTER's (trailing comment)
    rb"|(?P<eod>\Z))"
)

# raw-stack marker sentinels
_AO = object()  # [
_AC = object()  # ]
_DO = object()  # <<
_DC = object()  # >>

# zero-operand operators keyed by raw bytes → preallocated op tuple
_ZEROB = {k.encode("latin-1"): v for k, v in _ZERO_OPERAND.items()}

# operand-taking operators → opcode (chain below is ordered by frequency)
_OPC = {
    b"Tf": 1, b"Tm": 2, b"Td": 3, b"Tj": 4, b"TJ": 5, b"TL": 6, b"Tc": 7,
    b"Tw": 8, b"Tz": 9, b"Ts": 10, b"Tr": 11, b"cm": 12, b"gs": 13,
    b"rg": 14, b"g": 15, b"k": 16, b"Do": 17, b"BMC": 18, b"BDC": 19,
    b"'": 20, b'"': 21, b"TD": 22, b"w": 23, b"J": 24, b"j": 25, b"M": 26,
    b"d": 27, b"ri": 28, b"i": 29, b"m": 30, b"l": 31, b"c": 32, b"v": 33,
    b"y": 34, b"re": 35, b"CS": 36, b"cs": 36, b"sh": 36, b"SC": 37,
    b"SCN": 37, b"sc": 38, b"scn": 38, b"G": 39, b"RG": 40, b"K": 41,
    b"MP": 42, b"DP": 43, b"EI": 44,
}

# name-decode memo: /F1-style names repeat tens of thousands of times
_NAME_MEMO: dict[bytes, str] = {}

# (A dedicated run-matcher for consecutive M1 cycles was measured here and
# removed: processing runs in a local-variable sub-loop changed Cold_Email /
# Higgs / synthetic timings by <2% — the scan is regex-bound (pure
# finditer over Cold_Email's 2.9MB of content is ~90ms of its ~330ms), so
# a third copy of the ShowText semantics wasn't worth the duplication.)


def _fnum(v) -> float:
    c = v.__class__
    if c is float:
        return v
    if c is int:
        return float(v)
    raise ContentParseError("expected number operand")


def _vnums(stack: list, k: int) -> list | None:
    """Non-raising variant of k number pops for the fused interpreter:
    returns the top-k operands as floats, or None when the stack is short
    or any operand is not a number (== the token path's resync)."""
    if len(stack) < k:
        return None
    out = []
    for i in range(-k, 0):
        v = stack[i]
        c = v.__class__
        if c is float:
            out.append(v)
        elif c is int:
            out.append(float(v))
        else:
            return None
    return out


def _rname(v) -> str:
    if v.__class__ is str:
        return v
    raise ContentParseError("expected name operand")


def _rstring(v) -> bytes:
    if v.__class__ is bytes:
        return v
    raise ContentParseError("expected string operand")


def _rarray(st: list) -> list:
    """Raw-stack mirror of _pop_array: read (not pop) back to the opening
    marker; stray close markers are skipped."""
    i = len(st) - 1
    if i >= 0 and st[i] is _AC:
        i -= 1
    out = []
    while i >= 0:
        v = st[i]
        if v is _AO:
            out.reverse()
            return out
        if v is not _AC:
            out.append(v)
        i -= 1
    raise ContentParseError("expected array")


def _rvalue(v, st: list):
    """Raw-stack mirror of _token_to_value (pops nested structures)."""
    c = v.__class__
    if c is bytes or c is int or c is float or c is str:
        return v
    if v is _AC:
        items = []
        while st:
            nxt = st.pop()
            if nxt is _AO:
                items.reverse()
                return items
            items.append(_rvalue(nxt, st))
        raise ContentParseError("unterminated array in props")
    if v is _DC:
        nested: dict = {}
        while st:
            nxt = st.pop()
            if nxt is _DO:
                return nested
            value = _rvalue(nxt, st)
            key = st.pop()
            if key.__class__ is not str:
                raise ContentParseError("expected name key in nested dict")
            nested[key] = value
        raise ContentParseError("unterminated nested dict in props")
    raise ContentParseError("unexpected token in props")


def _rdict_or_name(st: list):
    """Raw-stack mirror of _pop_dict_or_name (BDC/DP props)."""
    if not st:
        raise ContentParseError("expected dict or name operand")
    v = st.pop()
    if v.__class__ is str:
        return ("ref", v)
    if v is _DC:
        d: dict = {}
        while True:
            if not st:
                raise ContentParseError("unterminated inline dict")
            nxt = st.pop()
            if nxt is _DO:
                break
            value = _rvalue(nxt, st)
            if not st:
                raise ContentParseError("missing key in inline dict")
            key = st.pop()
            if key.__class__ is not str:
                raise ContentParseError("expected name key in inline dict")
            d[key] = value
        return ("dict", d)
    raise ContentParseError("expected name or inline dict")


def _rcolors(st: list) -> list[float]:
    comps: list[float] = []
    i = len(st) - 1
    while i >= 0 and st[i].__class__ in (int, float):
        comps.append(float(st[i]))
        i -= 1
    comps.reverse()
    return comps


_OPTOK = object()  # operator marker for BI macro replay


class _InlineTok(bytes):
    """A stray inline-image payload sitting on the operand stack (token
    path: the ('inline', …) token). Distinct type so no operand pop
    accepts it — bytes-typed pops must reject it like the token path's
    kind checks do."""

    __slots__ = ()

# TJ-array body elements (only reachable on text the M5 body already
# validated, so the three alternatives are exhaustive)
_TJ_ELEM = re.compile(
    rb"\(([^()\\]*)\)|<(" + _HEXCLS + rb"*)>|(" + _NUMPAT + rb")"
)


def _tj_elements(body: bytes) -> list[tuple]:
    out = []
    for lit, hx, num in _TJ_ELEM.findall(body):
        if num:
            out.append(("s", float(num)))
        elif hx:
            out.append(("t", _hexval(hx)))
        else:
            # non-empty literal, or the empty-string cases () / <> —
            # both decode to b"" either way
            out.append(("t", lit))
    return out


# header re-parser for hdr_memo misses (a few thousand per dense doc)
_B0_HDR_RE = re.compile(
    rb"/([^\x00\t\n\x0c\r ()<>\[\]{}/%]*)" + _WS1 + rb"+("
    + _NUMPAT_A + rb")" + _WS1 + rb"+Tf" + _WS1
    + rb"+(" + _NUMPAT_A + rb")" + _WS1
    + rb"+(" + _NUMPAT_A + rb")" + _WS1
    + rb"+(" + _NUMPAT_A + rb")" + _WS1
    + rb"+(" + _NUMPAT_A + rb")" + _WS1
    + rb"+(" + _NUMPAT_A + rb")" + _WS1
    + rb"+(" + _NUMPAT_A + rb")" + _WS1 + rb"+Tm"
)

# module-level group-index constants for the fast regex
_GI = _MASTER_FAST.groupindex
_K_B0H = _GI["b0h"]
_K_B0N, _K_B0S = _GI["b0n"], _GI["b0s"]
_K_B0M1, _K_B0M6 = _GI["b0m1"], _GI["b0m6"]
_K_B0X, _K_B0Y = _GI["b0x"], _GI["b0y"]
_K_B0LIT, _K_B0HEX, _K_B0ET = _GI["b0lit"], _GI["b0hex"], _GI["b0et"]
_K_M1X, _K_M1Y, _K_M1S, _K_M1H = _GI["m1x"], _GI["m1y"], _GI["m1s"], _GI["m1h"]
_K_M1ET = _GI["m1et"]
_K_M2S, _K_M2H = _GI["m2s"], _GI["m2h"]
_K_TJB = _GI["tjb"]
_K_TM1, _K_TM6 = _GI["tm1"], _GI["tm6"]
_K_TFN, _K_TFS = _GI["tfn"], _GI["tfs"]
_K_NUM, _K_SSTR, _K_LSTR, _K_OP = (
    _GI["num"], _GI["sstr"], _GI["lstr"], _GI["op"],
)
_K_HSTR, _K_NAME = _GI["hstr"], _GI["name"]
_K_AO, _K_AC, _K_DO, _K_DC = (
    _GI["aopen"], _GI["aclose"], _GI["dopen"], _GI["dclose"],
)
# marker group indexes ([, ], <<, >>) — marker tokens inside BI params
# become None values when a key is pending, same as the token path
_BI_MARKERS = (_K_AO, _K_AC, _K_DO, _K_DC)


_HEX_MEMO: dict[bytes, bytes] = {}

# show-cycle coordinate bytes → float memo (Td y-deltas repeat almost
# totally in machine-generated documents; bounded, cleared wholesale)
_NUM_MEMO: dict[bytes, float] = {}


def _hexval(h: bytes) -> bytes:
    # hex→bytes is content-independent, and dense documents show the same
    # few thousand strings tens of thousands of times — memoize globally
    # (bounded; cleared wholesale like _NAME_MEMO)
    v = _HEX_MEMO.get(h)
    if v is None:
        if len(_HEX_MEMO) > 16384:
            _HEX_MEMO.clear()
        clean = h.translate(None, _EOL_WS)
        if len(clean) % 2:
            clean += b"0"
        v = _unhex(clean)
        _HEX_MEMO[h] = v
    return v


def _numval(t: bytes):
    return float(t) if b"." in t else int(t)


def _scan_bi(data: bytes, pos: int) -> tuple[dict, bytes, int]:
    """BI … ID <raw> EI parameter collection (content.rs:1563-1621),
    token-faithful against the fast regex (macro matches are replayed as
    their component tokens)."""
    params: dict = {}
    key: str | None = None
    n = len(data)

    def feed(v):
        nonlocal key
        if v is _OPTOK:
            if key is not None:
                params[key] = None
                key = None
        elif key is not None:
            params[key] = v
            key = None

    def feed_name(nm: str):
        nonlocal key
        if key is None:
            key = _INLINE_KEYS.get(nm, nm)
        else:
            feed(nm)

    while pos < n:
        restart = False
        for m in _MASTER_FAST.finditer(data, pos):
            kind = m.lastindex
            if kind is None:
                continue
            if kind == _K_OP:
                opb = m.group(_K_OP)
                if opb == b"ID":
                    if key is not None:
                        # token-path quirk (_parse_inline_image): an ID in
                        # VALUE position is consumed as the pending key's
                        # None value, not as the params terminator; the
                        # tokenizer still swallowed the raw payload, so the
                        # scan resumes after the EI with data staying b""
                        params[key] = None
                        key = None
                        _, pos = _read_inline_image_data(data, m.end())
                        restart = True
                        break
                    payload, pos = _read_inline_image_data(data, m.end())
                    return params, payload, pos
                feed(_OPTOK)
            elif kind == _K_NUM:
                feed(_numval(m.group(_K_NUM)))
            elif kind == _K_SSTR:
                feed(m.group(_K_SSTR)[1:-1])
            elif kind == _K_LSTR:
                v, pos = _read_literal_string(data, m.end())
                feed(v)
                restart = True
                break
            elif kind == _K_HSTR:
                feed(_hexval(m.group(_K_HSTR)[1:-1]))
            elif kind == _K_NAME:
                feed_name(_decode_name(m.group(_K_NAME)[1:]))
            elif kind in (_K_B0LIT, _K_B0HEX, _K_B0ET):
                # replay the whole M0 block token-by-token
                feed(_OPTOK)  # BT
                feed_name(_decode_name(m.group(_K_B0N)))
                feed(_numval(m.group(_K_B0S)))
                feed(_OPTOK)  # Tf
                for i in range(_K_B0M1, _K_B0M6 + 1):
                    feed(_numval(m.group(i)))
                feed(_OPTOK)  # Tm
                feed(_numval(m.group(_K_B0X)))
                feed(_numval(m.group(_K_B0Y)))
                feed(_OPTOK)  # Td
                h = m.group(_K_B0HEX)
                feed(m.group(_K_B0LIT) if h is None else _hexval(h))
                feed(_OPTOK)  # Tj
                if kind == _K_B0ET:
                    feed(_OPTOK)  # ET
            elif kind == _K_M1S or kind == _K_M1H or kind == _K_M1ET:
                feed(_numval(m.group(_K_M1X)))
                feed(_numval(m.group(_K_M1Y)))
                feed(_OPTOK)
                h = m.group(_K_M1H)
                feed(m.group(_K_M1S) if h is None else _hexval(h))
                feed(_OPTOK)
                if kind == _K_M1ET:
                    feed(_OPTOK)  # ET
            elif kind == _K_M2S:
                feed(m.group(_K_M2S))
                feed(_OPTOK)
            elif kind == _K_M2H:
                feed(_hexval(m.group(_K_M2H)))
                feed(_OPTOK)
            elif kind == _K_TJB:
                feed(None)  # [ marker
                for lit, hx, num in _TJ_ELEM.findall(m.group(_K_TJB)):
                    if num:
                        feed(_numval(num))
                    elif hx:
                        feed(_hexval(hx))
                    else:
                        feed(lit)
                feed(None)  # ] marker
                feed(_OPTOK)  # TJ
            elif kind == _K_TM6:
                for i in range(_K_TM1, _K_TM6 + 1):
                    feed(_numval(m.group(i)))
                feed(_OPTOK)
            elif kind == _K_TFS:
                feed_name(_decode_name(m.group(_K_TFN)))
                feed(_numval(m.group(_K_TFS)))
                feed(_OPTOK)
            elif kind in _BI_MARKERS:
                feed(None)
            # skipd: ignored
        if not restart:
            break
    # EOF without ID: token path emits BI with empty payload
    return params, b"", n


def parse_content(data: bytes) -> list[tuple]:
    """One content stream → operation list in a SINGLE fused pass
    (content.rs parse_content:941): the finditer sweep pushes raw operand
    values straight onto the operand stack and dispatches operators as they
    arrive — no intermediate token list, and the two dominant text-show
    patterns are consumed as single regex matches (see _MASTER_FAST).
    Semantically identical to ``parse_operators(tokenize(data))``
    (property-tested)."""
    ops: list[tuple] = []
    st: list = []
    pos = 0
    n = len(data)
    gi = _MASTER_FAST.groupindex
    B0N, B0S, B0M1, B0X, B0Y = (
        gi["b0n"], gi["b0s"], gi["b0m1"], gi["b0x"], gi["b0y"],
    )
    B0LIT, B0HEX, B0ET = gi["b0lit"], gi["b0hex"], gi["b0et"]
    M1X, M1Y, M1S, M1H = gi["m1x"], gi["m1y"], gi["m1s"], gi["m1h"]
    M1ET = gi["m1et"]
    M2S, M2H = gi["m2s"], gi["m2h"]
    TJB = gi["tjb"]
    TM1, TM6 = gi["tm1"], gi["tm6"]
    TFN, TFS = gi["tfn"], gi["tfs"]
    NUM, SSTR, OP, LSTR, HSTR, NAME = (
        gi["num"], gi["sstr"], gi["op"], gi["lstr"], gi["hstr"], gi["name"],
    )
    AOPEN, ACLOSE, DOPEN, DCLOSE = (
        gi["aopen"], gi["aclose"], gi["dopen"], gi["dclose"],
    )
    push = st.append
    emit = ops.append
    name_memo = _NAME_MEMO
    T_BT = _ZERO_OPERAND["BT"]
    T_ET = _ZERO_OPERAND["ET"]
    while pos < n:
        restart = False
        for m in _MASTER_FAST.finditer(data, pos):
            kind = m.lastindex
            if kind is None:
                continue
            if kind == B0HEX or kind == B0ET or kind == B0LIT:
                # M0: whole BT …Tf …Tm …Td …Tj [ET] block in one match
                if st:
                    st.clear()
                g = m.group
                emit(T_BT)
                nm = g(B0N)
                s = name_memo.get(nm)
                if s is None:
                    if len(name_memo) > 8192:
                        name_memo.clear()
                    s = _decode_name(nm)
                    name_memo[nm] = s
                emit(("Tf", s, float(g(B0S))))
                v = g(B0M1, B0M1 + 1, B0M1 + 2, B0M1 + 3, B0M1 + 4, B0M1 + 5)
                emit((
                    "Tm", float(v[0]), float(v[1]), float(v[2]),
                    float(v[3]), float(v[4]), float(v[5]),
                ))
                emit(("Td", float(g(B0X)), float(g(B0Y))))
                h = g(B0HEX)
                if h is None:
                    emit(("Tj", g(B0LIT)))
                else:
                    clean = h.translate(None, _EOL_WS)
                    if len(clean) % 2:
                        clean += b"0"
                    emit(("Tj", _unhex(clean)))
                if kind == B0ET:
                    emit(T_ET)
            elif kind == M1H or kind == M1S or kind == M1ET:
                # x y Td (s)|<hex> Tj [ET]
                if st:
                    st.clear()
                x, y, lit, h = m.group(M1X, M1Y, M1S, M1H)
                emit(("Td", float(x), float(y)))
                if h is not None:
                    clean = h.translate(None, _EOL_WS)
                    if len(clean) % 2:
                        clean += b"0"
                    emit(("Tj", _unhex(clean)))
                else:
                    emit(("Tj", lit))
                if kind == M1ET:
                    emit(T_ET)
            elif kind == TM6:  # a b c d e f Tm
                if st:
                    st.clear()
                v = m.group(TM1, TM1 + 1, TM1 + 2, TM1 + 3, TM1 + 4, TM6)
                emit((
                    "Tm", float(v[0]), float(v[1]), float(v[2]),
                    float(v[3]), float(v[4]), float(v[5]),
                ))
            elif kind == TFS:  # /name size Tf
                if st:
                    st.clear()
                nm, sz = m.group(TFN, TFS)
                s = name_memo.get(nm)
                if s is None:
                    if len(name_memo) > 8192:
                        name_memo.clear()
                    s = _decode_name(nm)
                    name_memo[nm] = s
                emit(("Tf", s, float(sz)))
            elif kind == TJB:  # [ …strings/numbers… ] TJ
                if st:
                    st.clear()
                emit(("TJ", _tj_elements(m.group(TJB))))
            elif kind == M2H:  # <hex> Tj
                if st:
                    st.clear()
                clean = m.group(M2H).translate(None, _EOL_WS)
                if len(clean) % 2:
                    clean += b"0"
                emit(("Tj", _unhex(clean)))
            elif kind == M2S:  # (s) Tj
                if st:
                    st.clear()
                emit(("Tj", m.group(M2S)))
            elif kind == NUM:
                t = m.group(NUM)
                push(float(t) if b"." in t else int(t))
            elif kind == SSTR:
                push(m.group(SSTR)[1:-1])
            elif kind == OP:
                opb = m.group(OP)
                z = _ZEROB.get(opb)
                if z is not None:
                    emit(z)
                    if st:
                        st.clear()
                    continue
                code = _OPC.get(opb)
                if code is None:
                    if opb == b"BI":
                        st.clear()
                        params, payload, pos = _scan_bi(data, m.end())
                        emit(("BI", params, payload))
                        restart = True
                        break
                    if opb == b"ID":
                        # stray ID outside BI — token-path semantics: the
                        # ID op resyncs (clears the stack), then the
                        # tokenizer's inline-payload token lands ON the
                        # stack as an operand no pop accepts
                        st.clear()
                        payload, pos = _read_inline_image_data(data, m.end())
                        push(_InlineTok(payload))
                        restart = True
                        break
                    # unknown operator (incl. true/false/null): resync
                    if st:
                        st.clear()
                    continue
                try:
                    if code == 1:  # Tf
                        emit(("Tf", _rname(st[-2]), _fnum(st[-1])))
                    elif code == 2:  # Tm
                        emit((
                            "Tm", _fnum(st[-6]), _fnum(st[-5]), _fnum(st[-4]),
                            _fnum(st[-3]), _fnum(st[-2]), _fnum(st[-1]),
                        ))
                    elif code == 3:  # Td
                        emit(("Td", _fnum(st[-2]), _fnum(st[-1])))
                    elif code == 4:  # Tj
                        emit(("Tj", _rstring(st[-1])))
                    elif code == 5:  # TJ
                        arr = _rarray(st)
                        out = []
                        for v in arr:
                            c = v.__class__
                            if c is bytes:
                                out.append(("t", v))
                            elif c is int or c is float:
                                out.append(("s", float(v)))
                            else:
                                raise ContentParseError(
                                    "invalid element in text array"
                                )
                        emit(("TJ", out))
                    elif code == 6:
                        emit(("TL", _fnum(st[-1])))
                    elif code == 7:
                        emit(("Tc", _fnum(st[-1])))
                    elif code == 8:
                        emit(("Tw", _fnum(st[-1])))
                    elif code == 9:
                        emit(("Tz", _fnum(st[-1])))
                    elif code == 10:
                        emit(("Ts", _fnum(st[-1])))
                    elif code == 11:  # Tr: strictly integer
                        v = st[-1]
                        if v.__class__ is not int:
                            raise ContentParseError("expected integer operand")
                        emit(("Tr", v))
                    elif code == 12:  # cm
                        emit((
                            "cm", _fnum(st[-6]), _fnum(st[-5]), _fnum(st[-4]),
                            _fnum(st[-3]), _fnum(st[-2]), _fnum(st[-1]),
                        ))
                    elif code == 13:
                        emit(("gs", _rname(st[-1])))
                    elif code == 14:
                        emit(("rg", _fnum(st[-3]), _fnum(st[-2]), _fnum(st[-1])))
                    elif code == 15:
                        emit(("g", _fnum(st[-1])))
                    elif code == 16:
                        emit((
                            "k", _fnum(st[-4]), _fnum(st[-3]),
                            _fnum(st[-2]), _fnum(st[-1]),
                        ))
                    elif code == 17:
                        emit(("Do", _rname(st[-1])))
                    elif code == 18:
                        emit(("BMC", _rname(st[-1])))
                    elif code == 19:  # BDC
                        props = _rdict_or_name(st)
                        emit(("BDC", _rname(st.pop()), props))
                    elif code == 20:
                        emit(("'", _rstring(st[-1])))
                    elif code == 21:  # ": aw ac string (ISO §9.4.3)
                        emit((
                            '"', _fnum(st[-3]), _fnum(st[-2]),
                            _rstring(st[-1]),
                        ))
                    elif code == 22:
                        emit(("TD", _fnum(st[-2]), _fnum(st[-1])))
                    elif code == 23:
                        emit(("w", _fnum(st[-1])))
                    elif code == 24:  # J: strictly integer
                        v = st[-1]
                        if v.__class__ is not int:
                            raise ContentParseError("expected integer operand")
                        emit(("J", v))
                    elif code == 25:
                        v = st[-1]
                        if v.__class__ is not int:
                            raise ContentParseError("expected integer operand")
                        emit(("j", v))
                    elif code == 26:
                        emit(("M", _fnum(st[-1])))
                    elif code == 27:  # d: dash array + phase
                        phase = _fnum(st.pop())
                        arr = _rarray(st)
                        pattern = [
                            float(x) for x in arr
                            if x.__class__ in (int, float)
                        ]
                        emit(("d", pattern, phase))
                    elif code == 28:
                        emit(("ri", _rname(st[-1])))
                    elif code == 29:
                        emit(("i", _fnum(st[-1])))
                    elif code == 30:
                        emit(("m", _fnum(st[-2]), _fnum(st[-1])))
                    elif code == 31:
                        emit(("l", _fnum(st[-2]), _fnum(st[-1])))
                    elif code == 32:
                        emit((
                            "c", _fnum(st[-6]), _fnum(st[-5]), _fnum(st[-4]),
                            _fnum(st[-3]), _fnum(st[-2]), _fnum(st[-1]),
                        ))
                    elif code == 33:
                        emit((
                            "v", _fnum(st[-4]), _fnum(st[-3]),
                            _fnum(st[-2]), _fnum(st[-1]),
                        ))
                    elif code == 34:
                        emit((
                            "y", _fnum(st[-4]), _fnum(st[-3]),
                            _fnum(st[-2]), _fnum(st[-1]),
                        ))
                    elif code == 35:
                        emit((
                            "re", _fnum(st[-4]), _fnum(st[-3]),
                            _fnum(st[-2]), _fnum(st[-1]),
                        ))
                    elif code == 36:  # CS/cs/sh keep their own mnemonic
                        emit((opb.decode("latin-1"), _rname(st[-1])))
                    elif code == 37:
                        emit(("SC", _rcolors(st)))
                    elif code == 38:
                        emit(("sc", _rcolors(st)))
                    elif code == 39:
                        emit(("G", _fnum(st[-1])))
                    elif code == 40:
                        emit(("RG", _fnum(st[-3]), _fnum(st[-2]), _fnum(st[-1])))
                    elif code == 41:
                        emit((
                            "K", _fnum(st[-4]), _fnum(st[-3]),
                            _fnum(st[-2]), _fnum(st[-1]),
                        ))
                    elif code == 42:
                        emit(("MP", _rname(st[-1])))
                    elif code == 43:  # DP
                        props = _rdict_or_name(st)
                        emit(("DP", _rname(st.pop()), props))
                    # code 44 (EI): stray, emit nothing
                except (ContentParseError, IndexError):
                    pass  # resync (content.rs:985-999)
                if st:
                    st.clear()
            elif kind == LSTR:
                sdata, pos = _read_literal_string(data, m.end())
                push(sdata)
                restart = True
                break
            elif kind == HSTR:
                push(_hexval(m.group(HSTR)[1:-1]))
            elif kind == NAME:
                nm = m.group(NAME)
                s = name_memo.get(nm)
                if s is None:
                    if len(name_memo) > 8192:
                        name_memo.clear()
                    s = _decode_name(nm[1:])
                    name_memo[nm] = s
                push(s)
            elif kind == AOPEN:
                push(_AO)
            elif kind == ACLOSE:
                push(_AC)
            elif kind == DOPEN:
                push(_DO)
            elif kind == DCLOSE:
                push(_DC)
            # skipd delimiters are dropped
        if not restart:
            break
    return ops


def parse_and_run(interp, data: bytes, resources, depth: int = 0) -> None:
    """Fused tokenize+parse+interpret dispatcher: the C fast path
    (_cscan.c, compiled lazily by cbuild.py, in fast-show and layout mode
    alike) when available, else the pure-Python fused loop below. Both are pinned against run(parse_content(data)) by
    the differential tests; OXPDF_NO_CKERNEL=1 forces pure Python."""
    if _CSCAN is not None:
        _CSCAN.run_page(interp, data, resources, depth)
        return
    _parse_and_run_py(interp, data, resources, depth)


def _parse_and_run_py(interp, data: bytes, resources, depth: int = 0) -> None:
    """Fused tokenize+parse+INTERPRET in one pass: semantically identical to
    ``interp.run(parse_content(data), resources, depth)`` (property-pinned
    by tests), but the operation tuples are never materialized and
    operators with no extraction effect skip operand parsing entirely —
    their tuples would be built only to be ignored by run()'s fall-through.

    This is the extraction pipeline's hot path; ``parse_content``/``run``
    remain the reference pair for the public parser API and the
    differential tests."""
    st_i = interp.state
    stack: list = []
    push = stack.append
    pos = 0
    n = len(data)
    name_memo = _NAME_MEMO
    IDENT = (1.0, 0.0, 0.0, 1.0, 0.0, 0.0)
    # hoisted constants for the inline ShowText tail (all fixed per run)
    _opts = interp.options
    nl_thr = _opts.newline_threshold
    sp_thr = _opts.space_threshold
    inc_art = _opts.include_artifacts
    fast_show = not interp._layout
    tb = None  # text bytes pending ShowText, consumed by the loop tail
    # HOT STATE AS LOCALS: the inline ShowText tail runs ~60k times per
    # dense document; keeping the running counters in locals removes ~10
    # attribute loads/stores per show. Invariant: before ANY interpreter
    # out-call that can read or advance them (_show_text_array,
    # _next_line_show, _paint_xobject, marked-content ops, _show_text)
    # the locals are written back, and re-read after. text_parts is
    # identity-stable (only __init__ assigns it), so its binding and
    # bound append need no sync; font_memo re-binds after _set_font_memo.
    l_total = interp._total
    l_lastx = interp.last_x
    l_lasty = interp.last_y
    l_lastc = interp._last_char
    tp_append = interp.text_parts.append
    font_memo = interp._font_memo
    # per-invocation (= per fonts scope) decoded block-header memo
    hdr_memo: dict = {}
    hex_get = _HEX_MEMO.get  # 99% of hex show strings repeat (527 unique
    #                          of 59.6k on Cold_Email) — inline the memo
    num_memo = _NUM_MEMO  # coordinate bytes→float memo (y repeats ~100%)
    # more hot-state locals (same write-back discipline as the counters):
    # CTM identity flag — text-only pages never leave the identity CTM, so
    # the per-show origin collapses to (tm[4], tm[5]); font size and
    # horizontal scale change only at Tf/Tz/Do sites; artifact skip flag
    # changes only at marked-content ops and Do
    l_ctm = st_i.ctm
    ctm_ident = l_ctm == IDENT
    l_fs = st_i.font_size
    l_hs = st_i.horizontal_scale
    l_noart = not st_i.artifact_n or inc_art
    l_sp = sp_thr * st_i.font_size  # space threshold in glyph units
    in_text = interp.in_text
    # text/line matrices as SCALARS: every op that writes them (Tm, Td,
    # T*, BT, fused blocks, show advance) keeps a..d identical between
    # the two matrices, so six shared coefficients + two translation
    # pairs carry the full state; tuples materialize only at out-call
    # write-backs. Saves ~2 tuple allocs + stores per show cycle.
    _t = st_i.text_line_matrix
    la1, la2, la3, la4, lt4, lt5 = _t[0], _t[1], _t[2], _t[3], _t[4], _t[5]
    _t = st_i.text_matrix
    tt4, tt5 = _t[4], _t[5]
    # try/finally: an exception escaping mid-loop (e.g. inside a Form
    # XObject, swallowed by _paint_xobject) must still flush the hot-state
    # locals back to the interpreter, or the tolerant-failure path diverges
    # from the pinned run-after-parse_content semantics.
    try:
        while pos < n:
            restart = False
            for m in _MASTER_FAST.finditer(data, pos):
                kind = m.lastindex
                if kind is None:
                    continue
                if kind <= _K_B0ET:
                    # whole BT /f s Tf a..f Tm x y Td <s> Tj [ET] block (the
                    # B0 alternative's possible lastindexes — b0lit/b0hex/b0et
                    # — are the lowest group numbers, so ONE compare routes the
                    # dominant kind). The raw header BYTES (one C-captured
                    # slice) key the per-page header memo: machine-generated
                    # documents repeat a few thousand headers tens of
                    # thousands of times (Cold_Email: 31.5k blocks, 1.9k
                    # unique), so font string, parsed floats, and the font's
                    # run-memo resolve in a single bytes-hash dict hit
                    if stack:
                        stack.clear()
                    in_text = True
                    hk, gx, gy, h, lit = m.group(
                        _K_B0H, _K_B0X, _K_B0Y, _K_B0HEX, _K_B0LIT
                    )
                    e = hdr_memo.get(hk)
                    if e is None:
                        hm = _B0_HDR_RE.match(hk)
                        nm = hm.group(1)
                        s = name_memo.get(nm)
                        if s is None:
                            if len(name_memo) > 8192:
                                name_memo.clear()
                            s = _decode_name(nm)
                            name_memo[nm] = s
                        if s is not st_i.font_name:
                            st_i.font_name = s
                            interp._set_font_memo(s)
                            font_memo = interp._font_memo
                        e = (
                            s, float(hm.group(2)), float(hm.group(3)),
                            float(hm.group(4)), float(hm.group(5)),
                            float(hm.group(6)), float(hm.group(7)),
                            float(hm.group(8)), font_memo,
                        )
                        hdr_memo[hk] = e
                    else:
                        s = e[0]
                        if s is not st_i.font_name:
                            st_i.font_name = s
                            font_memo = e[8]
                            interp._font_memo = font_memo
                    fs_new = e[1]
                    if fs_new is not l_fs:
                        st_i.font_size = l_fs = fs_new
                        l_sp = sp_thr * l_fs
                    la1, la2, la3, la4 = e[2], e[3], e[4], e[5]
                    x = num_memo.get(gx)
                    if x is None:
                        if len(num_memo) > 16384:
                            num_memo.clear()
                        x = num_memo[gx] = float(gx)
                    y = num_memo.get(gy)
                    if y is None:
                        if len(num_memo) > 16384:
                            num_memo.clear()
                        y = num_memo[gy] = float(gy)
                    lt4 = x * la1 + y * la3 + e[6]
                    lt5 = x * la2 + y * la4 + e[7]
                    tt4 = lt4
                    tt5 = lt5
                    if h is None:
                        tb = lit
                    else:
                        tb = hex_get(h)
                        if tb is None:
                            tb = _hexval(h)
                    if kind == _K_B0ET:
                        in_text = False
                elif kind <= _K_M1ET:  # x y Td (s)|<hex> Tj [ET]
                    if stack:
                        stack.clear()
                    gx, gy, gs, gh = m.group(_K_M1X, _K_M1Y, _K_M1S, _K_M1H)
                    x = num_memo.get(gx)
                    if x is None:
                        if len(num_memo) > 16384:
                            num_memo.clear()
                        x = num_memo[gx] = float(gx)
                    y = num_memo.get(gy)
                    if y is None:
                        if len(num_memo) > 16384:
                            num_memo.clear()
                        y = num_memo[gy] = float(gy)
                    lt4 = x * la1 + y * la3 + lt4
                    lt5 = x * la2 + y * la4 + lt5
                    tt4 = lt4
                    tt5 = lt5
                    if in_text:
                        if gh is not None:
                            tb = hex_get(gh)
                            if tb is None:
                                tb = _hexval(gh)
                        else:
                            tb = gs
                    if kind == _K_M1ET:
                        # fused trailing ET: the show still renders (tb is
                        # processed by the loop tail before the flag is read
                        # again), then text mode closes
                        in_text = False
                elif kind == _K_TJB:  # [ … ] TJ
                    if stack:
                        stack.clear()
                    if in_text:
                        st_i.text_matrix = (la1, la2, la3, la4, tt4, tt5)
                        st_i.text_line_matrix = (la1, la2, la3, la4, lt4, lt5)
                        interp._total = l_total
                        interp.last_x = l_lastx
                        interp.last_y = l_lasty
                        interp._last_char = l_lastc
                        interp._show_text_array(_tj_elements(m.group(_K_TJB)))
                        l_total = interp._total
                        l_lastx = interp.last_x
                        l_lasty = interp.last_y
                        l_lastc = interp._last_char
                        _t = st_i.text_line_matrix
                        la1, la2, la3, la4, lt4, lt5 = (
                            _t[0], _t[1], _t[2], _t[3], _t[4], _t[5],
                        )
                        _t = st_i.text_matrix
                        tt4 = _t[4]
                        tt5 = _t[5]
                elif kind == _K_NUM:
                    t = m.group(_K_NUM)
                    push(float(t) if b"." in t else int(t))
                elif kind == _K_SSTR:
                    push(m.group(_K_SSTR)[1:-1])
                elif kind == _K_OP:
                    opb = m.group(_K_OP)
                    # Operand validation is EXPLICIT (no exception flow):
                    # invalid operands skip the op exactly like the token
                    # path's resync, while interpreter ACTIONS run unguarded so
                    # their errors propagate precisely as run() propagates them.
                    if opb == b"Tj":
                        v = stack[-1] if stack else None
                        if v.__class__ is bytes and in_text:
                            tb = v
                    elif opb == b"Td":
                        xy = _vnums(stack, 2)
                        if xy is not None:
                            x, y = xy
                            lt4 = x * la1 + y * la3 + lt4
                            lt5 = x * la2 + y * la4 + lt5
                            tt4 = lt4
                            tt5 = lt5
                    elif opb == b"Tm":
                        v6 = _vnums(stack, 6)
                        if v6 is not None:
                            la1, la2, la3, la4, lt4, lt5 = v6
                            tt4 = lt4
                            tt5 = lt5
                    elif opb == b"Tf":
                        if (
                            len(stack) >= 2
                            and stack[-2].__class__ is str
                            and stack[-1].__class__ in (int, float)
                        ):
                            s_name = stack[-2]
                            st_i.font_name = s_name
                            st_i.font_size = l_fs = float(stack[-1])
                            l_sp = sp_thr * l_fs
                            interp._set_font_memo(s_name)
                            font_memo = interp._font_memo
                    elif opb == b"BT":
                        in_text = True
                        la1, la2, la3, la4 = 1.0, 0.0, 0.0, 1.0
                        lt4 = lt5 = tt4 = tt5 = 0.0
                    elif opb == b"ET":
                        in_text = False
                    elif opb == b"TJ":
                        out = None
                        try:  # pure parse: mirror of the token path's resync
                            arr = _rarray(stack)
                            out = []
                            for v in arr:
                                c = v.__class__
                                if c is bytes:
                                    out.append(("t", v))
                                elif c is int or c is float:
                                    out.append(("s", float(v)))
                                else:
                                    out = None
                                    break
                        except ContentParseError:
                            out = None
                        if out is not None and in_text:
                            st_i.text_matrix = (la1, la2, la3, la4, tt4, tt5)
                            st_i.text_line_matrix = (la1, la2, la3, la4, lt4, lt5)
                            interp._total = l_total
                            interp.last_x = l_lastx
                            interp.last_y = l_lasty
                            interp._last_char = l_lastc
                            interp._show_text_array(out)
                            l_total = interp._total
                            l_lastx = interp.last_x
                            l_lasty = interp.last_y
                            l_lastc = interp._last_char
                            _t = st_i.text_line_matrix
                            la1, la2, la3, la4, lt4, lt5 = (
                                _t[0], _t[1], _t[2], _t[3], _t[4], _t[5],
                            )
                            _t = st_i.text_matrix
                            tt4 = _t[4]
                            tt5 = _t[5]
                    elif opb == b"T*":
                        lead = st_i.leading
                        lt4 = -lead * la3 + lt4
                        lt5 = -lead * la4 + lt5
                        tt4 = lt4
                        tt5 = lt5
                    elif opb == b"'":
                        v = stack[-1] if stack else None
                        if v.__class__ is bytes and in_text:
                            st_i.text_matrix = (la1, la2, la3, la4, tt4, tt5)
                            st_i.text_line_matrix = (la1, la2, la3, la4, lt4, lt5)
                            interp._total = l_total
                            interp.last_x = l_lastx
                            interp.last_y = l_lasty
                            interp._last_char = l_lastc
                            interp._next_line_show(v)
                            l_total = interp._total
                            l_lastx = interp.last_x
                            l_lasty = interp.last_y
                            l_lastc = interp._last_char
                            _t = st_i.text_line_matrix
                            la1, la2, la3, la4, lt4, lt5 = (
                                _t[0], _t[1], _t[2], _t[3], _t[4], _t[5],
                            )
                            _t = st_i.text_matrix
                            tt4 = _t[4]
                            tt5 = _t[5]
                    elif opb == b'"':
                        ok = (
                            len(stack) >= 3
                            and stack[-1].__class__ is bytes
                            and stack[-2].__class__ in (int, float)
                            and stack[-3].__class__ in (int, float)
                        )
                        if ok and in_text:
                            st_i.word_space = float(stack[-3])
                            st_i.char_space = float(stack[-2])
                            st_i.text_matrix = (la1, la2, la3, la4, tt4, tt5)
                            st_i.text_line_matrix = (la1, la2, la3, la4, lt4, lt5)
                            interp._total = l_total
                            interp.last_x = l_lastx
                            interp.last_y = l_lasty
                            interp._last_char = l_lastc
                            interp._next_line_show(stack[-1])
                            l_total = interp._total
                            l_lastx = interp.last_x
                            l_lasty = interp.last_y
                            l_lastc = interp._last_char
                            _t = st_i.text_line_matrix
                            la1, la2, la3, la4, lt4, lt5 = (
                                _t[0], _t[1], _t[2], _t[3], _t[4], _t[5],
                            )
                            _t = st_i.text_matrix
                            tt4 = _t[4]
                            tt5 = _t[5]
                    elif opb == b"TL":
                        v1 = _vnums(stack, 1)
                        if v1 is not None:
                            st_i.leading = v1[0]
                    elif opb == b"Tc":
                        v1 = _vnums(stack, 1)
                        if v1 is not None:
                            st_i.char_space = v1[0]
                    elif opb == b"Tw":
                        v1 = _vnums(stack, 1)
                        if v1 is not None:
                            st_i.word_space = v1[0]
                    elif opb == b"Tz":
                        v1 = _vnums(stack, 1)
                        if v1 is not None:
                            st_i.horizontal_scale = l_hs = v1[0]
                    elif opb == b"Ts":
                        v1 = _vnums(stack, 1)
                        if v1 is not None:
                            st_i.text_rise = v1[0]
                    elif opb == b"Tr":
                        v = stack[-1] if stack else None
                        if v.__class__ is int:
                            st_i.render_mode = v
                    elif opb == b"cm":
                        v6 = _vnums(stack, 6)
                        if v6 is not None:
                            a, b, c, d, e, f = v6
                            o = st_i.ctm
                            st_i.ctm = l_ctm = (
                                a * o[0] + b * o[2],
                                a * o[1] + b * o[3],
                                c * o[0] + d * o[2],
                                c * o[1] + d * o[3],
                                e * o[0] + f * o[2] + o[4],
                                e * o[1] + f * o[3] + o[5],
                            )
                            ctm_ident = l_ctm == IDENT
                    elif opb == b"q":
                        st_i.saved.append((st_i.ctm, st_i.fill_color))
                    elif opb == b"Q":
                        if st_i.saved:
                            st_i.ctm, st_i.fill_color = st_i.saved.pop()
                            l_ctm = st_i.ctm
                            ctm_ident = l_ctm == IDENT
                    elif opb == b"g":
                        v1 = _vnums(stack, 1)
                        if v1 is not None:
                            st_i.fill_color = ("gray", v1[0])
                    elif opb == b"rg":
                        v3 = _vnums(stack, 3)
                        if v3 is not None:
                            st_i.fill_color = ("rgb", v3[0], v3[1], v3[2])
                    elif opb == b"k":
                        v4 = _vnums(stack, 4)
                        if v4 is not None:
                            st_i.fill_color = (
                                "cmyk", v4[0], v4[1], v4[2], v4[3]
                            )
                    elif opb == b"Do":
                        v = stack[-1] if stack else None
                        if v.__class__ is str:
                            st_i.text_matrix = (la1, la2, la3, la4, tt4, tt5)
                            st_i.text_line_matrix = (la1, la2, la3, la4, lt4, lt5)
                            interp.in_text = in_text
                            interp._total = l_total
                            interp.last_x = l_lastx
                            interp.last_y = l_lasty
                            interp._last_char = l_lastc
                            interp._paint_xobject(v, resources, depth)
                            l_total = interp._total
                            l_lastx = interp.last_x
                            l_lasty = interp.last_y
                            l_lastc = interp._last_char
                            _t = st_i.text_line_matrix
                            la1, la2, la3, la4, lt4, lt5 = (
                                _t[0], _t[1], _t[2], _t[3], _t[4], _t[5],
                            )
                            _t = st_i.text_matrix
                            tt4 = _t[4]
                            tt5 = _t[5]
                            font_memo = interp._font_memo
                            in_text = interp.in_text
                            l_ctm = st_i.ctm
                            ctm_ident = l_ctm == IDENT
                            l_fs = st_i.font_size
                            l_sp = sp_thr * l_fs
                            l_hs = st_i.horizontal_scale
                            l_noart = not st_i.artifact_n or inc_art
                    elif opb == b"BMC":
                        v = stack[-1] if stack else None
                        if v.__class__ is str:
                            interp._op_bmc(v)
                            l_noart = not st_i.artifact_n or inc_art
                    elif opb == b"BDC":
                        tag = props = None
                        try:  # pure parse of the props + tag operands
                            props = _rdict_or_name(stack)
                            t2 = stack.pop()
                            tag = t2 if t2.__class__ is str else None
                        except (ContentParseError, IndexError):
                            tag = None
                        if tag is not None:
                            st_i.text_matrix = (la1, la2, la3, la4, tt4, tt5)
                            st_i.text_line_matrix = (la1, la2, la3, la4, lt4, lt5)
                            interp._total = l_total
                            interp.last_x = l_lastx
                            interp.last_y = l_lasty
                            interp._last_char = l_lastc
                            interp._op_bdc(tag, props, resources)
                            l_noart = not st_i.artifact_n or inc_art
                            l_total = interp._total
                            l_lastx = interp.last_x
                            l_lasty = interp.last_y
                            l_lastc = interp._last_char
                            _t = st_i.text_line_matrix
                            la1, la2, la3, la4, lt4, lt5 = (
                                _t[0], _t[1], _t[2], _t[3], _t[4], _t[5],
                            )
                            _t = st_i.text_matrix
                            tt4 = _t[4]
                            tt5 = _t[5]
                    elif opb == b"EMC":
                        st_i.text_matrix = (la1, la2, la3, la4, tt4, tt5)
                        st_i.text_line_matrix = (la1, la2, la3, la4, lt4, lt5)
                        interp._total = l_total
                        interp.last_x = l_lastx
                        interp.last_y = l_lasty
                        interp._last_char = l_lastc
                        interp._op_emc()
                        l_noart = not st_i.artifact_n or inc_art
                        l_total = interp._total
                        l_lastx = interp.last_x
                        l_lasty = interp.last_y
                        l_lastc = interp._last_char
                        _t = st_i.text_line_matrix
                        la1, la2, la3, la4, lt4, lt5 = (
                            _t[0], _t[1], _t[2], _t[3], _t[4], _t[5],
                        )
                        _t = st_i.text_matrix
                        tt4 = _t[4]
                        tt5 = _t[5]
                    elif opb == b"BI":
                        stack.clear()
                        _params, _payload, pos = _scan_bi(data, m.end())
                        interp._emit_image(
                            f"inline:{interp.page_index}:{interp._inline_idx}"
                        )
                        interp._inline_idx += 1
                        restart = True
                        break
                    elif opb == b"ID":
                        # stray ID: resync + the swallowed payload becomes
                        # an operand no pop accepts (token-path parity)
                        stack.clear()
                        payload, pos = _read_inline_image_data(data, m.end())
                        push(_InlineTok(payload))
                        restart = True
                        break
                    # every other operator (paths, colors incl. gs/SC/sc,
                    # TD, dash, clipping, XObject-irrelevant) has NO
                    # extraction effect: operands are discarded unparsed
                    if stack:
                        stack.clear()
                elif kind == _K_TM6:  # a b c d e f Tm
                    if stack:
                        stack.clear()
                    v = m.group(_K_TM1, _K_TM1 + 1, _K_TM1 + 2, _K_TM1 + 3,
                                _K_TM1 + 4, _K_TM6)
                    la1, la2, la3 = float(v[0]), float(v[1]), float(v[2])
                    la4, lt4, lt5 = float(v[3]), float(v[4]), float(v[5])
                    tt4 = lt4
                    tt5 = lt5
                elif kind == _K_TFS:  # /name size Tf
                    if stack:
                        stack.clear()
                    nm, sz = m.group(_K_TFN, _K_TFS)
                    s = name_memo.get(nm)
                    if s is None:
                        if len(name_memo) > 8192:
                            name_memo.clear()
                        s = _decode_name(nm)
                        name_memo[nm] = s
                    st_i.font_name = s
                    st_i.font_size = l_fs = float(sz)
                    l_sp = sp_thr * l_fs
                    interp._set_font_memo(s)
                    font_memo = interp._font_memo
                elif kind == _K_M2H or kind == _K_M2S:  # (s)|<hex> Tj
                    if stack:
                        stack.clear()
                    if in_text:
                        tb = (
                            _hexval(m.group(_K_M2H))
                            if kind == _K_M2H
                            else m.group(_K_M2S)
                        )
                elif kind == _K_LSTR:
                    sdata, pos = _read_literal_string(data, m.end())
                    push(sdata)
                    restart = True
                    break
                elif kind == _K_HSTR:
                    push(_hexval(m.group(_K_HSTR)[1:-1]))
                elif kind == _K_NAME:
                    nm = m.group(_K_NAME)  # includes the leading '/'
                    s = name_memo.get(nm)
                    if s is None:
                        if len(name_memo) > 8192:
                            name_memo.clear()
                        s = _decode_name(nm[1:])
                        name_memo[nm] = s
                    push(s)
                elif kind == _K_AO:
                    push(_AO)
                elif kind == _K_AC:
                    push(_AC)
                elif kind == _K_DO:
                    push(_DO)
                elif kind == _K_DC:
                    push(_DC)
                # skipd delimiters are dropped
                if tb is not None:
                    # INLINE ShowText — the reference implementation is
                    # Interpreter._show_text (textstate.py:419); the
                    # parse_and_run == run∘parse_content differential tests pin
                    # the two byte-for-byte equal, incl. full interpreter
                    # state. Inlined because dense documents execute this ~60k
                    # times per doc and the method-call + attribute-load
                    # overhead dominated the kernel profile.
                    if fast_show:
                        hit = font_memo.get(tb)
                        if hit is None:
                            hit = interp._decode(tb)
                        decoded = hit[0]
                        if ctm_ident:
                            x = tt4
                            y = tt5
                        else:
                            ctm = l_ctm
                            x = tt4 * ctm[0] + tt5 * ctm[2] + ctm[4]
                            y = tt4 * ctm[1] + tt5 * ctm[3] + ctm[5]
                        if l_noart:
                            if l_total:
                                dy = y - l_lasty
                                if dy > nl_thr or -dy > nl_thr:
                                    tp_append("\n")
                                    l_total += 1
                                    l_lastc = "\n"
                                elif x - l_lastx > l_sp:
                                    tp_append(" ")
                                    l_total += 1
                                    l_lastc = " "
                            if decoded:
                                tp_append(decoded)
                                l_total += len(decoded)
                                l_lastc = decoded[-1]
                        width = hit[1] * l_fs
                        l_lastx = x + width
                        l_lasty = y
                        tx = width if l_hs == 100.0 else width * l_hs / 100.0
                        tt4 = tx * la1 + tt4
                        tt5 = tx * la2 + tt5
                    else:
                        st_i.text_matrix = (la1, la2, la3, la4, tt4, tt5)
                        st_i.text_line_matrix = (la1, la2, la3, la4, lt4, lt5)
                        interp._total = l_total
                        interp.last_x = l_lastx
                        interp.last_y = l_lasty
                        interp._last_char = l_lastc
                        interp._show_text(tb)
                        l_total = interp._total
                        l_lastx = interp.last_x
                        l_lasty = interp.last_y
                        l_lastc = interp._last_char
                        _t = st_i.text_line_matrix
                        la1, la2, la3, la4, lt4, lt5 = (
                            _t[0], _t[1], _t[2], _t[3], _t[4], _t[5],
                        )
                        _t = st_i.text_matrix
                        tt4 = _t[4]
                        tt5 = _t[5]
                    tb = None
            if not restart:
                break
    finally:
        st_i.text_matrix = (la1, la2, la3, la4, tt4, tt5)
        st_i.text_line_matrix = (la1, la2, la3, la4, lt4, lt5)
        interp.in_text = in_text
        interp._total = l_total
        interp.last_x = l_lastx
        interp.last_y = l_lasty
        interp._last_char = l_lastc


# ---------------------------------------------------------------------------
# C fast path (see _cscan.c + cbuild.py): helpers the C loop calls back into
# ---------------------------------------------------------------------------


def _c_bi(interp, data: bytes, pos: int) -> int:
    """BI branch body for the C loop (mirror of the Python BI branch):
    parameter scan + inline-image span emission; returns the resume pos."""
    _params, _payload, pos = _scan_bi(data, pos)
    interp._emit_image(f"inline:{interp.page_index}:{interp._inline_idx}")
    interp._inline_idx += 1
    return pos


def _c_bdc(interp, stacklist: list, resources) -> None:
    """BDC branch body for the C loop (mirror of the Python BDC branch):
    pure parse of props + tag off a materialized operand stack, then
    _op_bdc — the C caller handles the state sync around this call."""
    tag = props = None
    try:
        props = _rdict_or_name(stacklist)
        t2 = stacklist.pop()
        tag = t2 if t2.__class__ is str else None
    except (ContentParseError, IndexError):
        tag = None
    if tag is not None:
        interp._op_bdc(tag, props, resources)


def _c_frag_env(interp):
    """Fragment-environment snapshot for the C layout path: the values a
    fragment emission needs that only change at marked-content /
    XObject boundaries — re-read after each such callback."""
    from .textstate import _innermost_mc_tag

    st = interp.state
    mcid, tag = _innermost_mc_tag(st.mc_stack)
    return (mcid, tag, st.pending_actualtext)


def _load_cscan():
    from .cbuild import load_cscan

    mod = load_cscan()
    if mod is None:
        return None
    try:
        mod.setup(
            (_AO, _AC, _DO, _DC), _NAME_MEMO, _decode_name, _InlineTok,
            _hexval, _c_bi, _c_bdc, _scan_bi,
        )
        from . import objects as _objmod

        mod.setup_obj(
            _objmod.Ref, _objmod._NAME_MEMO, _objmod.Lexer._decode_name_bytes,
            _objmod.Stream,
        )
        # the stream filters the C fetch and /Contents assembly decode
        # natively (filters.py keeps the fallback ladder)
        import zlib as _zlib

        from . import filters as _filters

        mod.setup_filters(
            _zlib.decompressobj, _filters.MAX_DECOMPRESSED_SIZE,
            _filters.MAX_COMPRESSION_RATIO,
        )
        # CMap parse and cold run decode (parse_cmap, the per-font code
        # table behind run_page's memo misses, its Standard-14 width rows),
        # and the FontInfo build run_pages calls on a cache miss
        from . import afm_widths as _afm, cmap as _cmap, encodings as _enc
        from . import fonts as _fonts

        mod.setup_fonts(
            _cmap.CMap, _enc.glyph_name_to_unicode,
            "".join(_enc.decode_winansi_byte(b) for b in range(256)),
            "".join(_enc.decode_macroman_byte(b) for b in range(256)),
            _afm.TABLES, _fonts.extract_font_info, _fonts.fallback_encoding,
        )
        # layout-mode fragment emission and the HTML tokenizer; the
        # pure-Python layout and html.parser passes stay the behavior
        # authority
        from html import unescape as _html_unescape

        from .html_extract import _hint_value
        from .layout import TextFragment, parse_font_style

        mod.setup_layout(TextFragment, parse_font_style, _c_frag_env)
        mod.setup_html(_html_unescape, _hint_value)
    except Exception:
        return None
    return mod


_CSCAN = _load_cscan()
