"""Document reader: header, xref resolution, object fetch, object streams.

Reimplements (in-UDF, per document):

- open + structure scan:      oxidize-pdf-core/src/parser/reader.rs:262-425
- header parse:               parser/header.rs:1-60
- object fetch + memoization: reader.rs:564-870
- indirect /Length + lenient endstream search: reader.rs:880; mod.rs:232-235
- compressed-object fetch (ObjStm): reader.rs:914-957; object_stream.rs:27-109
- encryption detection (detect-only, descoped): reader.rs:350-409

The C kernel (kernel/_cscan.c) runs the happy path of three steps: the
xref chain and recovery (via xref.parse_xref_chain), the object parse
(``parse_indirect``) and the whole object fetch (``get_object``), for
strict and recovered readers alike. Each returns a complete result or a
bail; on a bail the Python code here runs that step from the start and
stays the authority. Encrypted documents always fetch in Python.

The C batch loop (``extract_batch``) keeps a document's xref entries,
fetched objects and object-stream members in C tables, and constructs a
``PdfReader`` only when a Python step needs one (a FontInfo build, a
content stream decode handed to Python), at most once per document,
through ``__init__`` below; its own fetches stay on the tables. A document
the header check, the C xref chain or the /Root and /Encrypt checks are
not certain about is handed back and opens here too. Nothing in C reads
this class's layout, so importing this module calls no C.
"""

from __future__ import annotations

import re

from . import content as _content
from .objects import Lexer, PdfParseError, Ref, Stream, parse_object
from .xref import fill_missing_objects, parse_xref_chain, recover_xref

_HEADER_RE = re.compile(rb"%PDF-(\d+)\.(\d+)")


class EncryptedPdfError(PdfParseError):
    pass


class PdfReader:
    """Single-document reader over an in-memory byte buffer.

    The xref table is a plain dict; the object cache is a per-document dict
    (document.rs:101-162 cache) — both live and die inside one UDF call.
    """

    __slots__ = (
        "data",
        "version",
        "xref",
        "trailer",
        "mode",
        "lenient",
        "decryptor",
        "_recipient_key",
        "_cache",
        "_objstm_cache",
        "_resolving",
        "_fontinfo_cache",
        "_span_decode_memo",
    )

    def __init__(
        self,
        data: bytes,
        lenient: bool = True,
        password: str | bytes | None = None,
        recipient_key: tuple | None = None,
    ):
        self.data = data
        self._recipient_key = recipient_key
        self.lenient = lenient
        self.decryptor = None
        if not data:
            raise PdfParseError("empty file")
        self.version = self._parse_header()
        self._cache: dict[tuple[int, int], object] = {}
        self._objstm_cache: dict[int, dict[int, object]] = {}
        self._resolving: set = set()
        self._fontinfo_cache: dict = {}
        # document-scoped (FontInfo, fallback_class) → {run → (text, w)}
        # decode memo (textstate.Interpreter._memo_for)
        self._span_decode_memo: dict = {}
        entries, trailer, mode = parse_xref_chain(data, self)
        if not lenient and mode != "strict":
            # strict tier (ParseOptions::strict): no brute-force recovery
            raise PdfParseError("xref unresolvable (strict mode)")
        # Validate the trailer points somewhere sane; else recovery scan
        # (reader.rs:341-347 validate; xref.rs:1050 recovery).
        if "Root" not in trailer:
            if not lenient:
                raise PdfParseError("missing /Root (strict mode)")
            entries, trailer, mode = recover_xref(data)
        self.xref = entries
        self.trailer = trailer
        self.mode = mode
        if "Encrypt" in trailer:
            self._setup_decryption(password)

    def _setup_decryption(self, password: str | bytes | None = None) -> None:
        """Unlock: empty user password first (the corpus-scale common case,
        encryption_handler.rs try_empty_password:482), then the caller-
        supplied password as user OR owner (PasswordProvider SPI semantics,
        parser/mod.rs:167-169). Still-locked documents raise
        EncryptedPdfError (error-as-data upstream)."""
        from .crypto import StandardSecurityHandler

        enc = self.resolve(self.trailer.get("Encrypt"))
        if not isinstance(enc, dict):
            raise EncryptedPdfError("malformed /Encrypt dictionary")
        filt = str(enc.get("Filter", "Standard"))
        ids = self.resolve(self.trailer.get("ID"))
        file_id = None
        if isinstance(ids, list) and ids and isinstance(ids[0], bytes):
            file_id = ids[0]
        if filt == "Adobe.PubSec":
            # public-key (recipient) handler, §7.6.5 — beyond the
            # reference, whose reader handles /Standard only
            from .crypto import PublicKeySecurityHandler

            try:
                handler = PublicKeySecurityHandler(enc, file_id)
                unlocked = (
                    self._recipient_key is not None
                    and handler.try_recipient_key(*self._recipient_key)
                )
            except Exception as e:
                raise EncryptedPdfError(
                    f"encryption setup failed: {e}") from e
            if not unlocked:
                if self._recipient_key is not None:
                    raise EncryptedPdfError(
                        "encrypted PDF (recipient key does not open any "
                        "envelope)")
                raise EncryptedPdfError(
                    "encrypted PDF (recipient key required)")
            self.decryptor = handler
            return
        if filt != "Standard":
            raise EncryptedPdfError(
                f"unsupported security handler: {enc.get('Filter')}"
            )
        try:
            handler = StandardSecurityHandler(enc, file_id)
            unlocked = handler.try_empty_password()
            if not unlocked and password is not None:
                unlocked = handler.try_password(
                    handler.prep_password(password)
                )
        except Exception as e:
            raise EncryptedPdfError(f"encryption setup failed: {e}") from e
        if not unlocked:
            if password is not None:
                raise EncryptedPdfError("encrypted PDF (wrong password)")
            raise EncryptedPdfError("encrypted PDF (password required)")
        self.decryptor = handler

    def _parse_header(self) -> tuple[int, int]:
        """%PDF-x.y within the first 1KB (header.rs:1-60; leading junk ok)."""
        m = _HEADER_RE.search(self.data, 0, 1024)
        if not m:
            raise PdfParseError("missing %PDF header")
        return (int(m.group(1)), int(m.group(2)))

    # -- object access -----------------------------------------------------

    def resolve(self, value):
        """Resolve indirect references (possibly chained)."""
        hops = 0
        while isinstance(value, Ref) and hops < 32:
            value = self.get_object(value.num, value.gen)
            hops += 1
        return value

    def get_object(self, num: int, gen: int = 0):
        """xref lookup → seek → parse → cache (reader.rs:564-650).

        Fast path: the C fetch (kernel/_cscan.c get_object) serves free,
        in-use and compressed entries of unencrypted documents, strict or
        recovered, stream payloads included, and fills the same
        ``_cache`` (and, for an object stream, the same
        ``_objstm_cache`` members); an indirect /Length resolves with the
        object in ``_resolving``, as below. It answers ``BAIL`` for a
        missing entry (``fill_missing_objects`` below), a wrong object at
        the offset (``_rescan_for``), a /Length it cannot resolve, an
        indirect or odd object-stream /N or /First, or any parse it is not
        byte-certain about, and the code below then fetches the object."""
        key = (num, gen)
        if key in self._cache:
            return self._cache[key]
        ck = _content._CSCAN
        if ck is not None:
            obj = ck.get_object(self, num, gen)
            if obj is not ck.BAIL:
                return obj
        if key in self._resolving:
            return None  # reference cycle — mirror the reference's guard
        entry = self.xref.get(num)
        if entry is None:
            # lenient: late fill from a header scan (xref.rs:1022)
            fill_missing_objects(self.data, self.xref)
            entry = self.xref.get(num)
            if entry is None:
                return None
        kind = entry[0]
        self._resolving.add(key)
        try:
            if kind == "f":
                obj = None
            elif kind == "n":
                offset = entry[1]
                try:
                    pnum, pgen, obj = self.parse_indirect_object_at(offset)
                    if pnum != num:
                        if not self.lenient:
                            raise PdfParseError(
                                f"xref offset for obj {num} points at obj {pnum}"
                            )
                        obj = self._rescan_for(num)
                except PdfParseError:
                    if not self.lenient:
                        raise  # strict tier: structural anomalies propagate
                    obj = self._rescan_for(num)
            elif kind == "c":
                obj = self._get_compressed_object(num, entry[1], entry[2])
            else:  # pragma: no cover
                obj = None
        finally:
            self._resolving.discard(key)
        self._cache[key] = obj
        return obj

    def _rescan_for(self, num: int):
        """Wrong/corrupt offset: brute-scan for the object header."""
        for m in re.finditer(rb"(?m)^\s*%d\s+(\d+)\s+obj\b" % num, self.data):
            try:
                _, _, obj = self.parse_indirect_object_at(m.start())
                return obj
            except PdfParseError:
                continue
        return None

    def parse_indirect_object_at(self, offset: int):
        """Parse ``N G obj ... endobj`` at a byte offset, including stream
        payload capture with indirect-/Length resolution and the lenient
        endstream search (reader.rs:651-870, 880; mod.rs:232-235).

        Fast path: the C object parser (kernel/_cscan.c parse_indirect)
        handles the happy-path grammar and returns None on ANYTHING it is
        not byte-certain about, in which case this method re-parses from
        the same offset with the pure-Python lexer, whose error behavior
        is the contract. Encrypted documents always take the Python path
        (string decryption walks the parsed value)."""
        if _CPARSE is not None and self.decryptor is None:
            r = _CPARSE(self.data, offset)
            if r is not None:
                num, gen, value, has_stream, pos = r
                if not has_stream:
                    return num, gen, value
                return num, gen, self._capture_stream(value, pos, num, gen)
        return self._parse_indirect_object_at_py(offset)

    def _has_crypt_filter(self, value: dict) -> bool:
        """ISO 32000-1 §7.6.5: a stream whose /Filter chain contains a
        /Crypt filter is EXEMPT from the document's default stream
        cipher (StmF) — the crypt filter itself governs (Identity =
        stored in the clear). Applying decrypt_stream first would garble
        an Identity-crypt plaintext stream (ADVICE r10 fix)."""
        f = value.get("Filter")
        if isinstance(f, Ref):
            f = self.resolve(f)
        if isinstance(f, list):
            for x in f:
                if isinstance(x, Ref):
                    x = self.resolve(x)
                if str(x) == "Crypt":
                    return True
            return False
        return f is not None and str(f) == "Crypt"

    def _capture_stream(self, value: dict, pos: int, num: int, gen: int):
        """Stream payload capture after the ``stream`` keyword at ``pos``
        (shared by the C and Python parse paths)."""
        data = self.data
        # exactly one EOL after 'stream' (spec): \r\n or \n (tolerate \r)
        if data[pos : pos + 2] == b"\r\n":
            pos += 2
        elif pos < len(data) and data[pos] in b"\r\n":
            pos += 1
        length = value.get("Length")
        if isinstance(length, Ref):
            # an xref stream is read while the xref is being built, so its
            # indirect /Length cannot resolve yet: the endstream search
            # (lenient) or the strict-mode error decides instead
            length = self.resolve(length) if hasattr(self, "xref") else None
        raw = None
        if isinstance(length, int) and length >= 0 and pos + length <= len(data):
            cand_end = pos + length
            after = data[cand_end : cand_end + 32].lstrip(b"\r\n \t")
            if after.startswith(b"endstream"):
                raw = data[pos:cand_end]
        if raw is None:
            if not self.lenient:
                raise PdfParseError("stream /Length mismatch (strict mode)")
            # lenient: declared length wrong/absent — search endstream
            es = data.find(b"endstream", pos)
            if es < 0:
                raise PdfParseError("unterminated stream")
            end = es
            # trim the EOL that precedes endstream
            if end > pos and data[end - 1] == 0x0A:
                end -= 1
            if end > pos and data[end - 1] == 0x0D:
                end -= 1
            raw = data[pos:end]
        dec = self.decryptor
        if dec is not None:
            # streams are encrypted except the XRef stream itself and
            # /Metadata when EncryptMetadata is false (ISO 32000 §7.6.2)
            t = value.get("Type")
            tname = str(t) if t is not None else ""
            if (
                tname != "XRef"
                and not (tname == "Metadata" and not dec.encrypt_metadata)
                and not self._has_crypt_filter(value)
            ):
                raw = dec.decrypt_stream(raw, num, gen)
            if tname != "XRef":
                # strings in a cross-reference stream dictionary are
                # never encrypted (ISO 32000 §7.5.8.2) — e.g. /ID in an
                # xref-stream trailer
                self._decrypt_strings(value, num, gen)
        return Stream(value, raw)

    def _parse_indirect_object_at_py(self, offset: int):
        """Reference pure-Python parse (the error-behavior contract)."""
        lexer = Lexer(self.data, offset)
        t1 = lexer.next_token()
        t2 = lexer.next_token()
        t3 = lexer.next_token()
        if t1[0] != "int" or t2[0] != "int" or t3 != ("kw", "obj"):
            raise PdfParseError(f"no object header at {offset}")
        num, gen = t1[1], t2[1]
        value = parse_object(lexer)
        tok = lexer.next_token()
        if tok == ("kw", "stream"):
            if not isinstance(value, dict):
                raise PdfParseError("stream keyword after non-dict object")
            value = self._capture_stream(value, lexer.pos, num, gen)
        elif self.decryptor is not None:
            value = self._decrypt_strings(value, num, gen)
        return num, gen, value

    def _decrypt_strings(self, value, num: int, gen: int):
        """Recursively decrypt string values of a directly-parsed indirect
        object (Algorithm 1 per-string; the Encrypt dict itself is fetched
        before the decryptor exists, so its O/U/OE/UE stay raw)."""
        if isinstance(value, bytes):
            return self.decryptor.decrypt_string(value, num, gen)
        if isinstance(value, dict):
            for k, v in value.items():
                nv = self._decrypt_strings(v, num, gen)
                if nv is not v:
                    value[k] = nv
            return value
        if isinstance(value, list):
            for i, v in enumerate(value):
                nv = self._decrypt_strings(v, num, gen)
                if nv is not v:
                    value[i] = nv
            return value
        return value

    # -- object streams ----------------------------------------------------

    def _get_compressed_object(self, num: int, container: int, idx: int):
        """ObjStm fetch (object_stream.rs:27-109): decode the container once,
        parse its `N` (obj_num, offset) header pairs, cache every member."""
        parsed = self._objstm_cache.get(container)
        if parsed is None:
            parsed = {}
            stm = self.get_object(container, 0)
            if isinstance(stm, Stream):
                try:
                    decoded = stm.decode(resolve=self.resolve)
                    n = int(self.resolve(stm.dict.get("N", 0)) or 0)
                    first = int(self.resolve(stm.dict.get("First", 0)) or 0)
                    header = decoded[:first]
                    pairs = [int(x) for x in re.findall(rb"\d+", header)[: 2 * n]]
                    for i in range(0, len(pairs) - 1, 2):
                        onum, ooff = pairs[i], pairs[i + 1]
                        try:
                            sub = Lexer(decoded, first + ooff)
                            parsed[onum] = parse_object(sub)
                        except PdfParseError:
                            parsed[onum] = None
                except (PdfParseError, ValueError):
                    pass
            self._objstm_cache[container] = parsed
        return parsed.get(num)

    # -- document-level helpers ---------------------------------------------

    def catalog(self) -> dict:
        root = self.resolve(self.trailer.get("Root"))
        if not isinstance(root, dict):
            raise PdfParseError("missing /Root catalog")
        return root


# The C object parser, bound once at import (None → pure-Python parsing).
# The other C steps read ``_content._CSCAN`` at call time, so
# OXPDF_NO_CKERNEL=1 (no extension at all) turns every one of them off.
_CPARSE = (
    _content._CSCAN.parse_indirect if _content._CSCAN is not None else None
)
