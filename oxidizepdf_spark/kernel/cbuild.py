"""Lazy in-repo C-extension build for the kernel's fast paths.

The kernel ships ``_cscan.c`` and compiles it ON FIRST IMPORT with the host
toolchain:

    gcc -O2 -shared -fPIC _cscan.c -o <cache>/_cscan-<tag>.so

``_cscan.c`` holds C transcriptions of pure-Python kernel steps, each
pinned to its Python original by the differential tests
(tests/test_cscan_differential.py):

- the content interpreter loop (``run_page``: content.py's fused
  parse_and_run loop, fast-show and layout modes) and the layout merge
  (``merge_close``, ``reconstruct_text``);
- the document skeleton: the xref chain with its xref streams and hybrid
  /XRefStm, one traditional section with its trailer and the recovery scan
  (``xref_chain``, ``parse_xref_section``, ``recover_xref``: xref.py), the
  object parse and fetch, object-stream members included (``parse_indirect``,
  ``get_object``: reader.py), the page tree and the /Contents assembly
  (``flatten_pages``, ``page_content``: pages.py);
- the stream filters (``lzw_decode``: filters.decode_lzw; and, inside
  the C fetch and /Contents assembly, filters.decode_stream_data's common
  chain: Flate through the ``zlib.decompressobj`` calls of
  ``_zlib_try`` that ``setup_filters`` installs, LZW, ASCIIHex, chains
  of these and the PNG and TIFF predictors, any other stream going to
  the Python ``Stream.decode``; ``filter_counts`` reads the streams
  decoded natively by filter and handed back by reason);
- the text path: the CMap parse (``parse_cmap``: cmap.CMap.parse with
  tokenize_cmap, for the ToUnicode streams fonts.extract_font_info reads)
  and, inside ``run_page``, the per-font code table that decodes and
  measures a show run the run memo missed (Interpreter._decode:
  fonts.decode_text and calculate_text_width_from_codes), with the
  Standard-14 width rows (afm_widths.TABLES) fixed at setup;
- the page loop (``run_pages``: extract.extract_pdf_bytes's per-page
  loop for options without layout fragments — no layout, emission order,
  no OCR): per page the font lookup (the Python
  fonts.extract_font_info on a FontInfo cache miss, stored in
  reader._fontinfo_cache), the /Contents assembly, the interpreter state,
  the run and Interpreter.finalize, with no Interpreter built. A page
  bails to the Python loop on an exception in it (Python then records
  the page's error), a Form XObject, a fetch ``get_object`` bails on,
  deep marked-content props, or a run the code table declines; an
  encrypted document is not served at all;
- the HTML main-content tokenizer (``html_events``: html_extract.py,
  with or without the out-link list) and, with the span filter,
  ``html_spans`` (extract_html_spans);
- the batch loop (``extract_batch``: extract.extract_batch's document
  loop over one Arrow batch, for the options the page loop serves): it
  reads the input string columns' Arrow buffers, and per document runs
  the latin-1 payload decode straight into the document's bytes, the
  xref chain into a C table that also holds the fetched objects and
  object-stream members, the page tree and the page loop, the HTML spans
  and the text/media passthrough, writing the output columns' buffers,
  with wall_ms timed in C and one FontInfo shared across the batch's
  documents for font dicts with equal keys. No PdfReader exists unless
  a Python step needs one (a FontInfo build on a cache miss, or a
  content stream decode handed to Python): the reader factory
  extract.extract_batch passes in then builds it through PdfReader's
  constructor, once per document, and the C fetch stays on the tables.
  A document is handed back whole to extract_document_spans (a fresh
  reader, Python the authority) for a password, a ``b85:`` or
  non-latin-1 payload, a reader that raises or bails (no header or
  /Root, a chain ``xref_chain`` bails on, a recovered reader in strict
  mode), encryption, a tree ``flatten_pages`` does not serve, a page the
  page loop bails on, an object stream whose container filter the
  native chain declines (its Python decode would run in the middle of a
  fetch), HTML ``html_events`` bails on, or a span Arrow cannot encode;
  ``batch_counts`` reads the served and handed-back documents by reason.

Every entry point returns a complete result or a bail (None, or ``BAIL``
for ``get_object`` and ``parse_cmap``; for ``run_pages``, the index of
the first page it did not serve; for ``extract_batch``, a call of the
Python row function per document handed back). On a bail the caller runs that whole
step in Python, which stays the behavior authority: encrypted documents
and any input the C code is not byte-certain about take the Python
path. A CMap with usecmap or cid
sections bails to the Python parse; a run goes to Interpreter._decode
for a Type0 font without ToUnicode (CJK/CID tables), 3- or 4-byte
ToUnicode codes, composite /Widths or CID width tables, no font, or a
decode that meets decode_text's acceptance gate or a sanitize trigger.

This is the same deploy-anywhere story a 1000-executor cluster needs: the
source rides with the package (``--py-files``), each executor compiles
once into a local cache keyed by (source hash, python version), and ANY
failure — no compiler, no headers, sandboxed filesystem — degrades to the
pure-Python kernel with identical output. A compiler rejection is cached
as ``_cscan-<tag>.failed`` holding the compiler command and its stderr;
``build_failure()`` returns that text.

Kill switch: ``OXPDF_NO_CKERNEL=1`` forces pure Python.
"""

from __future__ import annotations

import hashlib
import os
import subprocess
import sys
import sysconfig


def _cache_dir() -> str:
    base = os.environ.get("XDG_CACHE_HOME") or os.path.join(
        os.path.expanduser("~"), ".cache"
    )
    return os.path.join(base, "oxidizepdf_spark")


def _source() -> bytes | None:
    # importlib.resources reads the source even when the package ships as a
    # zip (spark-submit --py-files oxidizepdf_spark.zip) — a plain
    # __file__-relative open() would fail there and silently lose the fast
    # path on every executor.
    try:
        from importlib import resources

        return (
            resources.files("oxidizepdf_spark.kernel") / "_cscan.c"
        ).read_bytes()
    except Exception:
        try:
            src = os.path.join(
                os.path.dirname(os.path.abspath(__file__)), "_cscan.c"
            )
            with open(src, "rb") as f:
                return f.read()
        except OSError:
            return None


def _stem(source: bytes, cache: str) -> str:
    """``<cache>/_cscan-<tag>``: the tag invalidates every artifact (the
    .so and the negative-cache sentinel) on the next kernel change."""
    tag = hashlib.sha256(
        source + sys.version.encode() + sys.executable.encode()
    ).hexdigest()[:16]
    return os.path.join(cache, f"_cscan-{tag}")


def _write_failed_sentinel(path: str, text: str) -> None:
    try:
        tmp = path + f".tmp.{os.getpid()}"
        with open(tmp, "w") as f:
            f.write(text)
        os.replace(tmp, path)
    except OSError:
        pass


def build(source: bytes, cache: str) -> str | None:
    """Compile ``source`` into ``cache`` unless already built; the .so
    path, or None when the build failed (the sentinel says why)."""
    stem = _stem(source, cache)
    so_path = stem + ".so"
    # negative cache: without it, every new Python process on a host with a
    # broken toolchain re-runs the gcc attempt (up to the 120s timeout)
    # before degrading — a sentinel makes the failure a one-time cost per
    # host
    failed_path = stem + ".failed"
    if os.path.exists(so_path):
        return so_path
    if os.path.exists(failed_path):
        return None
    try:
        os.makedirs(cache, exist_ok=True)
        include = sysconfig.get_paths()["include"]
        cc = os.environ.get("CC", "gcc")
        # compile from a cache-local copy of the source: the package may be
        # a zip with no on-disk .c path for gcc to read
        csrc = stem + ".c"
        if not os.path.exists(csrc):
            tmp_c = csrc + f".tmp.{os.getpid()}"
            with open(tmp_c, "wb") as f:
                f.write(source)
            os.replace(tmp_c, csrc)
        tmp = so_path + f".tmp.{os.getpid()}"
        cmd = [
            cc, "-O2", "-fPIC", "-shared", "-fno-strict-aliasing",
            f"-I{include}", csrc, "-o", tmp,
        ]
        proc = subprocess.run(cmd, capture_output=True, timeout=120)
        if proc.returncode != 0:
            # a real compiler rejection is deterministic for this source
            # hash — cache the negative permanently, with the reason
            _write_failed_sentinel(
                failed_path,
                f"compile failed (exit {proc.returncode}): {' '.join(cmd)}\n"
                + proc.stderr.decode("utf-8", "replace"),
            )
            return None
        os.replace(tmp, so_path)  # atomic vs concurrent executors
    except (subprocess.TimeoutExpired, OSError):
        # transient causes (gcc timeout under host load, ENOSPC, a killed
        # subprocess): do NOT poison the negative cache — the next process
        # should retry the compile
        return None
    except Exception as e:
        _write_failed_sentinel(
            failed_path, f"build failed: {type(e).__name__}: {e}\n")
        return None
    return so_path


def build_failure() -> str | None:
    """The cached compiler failure for the current source (command and
    stderr), or None when there is none."""
    source = _source()
    if source is None:
        return None
    try:
        with open(_stem(source, _cache_dir()) + ".failed") as f:
            return f.read()
    except OSError:
        return None


def load_cscan():
    """Compile (if needed) and import the _cscan extension; None on any
    failure — callers fall back to the pure-Python kernel."""
    if os.environ.get("OXPDF_NO_CKERNEL"):
        return None
    source = _source()
    if source is None:
        return None
    so_path = build(source, _cache_dir())
    if so_path is None:
        return None
    try:
        import importlib.util

        spec = importlib.util.spec_from_file_location("oxpdf_cscan", so_path)
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        return mod
    except Exception:
        return None
