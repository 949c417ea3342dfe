"""The C kernel build: a host with a toolchain must load the extension, and
a compiler rejection must say why instead of silently running pure Python
(where every C differential test would skip)."""

from __future__ import annotations

import os
import shutil
import sysconfig

import pytest

from oxidizepdf_spark.kernel import cbuild


def test_cscan_builds_with_toolchain():
    if os.environ.get("OXPDF_NO_CKERNEL"):
        pytest.skip("OXPDF_NO_CKERNEL asks for the pure-Python kernel")
    cc = os.environ.get("CC", "gcc")
    header = os.path.join(sysconfig.get_paths()["include"], "Python.h")
    if shutil.which(cc) is None or not os.path.exists(header):
        pytest.skip(f"no C toolchain ({cc} or {header} missing)")
    from oxidizepdf_spark.kernel import content

    assert content._CSCAN is not None, (
        cbuild.build_failure()
        or "no failure sentinel: transient build error or import failure")
    for entry in ("xref_chain", "parse_xref_section", "get_object",
                  "flatten_pages", "page_content", "parse_indirect",
                  "run_page", "parse_cmap", "run_pages", "extract_batch",
                  "html_spans", "setup_filters", "filter_counts"):
        assert hasattr(content._CSCAN, entry), entry


def test_failed_build_records_compiler_stderr(tmp_path):
    if shutil.which(os.environ.get("CC", "gcc")) is None:
        pytest.skip("no C compiler")
    source = b"#error kernel source is broken on purpose\n"
    assert cbuild.build(source, str(tmp_path)) is None
    sentinel = cbuild._stem(source, str(tmp_path)) + ".failed"
    text = open(sentinel).read()
    assert text.startswith("compile failed")
    assert "kernel source is broken on purpose" in text
    # the sentinel is a negative cache: no second compile attempt
    assert cbuild.build(source, str(tmp_path)) is None
    assert sorted(p.suffix for p in tmp_path.iterdir()) == [".c", ".failed"]
