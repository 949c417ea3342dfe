"""The C kernel build: a host with a toolchain must load the extension with
every entry the code reads, and a compiler rejection must say why instead
of silently running pure Python (where every C differential test would
skip)."""

from __future__ import annotations

import os
import re
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
    entries = _entries_read()
    assert {"extract_batch", "html_events", "batch_counts"} <= entries
    missing = sorted(e for e in entries if not hasattr(content._CSCAN, e))
    assert not missing, missing


def _entries_read() -> set:
    """Every ``_CSCAN.<name>`` and ``ck.<name>`` the package's modules and
    its tools read: a caller that falls back to Python on an exception
    would hide a dropped entry."""
    pkg = os.path.dirname(os.path.dirname(os.path.abspath(cbuild.__file__)))
    names = set()
    for top in (pkg, os.path.join(os.path.dirname(pkg), "tools")):
        for root, _dirs, files in os.walk(top):
            for f in files:
                if f.endswith(".py"):
                    with open(os.path.join(root, f), encoding="utf-8") as fh:
                        names.update(re.findall(
                            r"\b(?:_CSCAN|ck)\.(\w+)", fh.read()))
    return names


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
