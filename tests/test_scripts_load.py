"""The repository's scripts load: their imports resolve and their ``main``
does not run on load. A stale import of a name deleted from ``bench.py``
(or of any other name that moved or went) fails here instead of at the
next manual run of the script."""

from __future__ import annotations

import ast
import glob
import importlib
import importlib.util
import os
import runpy
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SCRIPTS = sorted(
    os.path.relpath(p, ROOT)
    for p in glob.glob(os.path.join(ROOT, "tools", "*.py"))
    + glob.glob(os.path.join(ROOT, "jobs", "*.py"))
) + ["bench.py", "bench_extra.py"]


@pytest.fixture
def isolated_path(monkeypatch):
    # scripts put their own directories on sys.path when loaded
    monkeypatch.setattr(sys, "path", [ROOT] + sys.path)
    monkeypatch.chdir(ROOT)


@pytest.mark.parametrize("script", SCRIPTS)
def test_script_loads_without_running_main(script, isolated_path):
    path = os.path.join(ROOT, script)
    runpy.run_path(path, run_name="__smoke__")
    # imports inside function bodies run only when the script does: check
    # that each absolute one names a module (and attribute) that exists
    with open(path) as f:
        tree = ast.parse(f.read(), path)
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for alias in node.names:
                importlib.import_module(alias.name)
        elif isinstance(node, ast.ImportFrom) and node.level == 0:
            if node.module == "__future__":
                continue
            mod = importlib.import_module(node.module)
            for alias in node.names:
                assert hasattr(mod, alias.name) or importlib.util.find_spec(
                    f"{node.module}.{alias.name}"
                ), f"{script}: {node.module}.{alias.name} is gone"


def test_benchmark_required_files_and_spin(isolated_path):
    common = runpy.run_path(os.path.join(ROOT, "perfbench", "common.py"))
    assert common["missing_program_files"]() == []
    # perfbench/common.host_window imports it
    spin = importlib.import_module("bench")._spin
    assert spin(4) == 0 + 1 + 4 + 9
