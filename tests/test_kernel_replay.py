"""The benchmark's kernel replay (``perfbench/kernel_replay.replay``), run
as a library: it must follow ``extract_document_spans`` on every sampled
document. A traced benchmark run counts replay mismatches as failed
operations, so a kernel change that the replay cannot follow shows here
first. The seed is not the benchmark's held-out 90210."""

from __future__ import annotations

import importlib.util
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _kernel_replay():
    path = os.path.join(ROOT, "perfbench", "kernel_replay.py")
    spec = importlib.util.spec_from_file_location("kernel_replay", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_replay_follows_the_kernel():
    r = _kernel_replay().replay(20261, 16000, 300)
    assert r["mismatches"] == 0
    assert r["kernel.docs"] == 300
    assert r["kernel.recovered_docs"] > 0
    assert r["kernel.pages"] > 0 and r["kernel.spans"] > 0
