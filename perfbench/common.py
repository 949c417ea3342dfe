"""Shared plumbing for the benchmark: paths, environment, host window,
process-tree memory sampling and small statistics helpers.

Nothing here imports pyspark or the engine, so ``run.py`` can set the
environment (cache and scratch directories, interpreter, parallelism)
before either is loaded.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# Everything a run writes lives here, wiped at the start of each run so
# set-up does the same work every time (corpus staging, C-extension build).
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")

# Files of the engine the benchmark drives; a checkout without them has
# nothing to measure and the benchmark must fail rather than report.
REQUIRED = (
    "oxidizepdf_spark/__init__.py",
    "oxidizepdf_spark/pipeline.py",
    "oxidizepdf_spark/kernel/extract.py",
    "jobs/extract_job.py",
    "bench.py",
    "bench_extra.py",
    "tools/check_oracle.py",
)

# Single-process spin throughput of an idle window on the 4-vCPU host the
# benchmark was written on (Mops/s of ``bench._spin``). ``spin_index`` is
# the probe divided by this: ~1.0 in a quiet window, lower when the host
# is contended, so a noisy set explains itself.
QUIET_SPIN_MOPS = 14.0


def missing_program_files() -> list[str]:
    return [p for p in REQUIRED if not os.path.exists(os.path.join(ROOT, p))]


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def prepare_environment(workload: str) -> dict:
    """Fresh per-workload work directory plus the process environment the
    engine reads: a benchmark-owned C-extension cache (``XDG_CACHE_HOME``),
    Spark scratch space (``SPARK_LOCAL_DIRS``), explicit parallelism
    (``SPARK_GRAFT_CPUS``), one interpreter for driver and workers (the
    C-extension cache is keyed by interpreter path), and the checkout on
    the workers' import path."""
    work = os.path.join(WORK_ROOT, workload)
    shutil.rmtree(work, ignore_errors=True)
    paths = {
        "work": work,
        "xdg": os.path.join(work, "xdg"),
        "local": os.path.join(work, "spark-local"),
        "data": os.path.join(work, "data"),
        "eventlog": os.path.join(work, "eventlog"),
        "out": os.path.join(work, "out"),
    }
    for p in paths.values():
        os.makedirs(p, exist_ok=True)
    os.environ["XDG_CACHE_HOME"] = paths["xdg"]
    os.environ["SPARK_LOCAL_DIRS"] = paths["local"]
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ.pop("OXPDF_NO_CKERNEL", None)
    pp = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + pp if pp else "")
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    return paths


def host_window(spin_n: int = 2_000_000) -> dict:
    """nproc, 1-minute load average and a single-process spin probe, in
    the manner of ``bench._host_window`` but cheap enough to run before
    and after every set."""
    from bench import _spin

    best = 0.0
    for _ in range(2):
        t0 = time.perf_counter()
        _spin(spin_n)
        best = max(best, spin_n / (time.perf_counter() - t0) / 1e6)
    return {
        "nproc": nproc(),
        "loadavg_1m": round(os.getloadavg()[0], 2),
        "spin_mops": round(best, 2),
        "spin_index": round(best / QUIET_SPIN_MOPS, 3),
    }


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces or parens: ppid follows the last ')'
        fields = stat[stat.rfind(b")") + 2:].split()
        kids.setdefault(int(fields[1]), []).append(int(name))
    return kids


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup", "rb") as f:
            for line in f:
                if line.startswith(b"Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_rss_mb(root: int) -> float:
    """Resident memory of ``root`` and all its descendants (driver Python,
    the JVM, the PySpark daemon and its forked workers), each page shared
    between processes split evenly among them (Linux PSS). Forked workers
    share most of their pages with the daemon, so how many of them are
    alive at a sample moves the sum far less than plain RSS would."""
    kids = _children_map()
    total, stack = 0, [root]
    while stack:
        pid = stack.pop()
        total += _pss_kb(pid)
        stack.extend(kids.get(pid, ()))
    return total / 1024.0


def descendants(root: int) -> set[int]:
    kids, out, stack = _children_map(), set(), [root]
    while stack:
        for child in kids.get(stack.pop(), ()):
            out.add(child)
            stack.append(child)
    return out


def wait_gone(pids, timeout: float = 60.0) -> None:
    """Block until every process in ``pids`` has exited (processes that
    outlive their parent are re-parented, so they are tracked by pid);
    kill what is left after ``timeout`` seconds."""
    def alive() -> list[int]:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:  # reap our own children
                pass
        except ChildProcessError:
            pass
        return [p for p in pids if os.path.exists(f"/proc/{p}")
                and not _is_zombie(p)]

    deadline = time.monotonic() + timeout
    while alive() and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in alive():
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass
    while alive() and time.monotonic() < deadline + 10:
        time.sleep(0.1)


def _is_zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            stat = f.read()
    except OSError:
        return True
    return stat[stat.rfind(b")") + 2:].split()[0] == b"Z"


class PeakRss:
    """Samples ``tree_rss_mb(root)`` every ``interval`` seconds on a
    background thread while active; ``peak`` is the largest sample. The
    interval is long because each sample holds the GIL the driver thread
    needs for its py4j calls."""

    def __init__(self, root: int | None = None, interval: float = 0.5):
        self.root = root if root is not None else os.getpid()
        self.interval = interval
        self.peak = 0.0
        self.seen: set[int] = set()  # every descendant sampled
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_mb(self.root))
            self.seen |= descendants(self.root)
            self._stop.wait(self.interval)

    def __enter__(self) -> "PeakRss":
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_rss_mb(self.root))


def median(xs) -> float:
    return float(statistics.median(xs))


def timed(fn, *a, **kw):
    t0 = time.perf_counter()
    out = fn(*a, **kw)
    return time.perf_counter() - t0, out
