"""Host speed probe for the benchmark.

``perfbench/common.host_window`` imports ``_spin`` and times it before and
after every run: a pure-Python register loop whose Mops/s says how busy the
host is, so a noisy set of runs explains itself. Throughput, the query
suite and N-vs-4N scaling are measured by ``perfbench/run.py`` and
``perfbench/summary.py``.
"""


def _spin(n: int) -> int:
    x = 0
    for i in range(n):
        x += i * i
    return x
