"""Spark worker-process setup: the fixed per-task cost at the Python boundary.

PySpark calls ``importlib.invalidate_caches()`` at the start of every task
(``pyspark.worker_util.setup_spark_files``), and CPython's pure-Python
``zipimporter.invalidate_caches()`` (3.10+) re-reads the archive's whole
central directory for every cached zipimporter. The JVM puts Spark's own
archives on the workers' ``sys.path``: ``pyspark.zip``, the ``py4j-*`` src
zip, and the spark-core jar, given by its *resolved* path. With
``$SPARK_HOME`` a symlink to a versioned install directory, that path is
``<resolved home>/jars/spark-core_*.jar`` (Spark 4.1: 5,359 entries,
15 MB), cached twice: the jar root and its ``org`` sub-importer.
Re-reading it cost 50-120 ms of worker CPU in every task before any row
moved (measured on 4 vCPUs); with Spark's runtime archives skipped, the
whole ``invalidate_caches()`` call takes under 0.1 ms.

An archive is Spark runtime iff its ``realpath`` lies under
``realpath($SPARK_HOME)``; those cannot change while a job runs, so the
filter skips their re-read. Every other archive — ``--py-files`` and
``sc.addPyFile`` zips included, whatever their name — keeps stock
``invalidate_caches``, as does every archive when ``SPARK_HOME`` is unset.

PySpark's daemon also runs a full ``gc.collect()`` after every task in
reuse mode, walking the ~70k objects a worker holds once it has imported
pyspark, pyarrow and this engine (13-18 ms per collection).
``gc.freeze()`` moves that import-time heap to the permanent generation,
so the per-task collection walks only the task's own garbage.

``setup_worker`` applies both, only in Spark worker processes: the JVM's
``PythonWorkerFactory`` sets ``PYTHON_WORKER_FACTORY_SECRET`` in the
daemon/worker environment and nowhere else, so the driver keeps a stock
``zipimport`` and an unfrozen heap. It runs when a worker first imports
this package, i.e. while unpickling its first task's function, so that
task still pays the stock cost and every later task on the reused worker
does not.
"""

from __future__ import annotations

import functools
import gc
import os
import zipimport

_ORIG_INVALIDATE = zipimport.zipimporter.invalidate_caches
_SET_UP = False


def _is_static_spark_archive(path: str) -> bool:
    """True iff ``path`` resolves under the resolved ``$SPARK_HOME``."""
    return _resolves_under(path, os.environ.get("SPARK_HOME"))


@functools.lru_cache(maxsize=None)
def _resolves_under(path: str, home: str | None) -> bool:
    # memoized: unmemoized, the realpath calls for a warm worker's 16
    # cached zipimporters took 0.9 ms per task; memoized, 0.05 ms
    if not home:
        return False
    root = os.path.join(os.path.realpath(home), "")
    return os.path.realpath(path).startswith(root)


def _invalidate_caches(self) -> None:  # noqa: ANN001 — stdlib signature
    if not _is_static_spark_archive(self.archive):
        _ORIG_INVALIDATE(self)


def setup_worker() -> bool:
    """In a Spark worker process, install the zip filter and freeze the
    heap; True iff this is a worker process.
    Idempotent; a no-op in the driver and in non-Spark processes."""
    global _SET_UP
    if _SET_UP or "PYTHON_WORKER_FACTORY_SECRET" not in os.environ:
        return _SET_UP
    _SET_UP = True
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
    gc.freeze()
    return True
