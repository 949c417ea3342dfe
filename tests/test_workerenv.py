"""workerenv: Spark worker setup — the runtime-archive invalidate_caches
filter and the worker heap freeze (see oxidizepdf_spark/workerenv.py).

These tests pin:

- the driver process is never patched or frozen by the package import,
- the filter skips exactly the archives that resolve under the resolved
  ``$SPARK_HOME`` — a symlinked home matches its resolved jars, while a
  ``pyspark.zip`` or ``py4j-*`` zip elsewhere, or any user zip, still
  re-reads its directory, so ``sc.addPyFile``-style dynamic code keeps
  stock semantics,
- a worker process gets the filter and a frozen heap,
- inside real Spark workers the patch is live and no archive under
  ``$SPARK_HOME`` is re-read by ``importlib.invalidate_caches()``.
"""

from __future__ import annotations

import gc
import importlib
import os
import sys
import zipfile
import zipimport

import pytest

import oxidizepdf_spark  # noqa: F401 — runs the worker setup gate
from oxidizepdf_spark import workerenv


def _install_filter(monkeypatch) -> None:
    """Install the filter for one test; monkeypatch restores stock."""
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", workerenv._invalidate_caches
    )


def _assert_rereads(zpath, stem: str) -> None:
    """A zip on sys.path picks up a member added after its zipimporter was
    cached, once importlib.invalidate_caches() runs (stock semantics)."""
    with zipfile.ZipFile(zpath, "w") as z:
        z.writestr(f"{stem}_a.py", "VALUE = 1\n")
    sys.path.insert(0, str(zpath))
    try:
        assert importlib.import_module(f"{stem}_a").VALUE == 1
        with zipfile.ZipFile(zpath, "a") as z:
            z.writestr(f"{stem}_b.py", "VALUE = 2\n")
        importlib.invalidate_caches()
        assert importlib.import_module(f"{stem}_b").VALUE == 2
    finally:
        sys.path.remove(str(zpath))
        sys.path_importer_cache.pop(str(zpath), None)
        sys.modules.pop(f"{stem}_a", None)
        sys.modules.pop(f"{stem}_b", None)


def test_driver_not_patched():
    assert "PYTHON_WORKER_FACTORY_SECRET" not in os.environ
    assert zipimport.zipimporter.invalidate_caches is workerenv._ORIG_INVALIDATE
    assert workerenv.setup_worker() is False


def test_static_archive_predicate(monkeypatch):
    spark_home = os.environ.get("SPARK_HOME")
    if spark_home:
        assert workerenv._is_static_spark_archive(
            os.path.join(spark_home, "python", "lib", "anything.zip")
        )
    assert not workerenv._is_static_spark_archive("/x/y/py4j-0.10.9.9-src.zip")
    assert not workerenv._is_static_spark_archive("/tmp/user_code.zip")
    monkeypatch.delenv("SPARK_HOME", raising=False)
    assert not workerenv._is_static_spark_archive("/spark/python/lib/pyspark.zip")


def test_symlinked_spark_home_matches_resolved_path(tmp_path, monkeypatch):
    """Spark puts the *resolved* spark-core jar on the workers' sys.path;
    with $SPARK_HOME a symlink it must still count as static, while Spark's
    archive names outside the resolved home must not."""
    target = tmp_path / "spark-4.1.2-bin-hadoop3"
    (target / "jars").mkdir(parents=True)
    with zipfile.ZipFile(target / "jars" / "x.jar", "w") as z:
        z.writestr("org/x.class", b"")
    (tmp_path / "spark").symlink_to(target)
    monkeypatch.setenv("SPARK_HOME", str(tmp_path / "spark"))

    assert workerenv._is_static_spark_archive(str(target / "jars" / "x.jar"))
    assert workerenv._is_static_spark_archive(str(tmp_path / "spark/jars/x.jar"))
    elsewhere = tmp_path / "user"
    elsewhere.mkdir()
    assert not workerenv._is_static_spark_archive(str(elsewhere / "pyspark.zip"))
    assert not workerenv._is_static_spark_archive(
        str(elsewhere / "py4j-0.10.9.9-src.zip")
    )
    _install_filter(monkeypatch)
    _assert_rereads(elsewhere / "pyspark.zip", "wenv_mod_pyspark")


def test_user_zip_still_invalidates(tmp_path, monkeypatch):
    """A non-Spark zip added to sys.path must still pick up new members
    after importlib.invalidate_caches() — stock CPython semantics."""
    _install_filter(monkeypatch)
    _assert_rereads(tmp_path / "user_code.zip", "wenv_mod")


def test_opt_out_env(monkeypatch):
    """In a worker process the zip filter is installed and the heap
    frozen."""
    monkeypatch.setenv("PYTHON_WORKER_FACTORY_SECRET", "test")
    monkeypatch.setattr(workerenv, "_SET_UP", False)
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", workerenv._ORIG_INVALIDATE
    )
    try:
        assert workerenv.setup_worker() is True
        assert zipimport.zipimporter.invalidate_caches is (
            workerenv._invalidate_caches
        )
        assert gc.get_freeze_count() > 0
    finally:
        gc.unfreeze()


@pytest.fixture(scope="module")
def spark():
    from oxidizepdf_spark.table_io import get_spark

    s = get_spark(app_name="pytest-workerenv", master="local[4]", shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def test_patch_lands_in_spark_workers(spark):
    """After one task that unpickles a package function, the worker's
    zipimport is patched and its import-time heap frozen (worker reuse
    keeps both for later tasks)."""
    import pyarrow as pa

    def probe(batches):
        # importing the package is what real worker functions cause; do it
        # explicitly so the probe does not depend on closure capture
        import gc
        import zipimport as zi

        import oxidizepdf_spark  # noqa: F401

        for _ in batches:
            pass
        yield pa.RecordBatch.from_arrays(
            [
                pa.array([zi.zipimporter.invalidate_caches.__module__]),
                pa.array([gc.get_freeze_count()], type=pa.int64()),
            ],
            names=["mod", "frozen"],
        )

    df = spark.range(8, numPartitions=2)
    rows = df.mapInArrow(probe, schema="mod string, frozen long").collect()
    assert {r.mod for r in rows} == {"oxidizepdf_spark.workerenv"}
    assert all(r.frozen > 0 for r in rows)


def test_worker_skips_spark_archives(spark):
    """Inside a real worker, importlib.invalidate_caches() re-reads no
    archive that resolves under $SPARK_HOME — the spark-core jar included,
    which Spark puts on sys.path by its resolved path."""
    import pyarrow as pa

    def probe(batches):
        import importlib
        import os
        import sys
        import zipimport

        import oxidizepdf_spark  # noqa: F401
        from oxidizepdf_spark import workerenv

        for _ in batches:
            pass
        reread = []
        orig = workerenv._ORIG_INVALIDATE

        def counting(self):
            reread.append(self.archive)
            orig(self)

        workerenv._ORIG_INVALIDATE = counting
        try:
            importlib.invalidate_caches()
        finally:
            workerenv._ORIG_INVALIDATE = orig
        cached = sorted(
            {
                v.archive
                for v in sys.path_importer_cache.values()
                if isinstance(v, zipimport.zipimporter)
            }
        )
        strs = pa.list_(pa.string())
        yield pa.RecordBatch.from_arrays(
            [
                pa.array([os.environ.get("SPARK_HOME")]),
                pa.array([reread], type=strs),
                pa.array([cached], type=strs),
            ],
            names=["home", "reread", "cached"],
        )

    df = spark.range(8, numPartitions=4)
    rows = df.mapInArrow(
        probe, schema="home string, reread array<string>, cached array<string>"
    ).collect()
    assert len(rows) == 4
    for r in rows:
        if not r.home:
            pytest.skip("SPARK_HOME unset in workers: no Spark archives to skip")
        root = os.path.join(os.path.realpath(r.home), "")
        assert any(
            os.path.basename(a).startswith("spark-core") for a in r.cached
        ), r.cached
        assert not [a for a in r.reread if os.path.realpath(a).startswith(root)]


def test_heap_freeze_skipped_in_driver():
    """The driver process (no pyspark.daemon) must never be frozen by the
    package import."""
    import oxidizepdf_spark  # noqa: F401 — already imported at module top

    assert gc.get_freeze_count() == 0
    assert workerenv.setup_worker() is False
