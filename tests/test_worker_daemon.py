"""The engine's Python worker daemon (`hogflare_spark.worker_daemon`): every
Python task of a `get_spark` session runs under it, a warm worker reads no
zip archive directory per task, and `addPyFile` keeps its semantics."""

from __future__ import annotations

import importlib
import os
import sys
import uuid
import zipfile
import zipimport

import pytest


def _daemon_module(_):
    """The module the worker's daemon ran as, and whether the worker's
    collections skip the heap it inherited from the daemon."""
    import gc as _gc
    import sys as _sys

    spec = getattr(_sys.modules["__main__"], "__spec__", None)
    yield getattr(spec, "name", None), _gc.get_freeze_count() > 0


def _directory_reads(_):
    """Zip archive directories read by one `importlib.invalidate_caches()`
    (the call `setup_spark_files` makes per task), and the zip importers
    this worker holds."""
    import importlib as _importlib
    import sys as _sys
    import zipimport as _zipimport

    stock, reads = _zipimport._read_directory, [0]

    def counting(path):
        reads[0] += 1
        return stock(path)

    _zipimport._read_directory = counting
    try:
        _importlib.invalidate_caches()
    finally:
        _zipimport._read_directory = stock
    importers = sum(isinstance(f, _zipimport.zipimporter)
                    for f in _sys.path_importer_cache.values())
    yield reads[0], importers


def _run(spark, kernel, tasks: int = 4) -> list:
    return spark.sparkContext.parallelize(range(tasks), tasks).mapPartitions(kernel).collect()


def test_get_spark_tasks_run_under_engine_daemon(spark):
    assert spark.sparkContext.getConf().get("spark.python.daemon.module") == (
        "hogflare_spark.worker_daemon")
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert set(_run(spark, _daemon_module)) == {("hogflare_spark.worker_daemon", True)}


def test_warm_worker_reads_no_archive_directory_per_task(spark):
    _run(spark, _directory_reads)  # warm the workers
    counts = _run(spark, _directory_reads)
    if not any(importers for _, importers in counts):
        pytest.skip("the Python workers import nothing from a zip archive")
    assert [reads for reads, _ in counts] == [0] * len(counts)


def test_add_py_file_after_warm_workers_is_importable(spark, tmp_path):
    _run(spark, _daemon_module)  # warm the workers
    tag = uuid.uuid4().hex[:12]
    py_name, zip_name = f"hf_shipped_py_{tag}", f"hf_shipped_zip_{tag}"
    py_path = tmp_path / f"{py_name}.py"
    py_path.write_text("VALUE = 'py'\n")
    zip_path = tmp_path / f"{zip_name}.zip"
    with zipfile.ZipFile(zip_path, "w") as zf:
        zf.writestr(f"{zip_name}.py", "VALUE = 'zip'\n")

    def imported(name):
        def kernel(_):
            import importlib as _importlib

            yield _importlib.import_module(name).VALUE

        return kernel

    sc = spark.sparkContext
    path_before = list(sys.path)
    try:
        sc.addPyFile(str(py_path))
        assert set(_run(spark, imported(py_name))) == {"py"}
        sc.addPyFile(str(zip_path))
        assert set(_run(spark, imported(zip_name))) == {"zip"}
    finally:
        sys.path[:] = path_before  # addPyFile puts a shipped zip on the driver's path
        sys.modules.pop(zip_name, None)


def _write_zip(path, modules: dict) -> None:
    with zipfile.ZipFile(path, "w", zipfile.ZIP_STORED) as zf:
        for name, source in modules.items():
            zf.writestr(f"{name}.py", source)


def _load(importer, name):
    spec = importer.find_spec(name)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


def test_gated_invalidate_rereads_only_a_rewritten_zip(tmp_path, monkeypatch):
    from hogflare_spark.worker_daemon import invalidate_caches

    path = str(tmp_path / "lib.zip")
    _write_zip(path, {"mod_a": "VALUE = 1\n"})
    importer = zipimport.zipimporter(path)
    stock, reads = zipimport._read_directory, []
    monkeypatch.setattr(zipimport, "_read_directory", lambda p: reads.append(p) or stock(p))

    invalidate_caches(importer)  # first sight of the archive: read it
    invalidate_caches(importer)  # unchanged: no read
    assert reads == [path]
    assert importer.find_spec("mod_b") is None

    # rewritten in place with one more member: its size changes
    _write_zip(path, {"mod_a": "VALUE = 1\n", "mod_b": "VALUE = 2\n"})
    invalidate_caches(importer)
    assert len(reads) == 2
    assert _load(importer, "mod_b").VALUE == 2

    # rewritten at the same size: only its mtime changes
    st = os.stat(path)
    _write_zip(path, {"mod_a": "VALUE = 1\n", "mod_b": "VALUE = 3\n"})
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    assert os.stat(path).st_size == st.st_size
    invalidate_caches(importer)
    assert len(reads) == 3
    assert _load(importer, "mod_b").VALUE == 3


def _freeze_count(_):
    """This worker's pid and how many objects its collections skip."""
    import gc as _gc
    import os as _os

    yield _os.getpid(), _gc.get_freeze_count()


def test_reused_worker_freezes_what_its_first_task_built(spark):
    """A worker collects and freezes once after its first task, so its
    second task finds more frozen objects than its first did: what the
    first task imported and built is not walked by the collection the
    daemon's child loop runs after every task."""
    sc = spark.sparkContext
    # workers are pooled per environment: a new one starts a new daemon,
    # so the first task below is its worker's first
    sc.environment["HF_TEST_WORKER_POOL"] = uuid.uuid4().hex
    try:
        ((pid, first),) = _run(spark, _freeze_count, tasks=1)
        seen = [_run(spark, _freeze_count, tasks=1)[0] for _ in range(3)]
    finally:
        del sc.environment["HF_TEST_WORKER_POOL"]
    later = [frozen for p, frozen in seen if p == pid]
    assert later, f"worker {pid} was not reused: {seen}"
    assert first > 0
    assert all(frozen > first for frozen in later)
