"""The engine's Python worker daemon: `pyspark.daemon`, with zip archives
re-read only when they change.

`session.get_spark` sets this module as `spark.python.daemon.module`, so
every Python worker of an engine session is forked from it (Spark uses
the same hook for its own `conf_viztracer/daemon_viztracer.py`).

Before each task, `pyspark.worker_util.setup_spark_files` calls
`importlib.invalidate_caches()`, and the stock
`zipimport.zipimporter.invalidate_caches` re-reads the central directory
of its archive. A warm worker holds 16 importers, over
`$SPARK_HOME/python/lib/pyspark.zip` (1,328 entries) and the spark-core
jar (5,359 entries): 16 directory reads per task. On a 4-vCPU
box a warm no-op 4-task `mapInArrow` job cost 1.07-1.09 CPU-s of worker
CPU under `pyspark.daemon` (about 270 ms per task, more than a decode or
group replay kernel spends on its rows), and 0.01 CPU-s under this
module.

Here an archive's directory is re-read only when the archive's
`(st_mtime_ns, st_size)` differs from the stamp taken before it was last
read; otherwise the importer points at the directory already cached for
that path. The
semantics of `SparkContext.addPyFile` are kept: a shipped `.zip` is a new
`sys.path` entry, read by a new importer, and an archive rewritten in
place changes its stamp. A shipped `.py` lands in the Spark files
directory, whose `FileFinder` is still invalidated on every task.

The daemon also freezes its objects (`gc.freeze()`, the idiom the `gc`
docs give for a process that forks without exec) before it forks: a
reused worker runs `gc.collect()` after every task, and walking the heap
it inherits cost it about 40 ms of CPU per task, 15-20 ms once frozen.
Most of the rest is what the worker imports in its first task (pyarrow,
the engine's operator modules), so a worker collects and freezes once
more after that task. The child loop looks `pyspark.daemon.worker` up on
every task, so `main` replaces it with a wrapper that does this and then
puts the stock function back.
"""

import gc
import importlib
import os
import zipimport

_stock_invalidate = zipimport.zipimporter.invalidate_caches
_read_at: dict[str, tuple[int, int] | None] = {}


def _stamp(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def invalidate_caches(self) -> None:
    """`zipimporter.invalidate_caches` that skips an unchanged archive."""
    stamp = _stamp(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None and _read_at.get(self.archive) == stamp:
        self._files = files
        return
    _stock_invalidate(self)
    _read_at[self.archive] = stamp


def main() -> None:
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    from pyspark import daemon

    stock_worker = daemon.worker

    def first_worker(sock, authenticated):
        """A forked worker's first task, then a freeze of what it built."""
        code = stock_worker(sock, authenticated)
        gc.collect()
        gc.freeze()
        daemon.worker = stock_worker
        return code

    daemon.worker = first_worker
    importlib.invalidate_caches()  # read each archive once here, not per forked worker
    gc.freeze()
    daemon.manager()


if __name__ == "__main__":
    main()
