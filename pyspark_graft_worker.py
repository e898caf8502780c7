"""Python-worker entry for Spark sessions built by this engine.

`session.get_spark` sets `spark.python.worker.module` to this module, so
every Python task (decode's pandas UDFs, `applyInPandasWithState`, any
query with a Python stage) runs `pyspark.worker.main` from here. The name
must start with `pyspark`: `pyspark/daemon.py` imports a custom worker
module only under that prefix. The daemon imports it once, before it forks
the workers, so whatever it sets up here every worker inherits.

What it sets up: on every task `pyspark.worker_util.setup_spark_files`
calls `importlib.invalidate_caches()`. Before CPython 3.13 that makes each
`zipimporter` on `sys.path` re-read its archive's whole central directory.
A worker holds about sixteen of them (`pyspark.zip` and its subpackages,
the py4j zip, `spark-core_*.jar` and its `org/` prefix), so the call costs
~0.2 s per task whatever the task does. Importing this module makes the
re-read conditional: an archive is read again only when its `(st_mtime_ns,
st_size)` differs from what it was at the last read, so a rewritten
archive is still picked up and an unchanged one is not re-parsed.

Run as a script (`spark.python.use.daemon=false`) it behaves like
`python -m pyspark.worker`.
"""

from __future__ import annotations

import os
import sys
import zipimport

# archive path -> (st_mtime_ns, st_size) taken just before its last read
_read_keys: dict[str, tuple[int, int]] = {}
_read_directory = zipimport._read_directory
_invalidate_caches = zipimport.zipimporter.invalidate_caches


def _stat_key(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _keyed_read_directory(archive):
    # stat first: a write that lands during the read changes the key
    key = _stat_key(archive)
    files = _read_directory(archive)
    if key is not None:
        _read_keys[archive] = key
    return files


def _keyed_invalidate_caches(self):
    cached = zipimport._zip_directory_cache.get(self.archive)
    key = _stat_key(self.archive)
    if cached is not None and key is not None and _read_keys.get(self.archive) == key:
        self._files = cached
    else:
        _invalidate_caches(self)


# CPython 3.13+ no longer reads the archive in invalidate_caches
if sys.version_info < (3, 13):
    zipimport._read_directory = _keyed_read_directory
    zipimport.zipimporter.invalidate_caches = _keyed_invalidate_caches
    # archives read before this ran have no key yet: read each once now, in
    # the daemon, rather than once in every worker it forks
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, zipimport.zipimporter):
            finder.invalidate_caches()


if __name__ == "__main__":
    import runpy

    runpy.run_module("pyspark.worker", run_name="__main__", alter_sys=True)
else:
    from pyspark.worker import main  # noqa: F401  (the daemon calls worker_module.main)
