"""What one query run leaves behind, and the one place that releases it.

`materialize(df)` is the one barrier a builder uses to compute an
intermediate once; its blocks belong to the scope that is open when it runs.

`query_scope(spark)` wraps one run: the build and the consumption of its
result (the noop write or `toArrow`). On exit, also on failure, it drops the
views and tables named with `drop_at_exit`, unpersists every RDD
persisted since entry (`localCheckpoint` blocks too, which `clearCache`
leaves in place), clears the cache and deletes the directories `scratch` and
`shared_scratch` made. It must not release earlier: a checkpointed frame
whose blocks are gone cannot be recomputed.

Outside any query scope (a test calling a builder directly) the process
scope owns the directories and deletes them at interpreter exit. Scratch a
builder no longer needs once it returns is a `tempfile.TemporaryDirectory`.
"""

from __future__ import annotations

import atexit
import shutil
import tempfile
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession


def materialize(df: DataFrame) -> DataFrame:
    """The package's one barrier: compute `df` now, once, and return a frame
    that reads the stored rows with the lineage cut.

    Policy: an eager `localCheckpoint`. Its blocks live on the executors
    that computed them, and the enclosing scope releases them on exit, so a
    builder never unpersists. Bound: the blocks are not replicated or
    written to reliable storage, so losing an executor after the barrier
    fails the query instead of recomputing the lost partitions.
    """
    return df.localCheckpoint()


class _Scope:
    def __init__(self) -> None:
        self.dirs: list[str] = []  # deleted on exit
        self.shared: dict[str, str] = {}  # key -> one of `dirs`
        self.names: list[str] = []  # catalog views and tables

    def delete_dirs(self) -> None:
        for d in self.dirs:
            shutil.rmtree(d, ignore_errors=True)
        self.dirs.clear()
        self.shared.clear()


_scopes = [_Scope()]  # the process scope, then the open query scopes
atexit.register(_scopes[0].delete_dirs)


def scratch(name: str) -> str:
    """A fresh directory under `tempfile.gettempdir()`, owned by the
    current scope."""
    d = tempfile.mkdtemp(prefix=f"kcss_{name}_")
    _scopes[-1].dirs.append(d)
    return d


def shared_scratch(key: str) -> str:
    """The current scope's one directory for `key`, made on first use: a
    file-stream source a restarted stream must find at the same path."""
    scope = _scopes[-1]
    if key not in scope.shared:
        scope.shared[key] = scratch(key)
    return scope.shared[key]


def drop_at_exit(name: str) -> None:
    """Record the catalog name `name` (a memory-sink view, or a table over
    scope scratch) for the current scope to drop."""
    _scopes[-1].names.append(name)


@contextmanager
def query_scope(spark: SparkSession) -> Iterator[None]:
    """One query run; the module docstring says what exit releases."""
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs())
    scope = _Scope()
    _scopes.append(scope)
    try:
        yield
    finally:
        _scopes.remove(scope)
        for name in scope.names:
            if not spark.catalog.dropTempView(name):
                spark.sql(f"DROP TABLE IF EXISTS {name}")
        for rdd_id, rdd in jsc.getPersistentRDDs().items():
            if rdd_id not in before:
                rdd.unpersist(True)
        spark.catalog.clearCache()
        scope.delete_dirs()
