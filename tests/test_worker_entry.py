"""The engine's Python-worker entry (`pyspark_graft_worker`) and the worker
environment `session.get_spark` sets: the zipimport re-read backport, that
Spark's workers actually run the entry, and that they import the engine from
any launch directory."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Builds a zip, imports from it, then counts zipimport._read_directory calls
# made by importlib.invalidate_caches() on the unchanged and on the rewritten
# archive. Run in a subprocess so the test process's zipimport stays as is.
_ZIP_PROBE = textwrap.dedent(
    """
    import importlib, json, os, sys, zipfile, zipimport
    if sys.argv[2] == "entry":
        import pyspark_graft_worker  # noqa: F401
    archive = os.path.join(sys.argv[1], "mods.zip")

    def write(modules):
        with zipfile.ZipFile(archive, "w") as z:
            for name in modules:
                z.writestr(name + ".py", f"NAME = {name!r}\\n")

    write(["mod_a"])
    sys.path.insert(0, archive)
    import mod_a  # noqa: F401

    reads = []
    read_directory = zipimport._read_directory
    zipimport._read_directory = lambda path: reads.append(path) or read_directory(path)

    importlib.invalidate_caches()
    unchanged = reads.count(archive)
    write(["mod_a", "mod_b"])
    importlib.invalidate_caches()
    rewritten = reads.count(archive) - unchanged
    import mod_b
    print(json.dumps({"unchanged": unchanged, "rewritten": rewritten, "mod_b": mod_b.NAME}))
    """
)


def _zip_probe(tmp_path, mode: str) -> dict:
    out = subprocess.run(
        [sys.executable, "-c", _ZIP_PROBE, str(tmp_path), mode],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=120,
        check=True,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


def test_worker_entry_skips_unchanged_archives(tmp_path):
    """With the entry imported, invalidate_caches() on an unchanged archive
    reads nothing; a rewritten archive is re-read and its new module
    imports. Without it (before CPython 3.13) the same probe sees the
    re-read, so the probe can tell the two apart."""
    got = _zip_probe(tmp_path, "entry")
    assert got["unchanged"] == 0
    assert got["mod_b"] == "mod_b"
    if sys.version_info < (3, 13):
        assert got["rewritten"] == 1
        assert _zip_probe(tmp_path, "stock")["unchanged"] == 1


def test_python_workers_run_the_engine_entry(spark):
    """Sessions from get_spark run their Python tasks through the entry
    module, so the backport is active where the tasks run."""

    @F.pandas_udf(T.BooleanType())
    def entry_loaded(s: pd.Series) -> pd.Series:
        import sys

        return s.map(lambda _: "pyspark_graft_worker" in sys.modules)

    rows = spark.range(0, 8, 1, 4).select(entry_loaded("id").alias("ok")).collect()
    assert [r.ok for r in rows] == [True] * 8


# Decodes the wire fixture on a fresh session; the engine is only on the
# driver's sys.path, never on PYTHONPATH, and the cwd is not the repo.
_DECODE_PROBE = textwrap.dedent(
    """
    import json, sys
    sys.path.insert(0, sys.argv[1])
    from kinesis_customer_sample_spark.fixtures import kinesis_records_df
    from kinesis_customer_sample_spark.session import get_spark
    from kinesis_customer_sample_spark.sources.decode import decode_records
    spark = get_spark(cpus="2", shuffle_partitions=2, extra_conf={"spark.driver.memory": "1g"})
    records, store = kinesis_records_df(spark)
    rows = decode_records(records, fetch=store.__getitem__).collect()
    print("ROWS " + json.dumps(sorted(json.dumps(r.asDict(recursive=True), default=str) for r in rows)))
    spark.stop()
    """
)


def test_workers_import_engine_from_any_cwd(spark, tmp_path):
    """Launched outside the repo with PYTHONPATH unset, decode's pandas UDFs
    still import the engine in the Python workers and return the same rows
    as an in-repo run."""
    from kinesis_customer_sample_spark.fixtures import kinesis_records_df
    from kinesis_customer_sample_spark.sources.decode import decode_records

    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_LOCAL_DIRS"] = str(tmp_path / "local")
    out = subprocess.run(
        [sys.executable, "-c", _DECODE_PROBE, REPO],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    line = next(ln for ln in out.stdout.splitlines() if ln.startswith("ROWS "))
    got = json.loads(line[len("ROWS "):])

    records, store = kinesis_records_df(spark)
    want = sorted(
        json.dumps(r.asDict(recursive=True), default=str)
        for r in decode_records(records, fetch=store.__getitem__).collect()
    )
    assert got == want and len(want) > 0
