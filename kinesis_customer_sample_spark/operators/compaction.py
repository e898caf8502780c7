"""Stream→table compaction (SURVEY.md §4.2 physical layout): the
maintenance job that keeps a streaming sink's output readable at scale.

A foreachBatch upsert sink (streaming/sinks.py) necessarily writes one
small file set per micro-batch; after a day that is thousands of tiny
files — the classic small-files problem that destroys 100 TB scan
performance (per-file open cost, no row-group skipping). Compaction
rewrites a table directory into few large, key-sorted, ZSTD files:

- `repartitionByRange(key)` → files cover disjoint key ranges, so
  point/range reads prune whole files via parquet min/max row-group stats
  (the poor man's clustering — same read-side effect as Z-order on one key
  axis);
- `sortWithinPartitions(key)` → runs inside each file give parquet page
  stats their selectivity;
- swap via two renames. NOT atomic: there is a window between the renames
  where `table_dir` does not exist and a concurrent reader errors (POSIX
  rename can't swap two directories in one step; a truly atomic publish
  needs a versioned directory + symlink flip, or a table format with a
  metadata pointer — Delta/Iceberg — which is the production answer).
  Crash-safety is handled instead: stale `.old`/staging leftovers from a
  crashed prior run are removed up front, and the staging dir is cleaned
  on write failure, so a crashed compaction never wedges the next one.

The staging dir is made beside the table and renamed into it, so it is the
table, not scratch. Leftovers beside the table are swept, so the table needs
a parent of its own (q187: `<scope.scratch>/docs`), never the temp root.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import SparkSession


def compact_table(
    spark: SparkSession,
    table_dir: str,
    sort_keys: list[str],
    *,
    target_files: int = 4,
    codec: str = "zstd",
) -> dict:
    """Rewrite `table_dir` into `target_files` key-range-partitioned,
    key-sorted parquet files. Returns {files_before, files_after, rows}.

    At 100 TB this runs per date-partition (the write unit of the
    streaming sink), not per table — each partition compacts independently
    and in parallel, and the swap stays atomic per partition."""

    def _parquet_files(d: str) -> list[str]:
        return [
            os.path.join(root, f)
            for root, _, files in os.walk(d)
            for f in files
            if f.endswith(".parquet")
        ]

    # a crashed prior run can leave .old (swap interrupted) or compact_*
    # staging dirs (write interrupted) — both would wedge this run's renames
    parent = os.path.dirname(table_dir.rstrip("/"))
    old = table_dir.rstrip("/") + ".old"
    if os.path.exists(old):
        shutil.rmtree(old)
    for leftover in os.listdir(parent):
        if leftover.startswith("compact_"):
            shutil.rmtree(os.path.join(parent, leftover), ignore_errors=True)

    before = _parquet_files(table_dir)
    df = spark.read.parquet(table_dir)
    rows = df.count()
    staging = tempfile.mkdtemp(prefix="compact_", dir=parent)
    try:
        (
            df.repartitionByRange(target_files, *sort_keys)
            .sortWithinPartitions(*sort_keys)
            .write.mode("overwrite")
            .option("compression", codec)
            .parquet(staging)
        )
    except BaseException:
        shutil.rmtree(staging, ignore_errors=True)  # don't leak staging
        raise
    # non-atomic window between the renames — see module docstring
    os.rename(table_dir, old)
    os.rename(staging, table_dir)
    shutil.rmtree(old)
    return {
        "files_before": len(before),
        "files_after": len(_parquet_files(table_dir)),
        "rows": rows,
    }
