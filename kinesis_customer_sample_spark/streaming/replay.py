"""Replay sources + run-to-completion helper for streaming queries.

`events_stream` file-streams the events table (the driver's stream-shaped
fixture, FIXTURES.md §A); `run_to_completion` drives any streaming DataFrame
through an availableNow trigger into a memory sink and returns the result as
a batch DataFrame — which is how streaming operators get oracle-checked by
the driver (batch-equivalence, SURVEY.md §5.2.3).
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kinesis_customer_sample_spark.session import ensure_engine_conf

def _stream_dir(sf_dir: str, name: str) -> str:
    """File-stream sources need a directory; expose `<sf_dir>/<name>.parquet`
    (a single file) through a symlinked temp directory. The dir tag is a
    stable md5 of the path (NOT python hash(), which is salted per
    process and would leak one fresh /tmp dir per run — the q285 advice
    fix applied here too)."""
    import hashlib

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    td = os.path.join(tempfile.gettempdir(), f"kcss_stream_{name}_{tag}")
    os.makedirs(td, exist_ok=True)
    link = os.path.join(td, f"{name}.parquet")
    if not os.path.exists(link):
        try:
            os.symlink(os.path.abspath(f"{sf_dir}/{name}.parquet"), link)
        except FileExistsError:
            pass  # concurrent run won the race — same target, share it
    return td


def run_scratch_dir(name: str, sf_dir: str) -> str:
    """Per-run scratch directory under a stable fixture-keyed base:
    `<tmp>/kcss_<name>_<md5(sf_dir)[:8]>/run_*`. The stable outer tag keeps
    /tmp from leaking one fresh base per process (the q285 salted-hash()
    advice fix), while the mkdtemp leaf isolates concurrent runs against
    the same fixture — the r4 advice flagged that q303/q305 rmtree'd the
    shared base on entry, destroying a concurrent run's in-progress
    index/output."""
    import hashlib

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    stable = os.path.join(tempfile.gettempdir(), f"kcss_{name}_{tag}")
    os.makedirs(stable, exist_ok=True)
    return tempfile.mkdtemp(prefix="run_", dir=stable)


def _file_stream(
    spark: SparkSession, sf_dir: str, name: str, max_files_per_trigger: int | None
) -> DataFrame:
    """The `<sf_dir>/<name>.parquet` fixture table as a file-source stream.
    File streams must declare a schema; it is read from the parquet footer
    (a metadata-only batch read), because fixture generations have changed
    physical dtypes (events.ts: ns-as-long under
    spark.sql.legacy.parquet.nanosAsLong, now native timestamp[us]) and a
    static declared schema would silently mismatch a re-typed column."""
    ensure_engine_conf(spark)
    reader = spark.readStream.schema(
        spark.read.parquet(f"{sf_dir}/{name}.parquet").schema
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(_stream_dir(sf_dir, name))


def events_stream(spark: SparkSession, sf_dir: str, max_files_per_trigger: int | None = None) -> DataFrame:
    """The events table as a file-source stream (per-partition ordering ≈
    per-shard ordering, guide:13)."""
    df = _file_stream(spark, sf_dir, "events", max_files_per_trigger)
    # session-TZ timestamp (not NTZ): watermarks require TIMESTAMP, and the
    # session is pinned to UTC so the wall clock matches the batch catalog
    if isinstance(df.schema["ts"].dataType, T.LongType):  # legacy ns-as-long
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df.withColumn("ts", F.col("ts").cast("timestamp"))


def documents_stream(
    spark: SparkSession, sf_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """The documents table as a file-source stream — the corpus-ingest
    replay double (new crawl shards arriving as files)."""
    return _file_stream(spark, sf_dir, "documents", max_files_per_trigger)


@contextmanager
def scratch_checkpoint(name: str) -> Iterator[str]:
    """A fresh checkpoint directory for one streaming query, deleted when
    the block exits — also when the query fails. Only for queries that
    terminate inside the block and whose rows are read from a sink (the
    memory sink or an output directory), never from the checkpoint."""
    ckpt = tempfile.mkdtemp(prefix=f"ckpt_{name}_")
    try:
        yield ckpt
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)


def run_to_completion(
    sdf: DataFrame, output_mode: str = "complete", name: str | None = None
) -> DataFrame:
    """Execute a streaming DataFrame to exhaustion (availableNow) via a
    memory sink; return the final result as a batch DataFrame."""
    name = name or f"stream_{uuid.uuid4().hex[:12]}"
    with scratch_checkpoint(name) as ckpt:
        (
            sdf.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
    return sdf.sparkSession.table(name)


def run_until_caught_up(
    sdf: DataFrame, output_mode: str = "append", name: str | None = None
) -> DataFrame:
    """Like run_to_completion, but for sources that do not support
    availableNow (custom Python streaming sources): start the query,
    processAllAvailable() (blocks until the source reports no new
    offsets), stop, and return the sink table."""
    name = name or f"stream_{uuid.uuid4().hex[:12]}"
    with scratch_checkpoint(name) as ckpt:
        q = (
            sdf.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
            q.awaitTermination()
    return sdf.sparkSession.table(name)


def write_ordered_shards(
    df: DataFrame, src_dir: str, n_shards: int, key_col: str
) -> None:
    """Materialize `df` as `n_shards` single-file arrival shards
    (shard = key mod n_shards) with strictly increasing mtimes, so a
    file-source stream with maxFilesPerTrigger=1 replays them as ordered
    micro-batches — the deterministic-arrival harness q303/q305 gate their
    stream/batch-equivalence oracles on (FileStreamSource orders pending
    files by modification time)."""
    os.makedirs(src_dir, exist_ok=True)
    base = os.path.dirname(src_dir)
    for s in range(n_shards):
        shard_tmp = os.path.join(base, f"shard_tmp_{s}")
        df.filter(F.col(key_col) % n_shards == s).coalesce(1).write.parquet(shard_tmp)
        part = next(
            p
            for p in os.listdir(shard_tmp)
            if p.endswith(".parquet") and p.startswith("part-")
        )
        dst = os.path.join(src_dir, f"s{s}.parquet")
        shutil.move(os.path.join(shard_tmp, part), dst)
        shutil.rmtree(shard_tmp)
        os.utime(dst, (1_700_000_000 + 1000 * s, 1_700_000_000 + 1000 * s))
