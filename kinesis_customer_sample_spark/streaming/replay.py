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

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kinesis_customer_sample_spark.scope import drop_at_exit, shared_scratch
from kinesis_customer_sample_spark.session import ensure_engine_conf


def _stream_dir(sf_dir: str, name: str) -> str:
    """File-stream sources need a directory; expose `<sf_dir>/<name>.parquet`
    (a single file) through a symlink in a scope-owned directory. Within one
    query scope the same table gets the same directory, so a stream
    restarted from its checkpoint sees the same source path."""
    import hashlib

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    td = shared_scratch(f"stream_{name}_{tag}")
    link = os.path.join(td, f"{name}.parquet")
    if not os.path.exists(link):
        os.symlink(os.path.abspath(f"{sf_dir}/{name}.parquet"), link)
    return td


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


def run_to_completion(
    sdf: DataFrame, output_mode: str = "complete", name: str | None = None
) -> DataFrame:
    """Execute a streaming DataFrame to exhaustion (availableNow) via a
    memory sink; return the final result as a batch DataFrame, valid until
    the query scope drops the sink's view."""
    name = name or f"stream_{uuid.uuid4().hex[:12]}"
    drop_at_exit(name)
    with tempfile.TemporaryDirectory(prefix=f"ckpt_{name}_") as ckpt:
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
    drop_at_exit(name)
    with tempfile.TemporaryDirectory(prefix=f"ckpt_{name}_") as ckpt:
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
