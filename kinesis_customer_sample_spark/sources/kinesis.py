"""R1 — the stream source (guide:13 "consume from each shard in sequence").

Two interchangeable record sources with the same output contract
(`shard_id string, sequence_number string, data binary` — fixtures.py
RECORD_SCHEMA; sequence numbers are ~56-digit decimal strings on the real
wire, so they stay strings and order numerically via (length, value)), so
the whole decode→state pipeline is source-agnostic:

- `kinesis_stream`: the production source, `readStream.format("aws-kinesis")`
  (the Amazon Kinesis connector for Structured Streaming; `format("kinesis")`
  on Databricks-shaped runtimes). The connector jar is NOT bundled with
  Apache Spark, so construction degrades to a clear error when absent —
  this container has no network/AWS anyway.
- `file_record_stream`: the replay double — identical schema from a
  directory of parquet files, one file per micro-batch
  (`maxFilesPerTrigger=1`), per-shard ordering preserved inside files the
  way records are ordered within a shard (guide:13). Tests drive the full
  wire-decode pipeline through it (tests/test_kinesis_source.py).

Shard→partition mapping: the Kinesis connector yields one partition per
shard, so `repartition("shard_id")` is never needed for ordering-sensitive
stateful ops — keyed state (streaming/stateful.py) re-sorts within group by
sequence anyway, which also covers shard merges/splits (resharding changes
shard_id mid-stream).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kinesis_customer_sample_spark.fixtures import RECORD_SCHEMA

_KINESIS_FORMAT = "aws-kinesis"


def kinesis_stream(
    spark: SparkSession,
    stream_name: str,
    region: str,
    *,
    endpoint_url: str | None = None,
    starting_position: str = "TRIM_HORIZON",
) -> DataFrame:
    """Production Kinesis source. Normalizes the connector's output columns
    (`shardId`/`sequenceNumber`/`data`) to RECORD_SCHEMA.

    `shardId` (NOT `partitionKey` — that is the producer's routing key) maps
    to shard_id, preserving the guide:13 per-shard ordering contract; the
    sequence number stays a string because real values are ~56-digit
    decimals that overflow int64 (a cast('long') would NULL them, or throw
    under ANSI mode)."""
    reader = (
        spark.readStream.format(_KINESIS_FORMAT)
        .option("streamName", stream_name)
        .option("region", region)
        .option("startingPosition", starting_position)
    )
    if endpoint_url:
        reader = reader.option("endpointUrl", endpoint_url)
    try:
        raw = reader.load()
    except Exception as ex:  # connector jar absent in this environment
        raise RuntimeError(
            "Kinesis connector not on the classpath; add the "
            "spark-streaming-sql-kinesis connector jar, or use "
            "file_record_stream() for replay/testing"
        ) from ex
    return raw.select(
        F.col("shardId").alias("shard_id"),
        F.col("sequenceNumber").cast("string").alias("sequence_number"),
        F.col("data"),
    )


def seq_sort_cols() -> list:
    """Numeric-order sort columns for the string sequence_number: shorter
    decimal strings are smaller, equal lengths compare lexicographically.
    Correct for any non-negative decimal without leading zeros — no int64
    (or decimal(38,0)) overflow for 56-digit Kinesis values."""
    return [F.length("sequence_number"), F.col("sequence_number")]


def file_record_stream(spark: SparkSession, records_dir: str) -> DataFrame:
    """Replay double: Kinesis-shaped records from parquet files, one file
    per micro-batch."""
    return (
        spark.readStream.schema(RECORD_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(records_dir)
    )


def write_record_batches(df_records, out_dir: str, n_batches: int = 2) -> None:
    """Split a batch records DataFrame into `n_batches` replay files,
    preserving per-shard sequence order within and across files (earlier
    sequence numbers land in earlier files — guide:13's contract).

    Spark-side end to end (no toPandas driver funnel): each record gets an
    ordered ntile bucket over the numeric (length, value) sequence order,
    then each bucket is written as one single-file sorted batch with
    strictly increasing mtimes (FileStreamSource replays pending files in
    mtime order). The ntile window is unpartitioned by construction — a
    total order over records IS the replay contract — which caps this
    helper at fixture scale; production replay shards by key via
    streaming/replay.write_ordered_shards."""
    import shutil

    from pyspark.sql import Window

    os.makedirs(out_dir, exist_ok=True)
    bucketed = df_records.withColumn(
        "_batch",
        F.ntile(n_batches).over(Window.orderBy(*seq_sort_cols())),
    )
    base_cols = [c for c in df_records.columns]
    for i in range(n_batches):
        tmp = os.path.join(out_dir, f"_tmp_batch_{i}")
        (
            bucketed.filter(F.col("_batch") == i + 1)
            .select(*base_cols)
            .sort(*seq_sort_cols())
            .coalesce(1)
            .write.parquet(tmp)
        )
        parts = [
            p for p in os.listdir(tmp) if p.startswith("part-") and p.endswith(".parquet")
        ]
        if parts:
            dst = os.path.join(out_dir, f"batch-{i:04d}.parquet")
            shutil.move(os.path.join(tmp, parts[0]), dst)
            os.utime(dst, (1_700_000_000 + 1000 * i, 1_700_000_000 + 1000 * i))
        shutil.rmtree(tmp)
