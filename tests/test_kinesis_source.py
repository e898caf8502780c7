"""R1 source contract: the wire-format fixture replayed through the
file-backed Kinesis double, full decode pipeline running INSIDE micro-
batches, must equal the batch decode — and feed the stateful operators
unchanged."""

from __future__ import annotations

import json
import tempfile

from pyspark.sql import functions as F

from kinesis_customer_sample_spark.fixtures import kinesis_records_df
from kinesis_customer_sample_spark.sources.decode import decode_records
from kinesis_customer_sample_spark.sources.kinesis import (
    file_record_stream,
    kinesis_stream,
    write_record_batches,
)
from kinesis_customer_sample_spark.streaming.replay import run_to_completion


def test_stream_decode_equals_batch_decode(spark):
    records, s3_store = kinesis_records_df(spark)
    fetch = s3_store.__getitem__
    with tempfile.TemporaryDirectory() as td:
        write_record_batches(records, td, n_batches=3)
        stream = file_record_stream(spark, td)
        decoded = decode_records(stream, fetch=fetch)
        got = run_to_completion(decoded, output_mode="append")
        want = decode_records(records, fetch=fetch)
        key = ["shard_id", "sequence_number"]
        g = {tuple(r[k] for k in key): (r.operation, r.id, r.body) for r in got.collect()}
        w = {tuple(r[k] for k in key): (r.operation, r.id, r.body) for r in want.collect()}
        assert g == w and len(w) > 0


def test_stream_decode_drops_invalid_and_expired(spark):
    """The corrupt record, wrong-envelope record, and expired-URL record
    are dropped (guide:36-39, 62-64), everything else survives."""
    records, s3_store = kinesis_records_df(spark)
    fetch = s3_store.__getitem__
    n_records = records.count()
    decoded = decode_records(records, fetch=fetch)
    # fixture: 16 ops + 2 malformed; one spilled URL is expired
    n_expired = 1
    assert decoded.count() == n_records - 2 - n_expired
    # every surviving row carries its shard provenance
    assert decoded.filter(F.col("shard_id").isNull()).count() == 0


def test_wire_stream_feeds_stateful_latest_state(spark):
    """The documented source→decode→stateful wiring runs end-to-end on the
    REAL wire columns: decode_records output (sequence_number,
    no fixture op_id) drives latest_state_stream, and the converged state
    equals the batch latest-state derivation. (Round-1 advice: the stateful
    ops previously keyed arrival order on the fixture-only op_id column and
    would KeyError on the production stream.)"""
    from pyspark.sql import Window

    from kinesis_customer_sample_spark.fixtures import kinesis_records_df
    from kinesis_customer_sample_spark.queries.content_ops import contentops_latest_state
    from kinesis_customer_sample_spark.streaming.stateful import latest_state_stream

    records, s3_store = kinesis_records_df(spark)
    fetch = s3_store.__getitem__
    with tempfile.TemporaryDirectory() as td:
        write_record_batches(records, td, n_batches=3)
        decoded = decode_records(file_record_stream(spark, td), fetch=fetch)
        out = run_to_completion(latest_state_stream(decoded), output_mode="update")
        final = (
            out.withColumn(
                "rn",
                F.row_number().over(
                    Window.partitionBy(
                        "organization_id", "id", "branch", "published"
                    ).orderBy(F.col("last_us").desc())
                ),
            )
            .filter("rn = 1")
            .filter(F.col("last_operation").startswith("insert-"))
        )
        got = {
            (r.organization_id, r.id, r.branch, r.published): json.loads(r.body)
            for r in final.collect()
        }
    # the one wire-dropped record (expired URL = op 10, insert-gallery) is
    # superseded by op 13's delete-gallery, so the converged state matches
    # the full-fixture batch derivation exactly (bodies compared as parsed
    # JSON — the wire path re-serializes compactly)
    want = {
        (r.organization_id, r.id, r.branch, r.published): json.loads(r.body)
        for r in contentops_latest_state(spark, "").collect()
    }
    assert got == want and len(want) == 7


def test_wire_latest_state_restarts_from_checkpoint(spark, tmp_path):
    """decode → latest_state_stream → foreach_batch_upsert over the first
    two of four replay files, stop; a new query on the same checkpoint gets
    the other two. Its table equals a one-shot run over all four files, and
    the restarted query reads only the new files (state came from the
    checkpoint)."""
    import shutil

    from kinesis_customer_sample_spark.streaming.sinks import foreach_batch_upsert
    from kinesis_customer_sample_spark.streaming.stateful import latest_state_stream

    records, s3_store = kinesis_records_df(spark)
    fetch = s3_store.__getitem__
    staged = tmp_path / "staged"
    write_record_batches(records, str(staged), n_batches=4)
    files = sorted(staged.glob("batch-*.parquet"))
    assert len(files) == 4

    def run(src, files_now, ckpt, table):
        src.mkdir(exist_ok=True)
        for f in files_now:
            shutil.copy2(f, src / f.name)  # keeps the mtime replay order
        decoded = decode_records(file_record_stream(spark, str(src)), fetch=fetch)
        q = (
            latest_state_stream(decoded)
            .writeStream.outputMode("update")
            .foreachBatch(foreach_batch_upsert(str(table)))
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return q

    def rows(table):
        return {tuple(r) for r in spark.read.parquet(str(table)).collect()}

    src, ckpt, table = tmp_path / "src", tmp_path / "ckpt", tmp_path / "table"
    run(src, files[:2], ckpt, table)
    restarted = run(src, files[2:], ckpt, table)
    one_shot = tmp_path / "one_shot_table"
    run(tmp_path / "one_shot_src", files, tmp_path / "one_shot_ckpt", one_shot)

    assert rows(table) == rows(one_shot) and len(rows(table)) == 7
    n_new = spark.read.parquet(*map(str, files[2:])).count()
    assert sum(p["numInputRows"] for p in restarted.recentProgress) == n_new


def test_kinesis_production_source_degrades_clearly(spark):
    """Without the connector jar, kinesis_stream raises the documented
    error (not an opaque ClassNotFound), keeping the production path
    importable and its option mapping testable."""
    import pytest

    with pytest.raises(RuntimeError, match="Kinesis connector not on the classpath"):
        kinesis_stream(spark, "content-stream", "us-east-1")
