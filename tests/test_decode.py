"""Golden tests for the decode path (R2-R5) and key semantics (R9-R12),
using the FIXTURES.md §B vectors — incl. the guide:126-134 interleave."""

from __future__ import annotations

import gzip
import json

from pyspark.sql import functions as F

from kinesis_customer_sample_spark.fixtures import (
    CONTENT_OPS,
    RECORD_SCHEMA,
    encode_records,
    kinesis_records_df,
    payload_json,
    wire_seq,
)
from kinesis_customer_sample_spark.queries.content_ops import (
    contentops_latest_state,
    contentops_provenance,
)
from kinesis_customer_sample_spark.sources.decode import decode_records, gunzip_text


def test_gunzip_roundtrip_and_corrupt_to_null(spark):
    df = spark.createDataFrame(
        [(gzip.compress(b"hello world"),), (b"\x00junk",), (None,)], "data binary"
    )
    out = [r.payload for r in df.select(gunzip_text("data").alias("payload")).collect()]
    assert out == ["hello world", None, None]


def test_decode_records_end_to_end(spark):
    records, s3_store = kinesis_records_df(spark)
    decoded = decode_records(records, fetch=s3_store.__getitem__).cache()
    rows = {r.sequence_number: r for r in decoded.collect()}

    # 16 fixture ops; op 10 (index 9) was spilled AND expired -> NULL -> dropped;
    # the wrong-type and corrupt-bytes records are rejected (guide:36-39,62-64)
    assert len(rows) == len(CONTENT_OPS) - 1
    assert wire_seq(9) not in rows  # expired pre-signed URL (guide:36-39)
    # spilled-but-live records decode through the S3 path (guide:32-44)
    assert rows[wire_seq(4)].operation == "insert-story" and rows[wire_seq(4)].id == "story-1"
    assert rows[wire_seq(14)].id == "story-2"
    # event-time parse (R8) + body kept as raw JSON string (guide:112-114)
    assert rows[wire_seq(0)].event_time.isoformat() == "2024-05-01T10:00:00"
    # note: get_json_object re-serializes extracted objects compactly
    assert rows[wire_seq(0)].body == '{"headline":"draft v1"}'
    # trigger struct survives (guide:88-110)
    assert rows[wire_seq(7)].trigger.referent_update is True
    assert rows[wire_seq(7)].trigger.priority == "ingestion"


def test_latest_state_guide_interleave(spark):
    """guide:126-134: the 5-op sequence is 2 draft + 3 published updates on
    independent keys; delete removes gal-1; republish revives story-1."""
    out = contentops_latest_state(spark, "")
    state = {
        (r.organization_id, r.id, r.branch, r.published): r for r in out.collect()
    }
    assert len(state) == 7
    # draft copy: survives with draft v2 (ops 1->6), never touched by delete
    assert state[("washpost", "story-1", "default", False)].body == '{"headline": "draft v2"}'
    # published copy: delete (op4) then republish (op5) -> v3 wins
    assert state[("washpost", "story-1", "default", True)].body == '{"headline": "published v3"}'
    # gallery deleted last -> key absent (guide:72 "replaced or deleted")
    assert ("washpost", "gal-1", "default", True) not in state
    # late ingestion event (op15, 09:00) must NOT override newer ops
    assert state[("washpost", "story-2", "default", True)].body == '{"headline": "s2 v1 vid"}'
    # branch and org are part of the key (guide:78-82)
    assert ("washpost", "story-1", "exp-A", True) in state
    assert ("otherorg", "story-9", "default", True) in state


def test_provenance_direct_vs_referent(spark):
    out = contentops_provenance(spark, "")
    by_id = {r.op_id: r for r in out.collect()}
    # referent cascades (image/video edits -> story update, guide:90,100-102)
    for op in (8, 9, 15):
        assert by_id[op].is_direct is False and by_id[op].is_referent is True
    # direct edits
    for op in (1, 2, 7, 10, 11, 12):
        assert by_id[op].is_direct is True and by_id[op].is_referent is False
    assert by_id[11].trigger_priority == "ingestion"
    assert by_id[10].doc_type == "gallery"


def test_decode_survives_all_fetch_failures(spark):
    """Every pointer fetch failing must degrade to dropped rows, not errors."""
    records, _ = kinesis_records_df(spark)

    def always_fail(url: str) -> bytes:
        raise OSError("403 expired")

    decoded = decode_records(records, fetch=always_fail)
    # 16 ops - 3 spilled (5,10,15) = 13 direct-payload rows survive
    assert decoded.count() == 13


def test_decode_drops_unparseable_date(spark):
    """A content operation whose `date` does not parse is dropped and the
    rest of the batch decodes (guide:36-39): under ANSI mode a strict
    timestamp parse would fail the whole micro-batch instead."""
    rows, s3_store = encode_records()
    doc = json.loads(payload_json(CONTENT_OPS[0]))
    doc["date"] = "2024-05-01 10:00"
    bad_seq = wire_seq(len(rows))
    rows.append(("shard-0", bad_seq, gzip.compress(json.dumps(doc).encode())))
    records = spark.createDataFrame(rows, RECORD_SCHEMA)
    decoded = decode_records(records, fetch=s3_store.__getitem__).collect()
    seqs = {r.sequence_number for r in decoded}
    # every fixture op but the expired pointer (op 10) survives
    assert bad_seq not in seqs and len(seqs) == len(CONTENT_OPS) - 1
    assert all(r.event_time is not None for r in decoded)
