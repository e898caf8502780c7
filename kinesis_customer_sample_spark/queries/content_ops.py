"""Content-operation pipeline, batch form (SURVEY.md §2A R2-R14).

The golden fixture (fixtures.py) carries the guide:126-134 interleave, the
referent-update cascades, all four document types, a second branch, a late
ingestion-priority event, and a second org. Spark runs the DataFrame
pipeline; the oracle re-derives the same result in DuckDB from a VALUES CTE
generated from the identical Python literals — so R9-R14 key semantics are
hash-checked by the driver, not just unit-tested.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from kinesis_customer_sample_spark.fixtures import (
    DUCKDB_TS_FMT,
    SPARK_TS_FMT,
    content_ops_df,
    content_ops_values_sql,
    kinesis_records_df,
)
from kinesis_customer_sample_spark.registry import query
from kinesis_customer_sample_spark.session import ensure_engine_conf
from kinesis_customer_sample_spark.scope import materialize

_CTE = f"WITH content_ops AS (SELECT * FROM {content_ops_values_sql()})"

KEY = ["organization_id", "id", "branch", "published"]  # guide:78-82,137-139


def _ops(spark: SparkSession) -> DataFrame:
    ensure_engine_conf(spark)
    df = content_ops_df(spark)
    return df.withColumn(
        "event_time", F.to_timestamp("date", SPARK_TS_FMT).cast("timestamp_ntz")
    )


@query(
    "q46_contentops_decode",
    oracle=f"""
    WITH content_ops AS (SELECT * FROM {content_ops_values_sql()})
    SELECT organization_id, operation,
           strptime(date, '%Y-%m-%dT%H:%M:%SZ') AS event_time,
           id, branch, published, created,
           trigger_type, trigger_id, trigger_referent_update,
           trigger_priority, trigger_app_name,
           'shard-' || ((op_id - 1) % 2)                         AS shard_id,
           '49590338271490256608559692538361571095921575989136588' || lpad((898 + op_id - 1)::VARCHAR, 3, '0')
                                                                 AS sequence_number
    FROM content_ops
    WHERE op_id % 10 != 0  -- the expired S3 pointer never decodes (q204)
    """,
    tags=("contentops", "decode", "udf"),
)
def contentops_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R1-R6 decode path on wire-form records: gunzip → pointer-deref (fake
    S3 store) → error→NULL → envelope validation → projection. Includes
    spilled, expired, wrong-type, and corrupt records; only valid ops
    survive. The oracle states the ENTIRE decoded envelope in closed form
    from the fixture VALUES — including each record's shard assignment
    and 56-digit wire sequence number (string-composed: the base exceeds
    HUGEINT) and the expired-pointer drop — so the wire decode is
    hash-matched end to end, upgrading this row from rows-only
    (byte-level golden vectors remain in tests/test_decode.py; `body` is
    excluded from the projection because JSON re-serialization spacing
    is not canonicalized cross-engine)."""
    from kinesis_customer_sample_spark.sources.decode import decode_records

    ensure_engine_conf(spark)
    records, s3_store = kinesis_records_df(spark)
    fetch = s3_store.__getitem__  # dict-backed fake fetcher (tests/no network)
    return decode_records(records, fetch=fetch).select(
        "organization_id",
        "operation",
        F.col("event_time").cast("timestamp_ntz").alias("event_time"),
        "id",
        "branch",
        "published",
        "created",
        F.col("trigger.type").alias("trigger_type"),
        F.col("trigger.id").alias("trigger_id"),
        F.col("trigger.referent_update").alias("trigger_referent_update"),
        F.col("trigger.priority").alias("trigger_priority"),
        F.col("trigger.app_name").alias("trigger_app_name"),
        "shard_id",
        "sequence_number",
    )


@query(
    "q47_contentops_latest_state",
    oracle=f"""
    {_CTE}
    SELECT organization_id, id, branch, published,
           operation AS last_operation,
           strptime(date, '{DUCKDB_TS_FMT}') AS last_time,
           body
    FROM content_ops
    QUALIFY row_number() OVER (
      PARTITION BY organization_id, id, branch, published
      ORDER BY strptime(date, '{DUCKDB_TS_FMT}') DESC, op_id DESC) = 1
      AND operation LIKE 'insert-%'
    """,
    tags=("contentops", "latest-state"),
)
def contentops_latest_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R9/R10: keyed latest-state — one current document per (org, id,
    branch, published); insert replaces, delete removes (guide:72,143).
    Draft and published copies never conflate (guide:137-139): gal-1 drops
    (last op is delete), story-1/published survives its mid-stream delete."""
    ops = _ops(spark)
    w = W.partitionBy(*KEY).orderBy(F.col("event_time").desc(), F.col("op_id").desc())
    return (
        ops.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & F.col("operation").startswith("insert-"))
        .select(
            *KEY,
            F.col("operation").alias("last_operation"),
            F.col("event_time").alias("last_time"),
            "body",
        )
    )


@query(
    "q48_contentops_publish_events",
    oracle=f"""
    {_CTE}
    SELECT op_id, organization_id, id, branch,
           strptime(date, '{DUCKDB_TS_FMT}') AS event_time,
           CASE WHEN operation LIKE 'insert-%' THEN 'publish'
                ELSE 'unpublish' END AS kind
    FROM content_ops
    WHERE published
      AND ((operation LIKE 'insert-%' AND created) OR operation LIKE 'delete-%')
    """,
    tags=("contentops", "publish-detection"),
)
def contentops_publish_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R11 stateless proxy (guide:141-145): created=true on a published
    insert ≈ publish; a delete on published ≈ unpublish. The exact stateful
    variant lives in the streaming module; this is the documented
    accuracy-for-state tradeoff."""
    ops = _ops(spark)
    publishes = ops.filter(
        F.col("published") & F.col("created") & F.col("operation").startswith("insert-")
    ).withColumn("kind", F.lit("publish"))
    unpublishes = ops.filter(
        F.col("published") & F.col("operation").startswith("delete-")
    ).withColumn("kind", F.lit("unpublish"))
    return publishes.unionByName(unpublishes).select(
        "op_id", "organization_id", "id", "branch", "event_time", "kind"
    )


@query(
    "q49_contentops_provenance",
    oracle=f"""
    {_CTE}
    SELECT op_id, id, operation, trigger_priority,
           regexp_extract(operation, '^(?:insert|delete)-(.+)$', 1) AS doc_type,
           (trigger_id = id AND
            trigger_type = regexp_extract(operation, '^(?:insert|delete)-(.+)$', 1))
                                       AS is_direct,
           trigger_referent_update     AS is_referent
    FROM content_ops
    """,
    tags=("contentops", "provenance"),
)
def contentops_provenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R12/R13: direct vs downstream classification (trigger (type,id) vs
    affected (type,id), guide:90) + the referent_update flag and priority
    class for routing (guide:100-106)."""
    from kinesis_customer_sample_spark.sources.decode import operation_doc_type

    ops = _ops(spark)
    doc_type = operation_doc_type(F.col("operation"))
    return ops.select(
        "op_id",
        "id",
        "operation",
        "trigger_priority",
        doc_type.alias("doc_type"),
        (
            (F.col("trigger_id") == F.col("id")) & (F.col("trigger_type") == doc_type)
        ).alias("is_direct"),
        F.col("trigger_referent_update").alias("is_referent"),
    )


@query(
    "q50_contentops_analytics",
    oracle=f"""
    {_CTE}
    SELECT date_trunc('hour', strptime(date, '{DUCKDB_TS_FMT}')) AS hour,
           operation,
           count(*)                                   AS n_ops,
           count(*) FILTER (WHERE published)          AS n_published,
           count(DISTINCT id)                         AS n_docs
    FROM content_ops
    GROUP BY hour, operation
    """,
    tags=("contentops", "analytics"),
)
def contentops_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R14 batch form: 'limited real-time analytics on publishing changes'
    (guide:3) — hourly operation counts; the streaming twin adds the
    watermark (streaming/pipelines.py)."""
    ops = _ops(spark)
    return (
        ops.groupBy(
            F.date_trunc("hour", "event_time").alias("hour"),
            "operation",
        )
        .agg(
            F.count(F.lit(1)).alias("n_ops"),
            F.count_if(F.col("published")).alias("n_published"),
            F.countDistinct("id").alias("n_docs"),
        )
    )


@query(
    "q101_priority_routing",
    oracle=f"""
    {_CTE}
    SELECT trigger_priority,
           count(*)::BIGINT                                     AS n_ops,
           count(DISTINCT id)::BIGINT                           AS n_docs,
           count(*) FILTER (WHERE trigger_referent_update)::BIGINT
                                                                AS n_referent,
           max(late_sec)::BIGINT                                AS max_late_sec,
           round(avg(late_sec), 3)                              AS avg_late_sec
    FROM (
      SELECT trigger_priority, id, trigger_referent_update,
             greatest(0, date_diff('second',
               strptime(date, '{DUCKDB_TS_FMT}'),
               max(strptime(date, '{DUCKDB_TS_FMT}')) OVER (
                 PARTITION BY organization_id
                 ORDER BY op_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)))
               AS late_sec
      FROM content_ops)
    GROUP BY trigger_priority
    """,
    tags=("contentops", "priority-routing"),
)
def priority_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R13 priority routing (guide:104-106): ingestion-triggered operations
    are routed to a lower-priority queue so editor ('standard') changes are
    never delayed behind bulk ingests. Per priority class: op/doc/referent
    counts plus a queue-lag proxy — how far behind the per-org arrival
    watermark (running max event_time in op_id arrival order) each event
    lands. The fixture's deliberately late ingestion event (op 15,
    fixtures.py:64-66) makes ingestion's max lag 10800 s while standard
    stays 0. Window is partitioned by organization_id — per-tenant streams
    scale independently; no global ordering anywhere."""
    ops = _ops(spark)
    w = (
        W.partitionBy("organization_id")
        .orderBy("op_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    late = (
        ops.withColumn("wm", F.max("event_time").over(w))
        .select(
            "trigger_priority",
            "id",
            "trigger_referent_update",
            F.greatest(
                F.lit(0).cast("long"),
                F.expr("timestampdiff(SECOND, event_time, wm)"),
            ).alias("late_sec"),
        )
    )
    return late.groupBy("trigger_priority").agg(
        F.count(F.lit(1)).alias("n_ops"),
        F.countDistinct("id").alias("n_docs"),
        F.count_if(F.col("trigger_referent_update")).alias("n_referent"),
        F.max("late_sec").alias("max_late_sec"),
        F.round(F.avg("late_sec"), 3).alias("avg_late_sec"),
    )


def _documents_wire(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every document wrapped as a gzip-compressed content-operation wire
    record (the producer side of guide:17-19): one insert-story per doc,
    shard `doc_id % 4`, sequence number = doc_id."""
    import gzip as _gzip
    import json as _json
    from typing import Iterator

    import pandas as pd

    from kinesis_customer_sample_spark.catalog import table

    docs = table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                payload = _json.dumps(
                    {
                        "type": "content-operation",
                        "organization_id": "washpost",
                        "operation": "insert-story",
                        "date": "2024-01-01T00:00:00Z",
                        "id": f"doc-{doc_id}",
                        "branch": "default",
                        "published": True,
                        "created": True,
                        "trigger": {
                            "type": "story",
                            "id": f"doc-{doc_id}",
                            "referent_update": False,
                            "priority": "standard",
                            "app_name": "fixture",
                        },
                        "body": {"text": text},
                    },
                    sort_keys=True,
                )
                out.append(
                    {
                        "shard_id": f"shard-{doc_id % 4}",
                        # string per the RECORD_SCHEMA wire contract (real
                        # Kinesis sequence numbers overflow int64)
                        "sequence_number": str(doc_id),
                        "data": _gzip.compress(payload.encode("utf-8")),
                    }
                )
            yield pd.DataFrame(out, columns=["shard_id", "sequence_number", "data"])

    return docs.mapInPandas(
        encode, schema="shard_id string, sequence_number string, data binary"
    )


@query(
    "q96_wire_decode_roundtrip",
    oracle="""
    SELECT doc_id,
           'washpost'           AS organization_id,
           'insert-story'       AS operation,
           'doc-' || doc_id     AS id,
           true                 AS published,
           text                 AS body_text,
           length(text)::BIGINT AS body_len
    FROM documents
    """,
    tags=("contentops", "decode", "wire"),
)
def wire_decode_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL wire decode path under the oracle gate: every document is
    wrapped into a gzip-compressed content-operation record (the producer
    side of guide:17-19), then decoded by the production pipeline
    (sources/decode.py: gunzip pandas-UDF → envelope from_json → type
    validation → projection, R2/R5/R6). The oracle states what must come
    out the other end; a hash-match proves encode∘decode is lossless over
    the whole corpus, not just the 18-record fixture."""
    from kinesis_customer_sample_spark.sources.decode import decode_records

    decoded = decode_records(_documents_wire(spark, sf_dir))
    return decoded.select(
        F.col("sequence_number").cast("bigint").alias("doc_id"),
        "organization_id",
        "operation",
        "id",
        "published",
        F.get_json_object("body", "$.text").alias("body_text"),
        F.length(F.get_json_object("body", "$.text")).cast("bigint").alias("body_len"),
    )


@query(
    "q204_dead_letter_accounting",
    oracle="""
    SELECT 'shard-' || (doc_id % 4) AS shard_id,
           count(*)::BIGINT AS n_records,
           count(*) FILTER (doc_id % 7 != 0)::BIGINT AS n_ok,
           count(*) FILTER (doc_id % 7 = 0)::BIGINT  AS n_dead,
           (count(*) FILTER (doc_id % 7 = 0) * 10000 // count(*))::BIGINT
             AS dead_bp
    FROM documents
    GROUP BY 1
    """,
    tags=("contentops", "decode", "dead-letter", "monitoring"),
)
def dead_letter_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dead-letter accounting for the decode edge (R4 observability): a
    deterministic 1-in-7 subset of wire records is corrupted (gzip
    truncated to 5 bytes), the production decode pipeline maps them to
    NULL and drops them (guide:36-39), and the per-shard report counts
    inputs vs survivors — survivors found by decoding, dead letters by
    LEFT ANTI of inputs against the decode output on the sequence
    number. The oracle states the corruption set in closed form, so a
    hash-match proves the pipeline drops EXACTLY the corrupt records:
    no over-dropping (lost data), no under-dropping (garbage rows
    downstream). The anti-join keys on (shard, seq) — the same key the
    decode already carries — and per-shard rates are integer basis
    points."""
    from kinesis_customer_sample_spark.sources.decode import decode_records

    records = materialize(  # encode once; inputs and decode share the batch
        _documents_wire(spark, sf_dir)
        .withColumn(
            "data",
            F.when(  # deterministic corruption: gzip truncated to 5 bytes
                F.expr("CAST(sequence_number AS BIGINT) % 7 = 0"),
                F.substring("data", 1, 5),
            ).otherwise(F.col("data")),
        )
    )
    decoded = decode_records(records).select("shard_id", "sequence_number")
    inputs = records.select("shard_id", "sequence_number")
    dead = inputs.join(decoded, ["shard_id", "sequence_number"], "left_anti")
    n_in = inputs.groupBy("shard_id").agg(F.count(F.lit(1)).alias("n_records"))
    n_dead = dead.groupBy("shard_id").agg(F.count(F.lit(1)).alias("n_dead"))
    return (
        n_in.join(n_dead, "shard_id", "left")
        .select(
            "shard_id",
            "n_records",
            (F.col("n_records") - F.coalesce("n_dead", F.lit(0)))
            .cast("long")
            .alias("n_ok"),
            F.coalesce("n_dead", F.lit(0)).cast("long").alias("n_dead"),
            F.expr("coalesce(n_dead, 0) * 10000 div n_records")
            .cast("long")
            .alias("dead_bp"),
        )
    )


@query(
    "q257_dead_letter_replay",
    oracle=f"""
    WITH content_ops AS (SELECT * FROM {{cte}}),
    final AS (
      SELECT op_id, organization_id, operation, id, branch, published,
             CASE WHEN op_id % 10 = 0 THEN 'replayed' ELSE 'first_pass' END
               AS ingest_path
      FROM content_ops
    )
    SELECT ingest_path,
           count(*)::BIGINT AS n_ops,
           min(op_id)::BIGINT AS first_op,
           max(op_id)::BIGINT AS last_op
    FROM final GROUP BY ingest_path
    """.replace("{cte}", content_ops_values_sql()),
    tags=("contentops", "dead-letter", "recovery"),
)
def dead_letter_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dead-letter RECOVERY: the expired-pointer records q204 accounts as
    dropped are re-ingested once the store heals (the re-signed URL case,
    guide:36-39's flip side) — first-pass decode runs against the partial
    store, the dead letters are identified by anti-join (exactly q204's
    accounting), and a second decode pass with the HEALED store processes
    only those. The union must reconstruct the complete fixture, each op
    tagged with the path that ingested it — the oracle states both
    partitions in closed form, so a hash-match proves nothing is lost
    permanently and nothing is ingested twice."""
    from kinesis_customer_sample_spark.fixtures import encode_records
    from kinesis_customer_sample_spark.sources.decode import decode_records

    ensure_engine_conf(spark)
    # partial store: the expired pointer is missing (the q204 situation)
    records_df, partial_store = kinesis_records_df(spark)
    records_df = materialize(records_df)  # one wire encode, both passes
    first_pass = decode_records(records_df, fetch=partial_store.__getitem__)
    # healed store: regenerate with nothing expired (re-signed URLs)
    healed_records, healed_store = encode_records(expire_every=10**9)
    healed_lookup = healed_store.__getitem__
    dead = records_df.join(
        first_pass.select("sequence_number"), "sequence_number", "left_anti"
    )
    replayed = decode_records(dead, fetch=healed_lookup)
    tagged = first_pass.select(
        "organization_id", "operation", "id", "branch", "published",
        F.lit("first_pass").alias("ingest_path"), "sequence_number",
    ).unionByName(
        replayed.select(
            "organization_id", "operation", "id", "branch", "published",
            F.lit("replayed").alias("ingest_path"), "sequence_number",
        )
    )
    return tagged.groupBy("ingest_path").agg(
        F.count(F.lit(1)).alias("n_ops"),
        # op identity from the wire sequence: seq - base + 1 == op_id;
        # the 56-digit string's last 3 chars carry the whole offset range
        F.min(F.expr("CAST(substring(sequence_number, -3, 3) AS BIGINT) - 897")).alias("first_op"),
        F.max(F.expr("CAST(substring(sequence_number, -3, 3) AS BIGINT) - 897")).alias("last_op"),
    )
