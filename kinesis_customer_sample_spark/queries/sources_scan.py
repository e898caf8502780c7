"""File-source scans beyond parquet (SURVEY.md §2B "Scans / sources /
sinks"): CSV and JSON-lines readers with explicit schemas, plus the batch
parquet sink round-trip.

Pattern: export a fixture table to the alternate format in a directory the
run's query scope owns (`scope.scratch`, deleted once the result has been
consumed), read it back with an *explicit* StructType (schema inference on
a production source is both slow — extra full pass — and unstable across
runs; SURVEY.md §1.3), and aggregate. The oracle computes the same result
straight from the canonical table, so the scan path itself is what's being
verified. Nothing is written to the read-only testdata."""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kinesis_customer_sample_spark.catalog import table
from kinesis_customer_sample_spark.registry import query
from kinesis_customer_sample_spark.scope import materialize, scratch


_NATION_SCHEMA = T.StructType(
    [
        T.StructField("n_nationkey", T.LongType()),
        T.StructField("n_name", T.StringType()),
        T.StructField("n_regionkey", T.LongType()),
    ]
)


@query(
    "q80_csv_scan",
    oracle="""
    SELECT n_regionkey, count(*) AS n_nations,
           min(n_name) AS first_name, max(n_name) AS last_name
    FROM nation
    GROUP BY n_regionkey
    """,
    tags=("source", "csv"),
)
def csv_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV source: export nation → CSV with header, read back with an
    explicit schema (no inference pass), aggregate. The oracle aggregates
    the canonical table directly, so a hash-match proves the CSV
    write/read path is lossless for these types."""
    path = scratch("q80")
    nation = table(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    nation.write.mode("overwrite").option("header", "true").csv(path)
    back = spark.read.schema(_NATION_SCHEMA).option("header", "true").csv(path)
    return back.groupBy("n_regionkey").agg(
        F.count(F.lit(1)).alias("n_nations"),
        F.min("n_name").alias("first_name"),
        F.max("n_name").alias("last_name"),
    )


@query(
    "q81_jsonl_scan",
    oracle="""
    SELECT r_regionkey, r_name, length(r_name) AS name_len
    FROM region
    """,
    tags=("source", "json"),
)
def jsonl_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines source: export region → JSONL, read back with an explicit
    schema. Mirrors the reference's decoded-payload shape (each line one
    JSON document, guide:56-58) minus the gzip/S3 envelope handled in
    sources/decode.py."""
    path = scratch("q81")
    region = table(spark, sf_dir, "region")
    region.write.mode("overwrite").json(path)
    schema = T.StructType(
        [
            T.StructField("r_regionkey", T.LongType()),
            T.StructField("r_name", T.StringType()),
        ]
    )
    back = spark.read.schema(schema).json(path)
    return back.select("r_regionkey", "r_name", F.length("r_name").alias("name_len"))


@query(
    "q82_parquet_sink_roundtrip",
    oracle="""
    SELECT c_mktsegment,
           count(*) AS n_customers,
           round(sum(CAST(round(c_acctbal * 100) AS BIGINT)) / 100.0, 2) AS total_bal
    FROM customer
    GROUP BY c_mktsegment
    """,
    tags=("sink", "parquet"),
)
def parquet_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sink: aggregate → write parquet (the foreachBatch/CMS-sync
    target shape, guide:3) → read back. Hash-match against the oracle's
    direct aggregation proves the sink round-trip preserves values, which
    is the invariant the streaming upsert sink (streaming/sinks.py) builds
    on."""
    path = scratch("q82")
    agg = (
        table(spark, sf_dir, "customer")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(
                F.sum(F.round(F.col("c_acctbal") * 100).cast("bigint")) / 100.0, 2
            ).alias("total_bal"),
        )
    )
    agg.write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


@query(
    "q243_csv_malformed_recovery",
    oracle="""
    SELECT lang, count(*)::BIGINT AS n_rows,
           sum(n_chars)::BIGINT   AS sum_chars
    FROM documents WHERE doc_id % 13 != 0
    GROUP BY lang
    UNION ALL
    SELECT '_corrupt', count(*)::BIGINT, NULL::BIGINT
    FROM documents WHERE doc_id % 13 = 0
    """,
    tags=("source", "csv", "error-recovery"),
)
def csv_malformed_recovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-tolerant CSV ingestion (PERMISSIVE mode): a CSV export where
    every doc_id % 13 == 0 line carries a type-corrupt numeric field is
    read back with an explicit schema and a corrupt-record column — good
    rows aggregate per language, and the corrupt rows are COUNTED, not
    dropped silently (the `_corrupt` accounting row). The oracle states
    the recovery contract in closed form from the corruption rule (the
    q204 dead-letter pattern at the batch-source layer): hash-match
    proves PERMISSIVE recovery loses nothing and mislabels nothing."""
    path = scratch("q243")
    docs = table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    lines = docs.select(
        F.concat_ws(
            ",",
            F.col("doc_id").cast("string"),
            "lang",
            F.when(F.col("doc_id") % 13 == 0, F.lit("not-a-number")).otherwise(
                F.col("n_chars").cast("string")
            ),
        ).alias("value")
    )
    lines.write.mode("overwrite").text(path)
    schema = "doc_id long, lang string, n_chars long, _bad string"
    # Spark disallows queries that touch ONLY the corrupt-record column of
    # a raw CSV scan (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN);
    # the documented pattern is to materialize the parsed scan first
    back = materialize(
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_bad")
        .csv(path)
    )
    good = (
        back.filter(F.col("_bad").isNull())
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("n_chars").alias("sum_chars"),
        )
    )
    bad = back.filter(F.col("_bad").isNotNull()).agg(
        F.lit("_corrupt").alias("lang"),
        F.count(F.lit(1)).alias("n_rows"),
        F.lit(None).cast("bigint").alias("sum_chars"),
    )
    return good.unionByName(bad)


@query(
    "q252_federated_union_scan",
    oracle="""
    SELECT n_regionkey,
           count(*)::BIGINT AS n_rows,
           count(DISTINCT n_name)::BIGINT AS n_names,
           min(n_name) AS first_name
    FROM (
      SELECT * FROM nation
      UNION ALL SELECT * FROM nation
      UNION ALL SELECT * FROM nation
    )
    GROUP BY n_regionkey
    """,
    tags=("source", "federation", "union"),
)
def federated_union_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Federated scan: the SAME logical table served from three physical
    formats at once — parquet (canonical), CSV, and JSONL exports — read
    with one explicit schema each, unioned BY NAME, and aggregated. A
    hash-match proves the three format paths agree row-for-row (the
    heterogeneous-lake reality: history in parquet, vendor drops in CSV,
    event dumps in JSONL). Explicit schemas everywhere — inference on a
    federated union is how type drift sneaks in. Each leg prunes and
    pushes down independently at scale."""
    base = table(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    csv_path, jsonl_path = scratch("q252_csv"), scratch("q252_jsonl")
    base.write.mode("overwrite").option("header", "true").csv(csv_path)
    base.write.mode("overwrite").json(jsonl_path)
    csv_leg = spark.read.schema(_NATION_SCHEMA).option("header", "true").csv(csv_path)
    jsonl_leg = spark.read.schema(_NATION_SCHEMA).json(jsonl_path)
    federated = base.unionByName(csv_leg).unionByName(jsonl_leg)
    return federated.groupBy("n_regionkey").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("n_name").alias("n_names"),
        F.min("n_name").alias("first_name"),
    )


# fixed-width layout for q388 (legacy mainframe-ish export of orders):
#   cols 1-12  o_orderkey   right-aligned, zero-padded
#   cols 13-24 o_custkey    right-aligned, zero-padded
#   cols 25-25 status       1 char
#   cols 26-37 total cents  right-aligned, zero-padded
#   cols 38-47 orderdate    yyyy-MM-dd
_FW_KEY_W, _FW_CUST_W, _FW_CENTS_W = 12, 12, 12


@query(
    "q388_fixed_width_parse",
    oracle=f"""
    WITH lines AS (
      SELECT lpad(CAST(o_orderkey AS VARCHAR), {_FW_KEY_W}, '0')
             || lpad(CAST(o_custkey AS VARCHAR), {_FW_CUST_W}, '0')
             || substring(o_orderstatus, 1, 1)
             || lpad(CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR),
                     {_FW_CENTS_W}, '0')
             || strftime(o_orderdate, '%Y-%m-%d') AS line
      FROM orders
    ),
    parsed AS (
      SELECT CAST(substring(line, 1, {_FW_KEY_W}) AS BIGINT) AS o_orderkey,
             CAST(substring(line, {_FW_KEY_W + 1}, {_FW_CUST_W}) AS BIGINT)
               AS o_custkey,
             substring(line, {_FW_KEY_W + _FW_CUST_W + 1}, 1) AS status,
             CAST(substring(line, {_FW_KEY_W + _FW_CUST_W + 2}, {_FW_CENTS_W})
                  AS BIGINT) AS cents,
             substring(line, {_FW_KEY_W + _FW_CUST_W + _FW_CENTS_W + 2}, 10)
               AS order_date
      FROM lines
    )
    SELECT status,
           substring(order_date, 1, 4)          AS order_year,
           count(*)::BIGINT                     AS n_orders,
           sum(cents)::BIGINT                   AS total_cents,
           (sum(o_orderkey * 31 + o_custkey) % 1000000007)::BIGINT
                                                AS key_checksum
    FROM parsed GROUP BY 1, 2
    """,
    tags=("sources", "fixed-width", "legacy", "parse"),
)
def fixed_width_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width record parsing — the legacy-ingest surface (mainframe
    exports, COBOL copybooks) every migration pipeline eventually meets:
    rows are rendered to a 47-character fixed layout (the write side of
    the round-trip, so the layout is exercised too) and parsed back by
    COLUMN POSITION — substring + cast, no delimiter logic anywhere.
    The rollup's checksum proves field boundaries landed exactly (one
    character of drift scrambles keys and the hash).

    Scale posture (100 TB): render and parse are both pure codegen maps
    (lpad/substring/cast) — zero shuffles until the final grid agg; the
    layout constants are shared literals with the oracle so the contract
    is reviewable in one place."""
    o = table(spark, sf_dir, "orders")
    line = F.concat(
        F.lpad(F.col("o_orderkey").cast("string"), _FW_KEY_W, "0"),
        F.lpad(F.col("o_custkey").cast("string"), _FW_CUST_W, "0"),
        F.substring("o_orderstatus", 1, 1),
        F.lpad(
            F.round(F.col("o_totalprice") * 100).cast("bigint").cast("string"),
            _FW_CENTS_W,
            "0",
        ),
        F.date_format("o_orderdate", "yyyy-MM-dd"),
    )
    lines = o.select(line.alias("line"))
    parsed = lines.select(
        F.substring("line", 1, _FW_KEY_W).cast("bigint").alias("o_orderkey"),
        F.substring("line", _FW_KEY_W + 1, _FW_CUST_W)
        .cast("bigint")
        .alias("o_custkey"),
        F.substring("line", _FW_KEY_W + _FW_CUST_W + 1, 1).alias("status"),
        F.substring("line", _FW_KEY_W + _FW_CUST_W + 2, _FW_CENTS_W)
        .cast("bigint")
        .alias("cents"),
        F.substring(
            "line", _FW_KEY_W + _FW_CUST_W + _FW_CENTS_W + 2, 10
        ).alias("order_date"),
    )
    return parsed.groupBy(
        "status", F.substring("order_date", 1, 4).alias("order_year")
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("cents").alias("total_cents"),
        (
            F.sum(F.col("o_orderkey") * 31 + F.col("o_custkey")) % 1_000_000_007
        ).cast("bigint").alias("key_checksum"),
    )


@query(
    "q406_schema_drift_diff",
    oracle="""
    WITH v1 AS (
      SELECT * FROM (VALUES
        ('o_orderkey', 'bigint'), ('o_custkey', 'bigint'),
        ('o_orderstatus', 'string'), ('o_totalprice', 'double'),
        ('o_orderdate', 'timestamp_ntz')) AS t(col, dtype)
    ),
    v2 AS (
      SELECT * FROM (VALUES
        ('o_orderkey', 'bigint'), ('o_custkey', 'bigint'),
        ('o_orderstatus', 'string'), ('o_totalprice', 'bigint'),
        ('o_orderdate', 'timestamp_ntz'), ('priority_rank', 'int'))
        AS t(col, dtype)
    )
    SELECT coalesce(a.col, b.col) AS col,
           a.dtype AS v1_type, b.dtype AS v2_type,
           CASE WHEN a.col IS NULL THEN 'added'
                WHEN b.col IS NULL THEN 'dropped'
                WHEN a.dtype != b.dtype THEN 'type_changed'
                ELSE 'unchanged' END AS change
    FROM v1 a FULL OUTER JOIN v2 b ON a.col = b.col
    """,
    tags=("sources", "schema", "drift", "contract"),
)
def schema_drift_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-drift DDL diff — the contract check a pipeline runs before
    trusting a new table version: two versions of the orders table are
    WRITTEN to scratch (v2 narrows totalprice to integer cents and adds
    a derived column), their schemas are read back FROM THE PARQUET
    FOOTERS (never from expectations), and the diff classifies every
    column added / dropped / type_changed / unchanged — the input a
    schema-evolution gate (q162) or a data contract (q198) consumes.
    The oracle states the expected DDL verbatim as literal rows, so a
    drift in what Spark writes would itself fail the check.

    Scale posture (100 TB): footer reads are metadata I/O (no data
    scan); the diff is a full outer join over column-count rows. The
    scratch write is fixture-sized here but the operator's cost at any
    scale is the two footer reads."""
    o = table(spark, sf_dir, "orders")
    # the result holds the footers' schemas, not the files: they go on return
    with tempfile.TemporaryDirectory(prefix="kcss_q406_") as base:
        v1_path, v2_path = f"{base}/v1", f"{base}/v2"
        o.select(
            "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate"
        ).limit(100).write.mode("overwrite").parquet(v1_path)
        # bound the scratch fixture BEFORE the rank window: only the written
        # FOOTER feeds the result (the diff reads schemas, never data), and a
        # post-window limit would sort the whole table through one task for
        # 100 unordered keeper rows (guide §2.2 — the global-window trap)
        o.limit(100).select(
            "o_orderkey",
            "o_custkey",
            "o_orderstatus",
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("o_totalprice"),
            "o_orderdate",
            F.dense_rank()
            .over(W.orderBy("o_orderpriority"))
            .cast("int")
            .alias("priority_rank"),
        ).write.mode("overwrite").parquet(v2_path)

        def schema_df(path: str, tag: str) -> DataFrame:
            fields = [
                (f.name, f.dataType.simpleString())
                for f in spark.read.parquet(path).schema.fields
            ]
            return spark.createDataFrame(fields, f"col string, {tag} string")

        a = schema_df(v1_path, "v1_type")
        b = schema_df(v2_path, "v2_type")
    return (
        a.withColumnRenamed("col", "col_a")
        .join(
            b.withColumnRenamed("col", "col_b"),
            F.col("col_a") == F.col("col_b"),
            "full_outer",
        )
        .select(
            F.coalesce("col_a", "col_b").alias("col"),
            "v1_type",
            "v2_type",
            F.when(F.col("col_a").isNull(), "added")
            .when(F.col("col_b").isNull(), "dropped")
            .when(F.col("v1_type") != F.col("v2_type"), "type_changed")
            .otherwise("unchanged")
            .alias("change"),
        )
    )
