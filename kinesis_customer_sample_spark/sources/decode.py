"""Record decode pipeline: R2 decompress → R3 dereference → R4 error→null →
R5 parse+validate → R6 projection (guide:24-51, 58-114).

Mirrors the reference's 27-line consumer loop semantics exactly:
- `zlib.decompress(data, 15+32)` auto-detects gzip/zlib headers (guide:28);
- a payload starting with "https" is a pre-signed S3 URL whose body is again
  gzipped JSON (guide:32-44);
- any fetch/decode failure yields a NULL payload and the pipeline continues
  (guide:36-39) — failures never kill the batch;
- envelope rows whose `type` != "content-operation" are rejected
  (guide:62-64).

Decode runs as pandas UDFs (Arrow-batched) so the Python edge is vectorized;
everything downstream of the payload string is builtin Catalyst expressions.
The S3 fetch is the pipeline's only mid-plan external I/O; it is isolated in
its own stage and pluggable (`fetch=`) so tests inject a fake store and the
streaming path can rate-limit.
"""

from __future__ import annotations

import urllib.request
import zlib
from collections.abc import Callable

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kinesis_customer_sample_spark.fixtures import SPARK_TS_FMT

# Fixed envelope schema (guide:58-110) — never inferred; `body` is extracted
# separately and kept as an unparsed JSON string (guide:112-114, SURVEY §1.3).
ENVELOPE_SCHEMA = T.StructType(
    [
        T.StructField("type", T.StringType()),
        T.StructField("organization_id", T.StringType()),
        T.StructField("operation", T.StringType()),
        T.StructField("date", T.StringType()),
        T.StructField("id", T.StringType()),
        T.StructField("branch", T.StringType()),
        T.StructField("published", T.BooleanType()),
        T.StructField("created", T.BooleanType()),
        T.StructField(
            "trigger",
            T.StructType(
                [
                    T.StructField("type", T.StringType()),
                    T.StructField("id", T.StringType()),
                    T.StructField("referent_update", T.BooleanType()),
                    T.StructField("priority", T.StringType()),
                    T.StructField("app_name", T.StringType()),
                ]
            ),
        ),
    ]
)

Fetch = Callable[[str], bytes]


def http_fetch(url: str) -> bytes:
    """Default fetcher: HTTP GET of the pre-signed URL (guide:34)."""
    with urllib.request.urlopen(url) as resp:  # noqa: S310 (https pre-signed)
        return resp.read()


def _gunzip(b: bytes) -> str:
    # wbits 15+32 auto-detects zlib/gzip headers (guide:28)
    return zlib.decompress(bytes(b), 15 + 32).decode("utf-8")


@F.pandas_udf(T.StringType())
def gunzip_text(data: pd.Series) -> pd.Series:
    """R2: decompress record bytes to the payload string; errors → NULL (R4)."""

    def one(b):
        if b is None:
            return None
        try:
            return _gunzip(b)
        except Exception:
            return None

    return data.map(one)


def make_deref_udf(fetch: Fetch = http_fetch):
    """R3/R4: dereference `https…` pointer payloads via `fetch`, gunzip the
    response; pass non-pointer payloads through; failures → NULL.

    Closure-captured `fetch` is pickled to executors — keep it
    self-contained (a dict-backed fake in tests, urllib in production).

    PURITY REQUIREMENT: callers mark this UDF `asNondeterministic()` to
    stop the optimizer duplicating the decode under pushed-down filters
    (guide §4.4), which also means the optimizer may skip or reorder
    evaluations — correctness then DEPENDS on `fetch` being a pure
    function of the payload (no caching semantics, no side effects a
    skipped call would lose). Keep any future fetch implementation pure.
    """

    @F.pandas_udf(T.StringType())
    def deref(payload: pd.Series) -> pd.Series:
        def one(p):
            if p is None:
                return None
            if not p.startswith("https"):  # guide:32 prefix check
                return p
            try:
                return _gunzip(fetch(p))
            except Exception:  # expired URL / HTTP error → NULL row (guide:36-39)
                return None

        return payload.map(one)

    return deref


def decode_records(df: DataFrame, fetch: Fetch = http_fetch) -> DataFrame:
    """Full decode: raw records (`data: binary`) → validated envelope rows.

    Output columns: the R6 projection — envelope fields flattened, `date`
    parsed to event time (R8), `trigger` kept as a struct, `body` as an
    unparsed JSON string. Invalid/undecodable records are dropped after the
    NULL-coercion stage (guide:36-39 → filter, guide:62-64 → type check);
    so are records whose `date` does not parse, since keyed state orders on
    event time.
    """
    # non-deterministic mark (guide §4.4, the q431/q518 convention): the
    # NULL-coercion filter below references the UDF output, and the
    # optimizer's pushed-down copy left TWO fused gunzip→deref
    # ArrowEvalPython nodes — every record was decompressed (and pointer
    # payloads dereferenced) twice. The mark forbids the duplication
    # (plan: 2 → 1 PyEval); decode is pure, so results are unchanged.
    deref = make_deref_udf(fetch).asNondeterministic()
    payload = df.withColumn("_payload", deref(gunzip_text(F.col("data"))))
    parsed = payload.withColumn(
        "op", F.from_json(F.col("_payload"), ENVELOPE_SCHEMA)
    ).withColumn(
        # try_: under ANSI mode to_timestamp raises on a malformed date and
        # would fail the whole micro-batch; an unparseable date drops the row
        "event_time", F.try_to_timestamp(F.col("op.date"), F.lit(SPARK_TS_FMT))
    )
    return (
        parsed.filter(F.col("_payload").isNotNull())
        .filter(F.col("event_time").isNotNull())
        .filter(F.col("op.type") == "content-operation")  # R5, guide:62-64
        .select(
            F.col("op.organization_id").alias("organization_id"),
            F.col("op.operation").alias("operation"),
            "event_time",
            F.col("op.id").alias("id"),
            F.col("op.branch").alias("branch"),
            F.col("op.published").alias("published"),
            F.col("op.created").alias("created"),
            F.col("op.trigger").alias("trigger"),
            F.get_json_object(F.col("_payload"), "$.body").alias("body"),
            F.col("shard_id"),
            F.col("sequence_number"),
        )
    )


def operation_doc_type(operation: Column) -> Column:
    """'insert-story' → 'story' (the affected document type, guide:70-72)."""
    return F.regexp_extract(operation, r"^(?:insert|delete)-(.+)$", 1)
