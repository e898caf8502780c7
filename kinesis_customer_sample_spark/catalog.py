"""Table catalog over the driver-generated parquet fixtures (TESTDATA.md).

Ten tables per scale-factor directory: TPC-H-ish `region nation customer
supplier part orders lineitem` plus `events documents embeddings`
(FIXTURES.md §A). All reads are plain parquet scans so Catalyst gets predicate
pushdown + column pruning for free (SURVEY.md §4.2).

One normalization lives here: `events.ts` is normalized to `timestamp_ntz`
whatever the fixture's physical encoding. Older fixture generations wrote
nanosecond precision (which Spark's parquet reader can only surface as a
long under `spark.sql.legacy.parquet.nanosAsLong`); current generations
write native `timestamp[us]`. We branch on the *read* dtype: long →
integer `div` to micros (`div`, not double division — ns-since-epoch
exceeds 2^53 so float division would corrupt microseconds); timestamp →
plain cast. Either way the result matches DuckDB's read of the same file.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kinesis_customer_sample_spark.session import ensure_engine_conf

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# Scan-relation memo: `spark.read.parquet(path)` pays a ~80-100 ms schema-
# inference round trip (file listing + footer read) EVERY call — a catalog
# metastore would pay it once and cache the FileIndex (that is what
# spark.table() against a real catalog does via the relation cache).
# Stored ON the SparkSession object itself (a private attribute), not in a
# module-global map keyed by applicationId or by the session:
# - an appId key would be wrong for spark.newSession() clones (one appId,
#   separate catalogs — a DataFrame is bound to the session that built it,
#   so session B would register temp views into session A's catalog);
# - a module-global keyed by the session (even a WeakKeyDictionary) would
#   never evict, because the cached DataFrames strongly reference their
#   session, keeping the key alive.
# As an instance attribute, the memo's lifetime IS the session's lifetime:
# when the session becomes unreachable, the memo (and its DataFrames) go
# with it — nothing global pins either. DataFrames are immutable plans, so
# sharing one scan relation within a session is free. Measured: q35's
# build cost (register_views over 10 tables per execution) drops
# ~0.8 s → ~0 on re-execution, and the 514-query parity sweep saves the
# footer re-reads wholesale. Fixture directories are read-only, so the
# cached file listing cannot go stale.
_MEMO_ATTR = "_kcss_table_memo"


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table as a DataFrame."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; have {TABLES}")
    ensure_engine_conf(spark)
    per_session = getattr(spark, _MEMO_ATTR, None)
    if per_session is None:
        per_session = {}
        setattr(spark, _MEMO_ATTR, per_session)
    hit = per_session.get((sf_dir, name))
    if hit is not None:
        return hit
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        ts_type = dict(df.dtypes)["ts"]
        if ts_type == "bigint":  # legacy ns-as-long fixture
            df = df.withColumn(
                "ts",
                F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz"),
            )
        else:  # native timestamp / timestamp_ntz fixture
            df = df.withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    per_session[(sf_dir, name)] = df
    return df


def register_views(
    spark: SparkSession, sf_dir: str, only: tuple[str, ...] | None = None
) -> None:
    """Register fixture tables as temp views (for spark.sql queries).

    `only` restricts registration to the named tables. The scan-relation
    memo above absorbs the per-table parquet footer read on a warm
    session, but the FIRST call per (session, sf_dir) still pays ~60 ms
    per table, and every call pays a createOrReplaceTempView catalog
    round-trip — so a query touching one table should still not register
    ten."""
    for name in only if only is not None else TABLES:
        table(spark, sf_dir, name).createOrReplaceTempView(name)
