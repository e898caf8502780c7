"""Warehouse-maintenance operators — incremental aggregate merge, CDC
apply with tombstones, schema-evolution reads, and bucketed co-located
joins as a *declared* query (not just a plan test).

Scale posture (100 TB): these four are the operators that keep a large
warehouse cheap to MAINTAIN —
- q160 proves partial aggregates merge losslessly, so a daily refresh
  re-aggregates yesterday's partials + today's delta instead of
  rescanning history (the materialized-view / hypertable-rollup
  maintenance contract);
- q161 is the MERGE shape: apply an upsert/delete changelog in event
  order and land the final state — one window over the key, no
  per-record point updates;
- q162 reads across schema versions with `mergeSchema` so a column add
  never forces a rewrite of petabytes of old files;
- q163 joins two fact tables bucketed on the join key — ZERO shuffle at
  read time, the layout investment that amortizes every subsequent join.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from kinesis_customer_sample_spark.catalog import table
from kinesis_customer_sample_spark.registry import query
from kinesis_customer_sample_spark.scope import drop_at_exit, materialize, scratch

# incremental-merge cut: orders strictly before the cut are the "already
# aggregated" base, the rest are the incoming delta
_MERGE_CUT = "1995-01-01"


@query(
    "q160_incremental_agg_merge",
    oracle="""
    SELECT o_orderpriority,
           count(*)::BIGINT                                   AS n_orders,
           sum(floor(o_totalprice * 100)::BIGINT)::BIGINT     AS total_cents
    FROM orders
    GROUP BY o_orderpriority
    """,
    tags=("warehouse", "incremental", "rollup"),
)
def incremental_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance: the base partition (orders
    before the cut date) and the delta partition (orders after) are
    aggregated SEPARATELY, then merged by re-aggregating the partials —
    and the result must equal the oracle's full recompute. count/sum are
    re-aggregable measures, so the merge is sum-of-counts / sum-of-sums;
    per-row cents flooring keeps the money math order-free. At 100 TB
    this is the nightly-refresh contract: touch only the delta, never
    rescan history."""
    o = table(spark, sf_dir, "orders").select(
        "o_orderpriority",
        "o_orderdate",
        F.expr("CAST(floor(o_totalprice * 100) AS BIGINT)").alias("cents"),
    )

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("o_orderpriority").agg(
            F.count(F.lit(1)).alias("n"), F.sum("cents").alias("c")
        )

    base = partial(o.filter(F.col("o_orderdate") < _MERGE_CUT))
    delta = partial(o.filter(F.col("o_orderdate") >= _MERGE_CUT))
    return (
        base.unionByName(delta)
        .groupBy("o_orderpriority")
        .agg(
            F.sum("n").alias("n_orders"),
            F.sum("c").alias("total_cents"),
        )
    )


@query(
    "q161_cdc_merge_apply",
    oracle="""
    WITH log AS (
      SELECT user_id, ts, event_id,
             CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
             floor(value * 100)::BIGINT AS value_cents,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    )
    SELECT user_id, ts AS last_ts, event_id AS last_event_id, value_cents
    FROM log WHERE rn = 1 AND op = 'U'
    """,
    tags=("warehouse", "cdc", "merge", "tombstone"),
)
def cdc_merge_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC / MERGE apply: treat the events table as a keyed changelog
    (error events are delete tombstones, everything else an upsert) and
    land the final table state — the last operation per key wins, and a
    trailing tombstone removes the key entirely. One partitioned window
    (ts desc, event_id desc tiebreak), the same latest-state shape the
    reference's CMS sync needs (guide:141-145) extended with delete
    semantics. Never a per-record point update: at 100 TB the changelog
    applies as one shuffle on the key."""
    log = table(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.col("event_type") == "error", F.lit("D")).otherwise(F.lit("U")).alias("op"),
        F.expr("CAST(floor(value * 100) AS BIGINT)").alias("value_cents"),
        F.row_number()
        .over(
            W.partitionBy("user_id").orderBy(
                F.col("ts").desc(), F.col("event_id").desc()
            )
        )
        .alias("rn"),
    )
    return (
        log.filter((F.col("rn") == 1) & (F.col("op") == "U"))
        .select(
            "user_id",
            F.col("ts").alias("last_ts"),
            F.col("event_id").alias("last_event_id"),
            "value_cents",
        )
    )


@query(
    "q162_schema_evolution_union",
    oracle="""
    SELECT 'v1' AS v, n_nationkey, n_name, NULL::BIGINT AS n_regionkey
    FROM nation
    UNION ALL
    SELECT 'v2' AS v, n_nationkey, n_name, n_regionkey
    FROM nation
    """,
    tags=("warehouse", "schema-evolution", "sources"),
)
def schema_evolution_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution across file generations: snapshot v1 was written
    before the `n_regionkey` column existed, v2 after; a single
    `mergeSchema` read unifies them, null-filling the missing column —
    old petabytes are never rewritten for a column add. The version
    partition directory becomes a column, so version-aware queries
    partition-prune."""
    root = scratch("q162")
    n = table(spark, sf_dir, "nation")
    n.select("n_nationkey", "n_name").write.mode("overwrite").parquet(
        os.path.join(root, "v=v1")
    )
    n.select("n_nationkey", "n_name", "n_regionkey").write.mode("overwrite").parquet(
        os.path.join(root, "v=v2")
    )
    return (
        spark.read.option("mergeSchema", "true")
        .option("basePath", root)
        .parquet(root)
        .select("v", "n_nationkey", "n_name", "n_regionkey")
    )


@query(
    "q163_bucketed_colocated_join",
    oracle="""
    SELECT o_orderpriority,
           count(*)::BIGINT                                  AS n_items,
           sum(floor(l_extendedprice * 100)::BIGINT)::BIGINT AS price_cents
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY o_orderpriority
    """,
    tags=("warehouse", "bucketing", "join", "layout"),
)
def bucketed_colocated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-fact join over tables BUCKETED on the join key: both sides
    were written `bucketBy(8, orderkey).sortBy(orderkey)`, so the join
    runs bucket-to-bucket with ZERO shuffle exchanges — the layout
    investment that pays back on every subsequent join of these facts.
    The plan test audits this query under autoBroadcastJoinThreshold=-1
    and asserts the bucketed SortMergeJoin with no ShuffleExchange (at
    fixture scale Catalyst may legitimately pick broadcast instead — also
    shuffle-free; at 100 TB neither fact side broadcasts and the bucketed
    sort-merge path is the only shuffle-free plan)."""
    # External tables at scratch locations: the warehouse dir is a STATIC
    # conf owned by whoever built the session (the driver's harness may run
    # from any CWD). The query scope drops the entries with the files; a
    # direct call outside one replaces the previous call's entries.
    base = scratch("q163")
    paths = {t: os.path.join(base, t) for t in ("q163_orders", "q163_lineitem")}
    for t in paths:
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        drop_at_exit(t)
    table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    ).write.option("path", paths["q163_orders"]).bucketBy(8, "o_orderkey").sortBy(
        "o_orderkey"
    ).saveAsTable("q163_orders")
    table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.expr("CAST(floor(l_extendedprice * 100) AS BIGINT)").alias("price_cents"),
    ).write.option("path", paths["q163_lineitem"]).bucketBy(8, "l_orderkey").sortBy(
        "l_orderkey"
    ).saveAsTable("q163_lineitem")
    return (
        spark.table("q163_orders")
        .join(
            spark.table("q163_lineitem"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum("price_cents").alias("price_cents"),
        )
    )


@query(
    "q164_zscore_anomaly",
    oracle="""
    WITH c AS (
      SELECT user_id, event_id, floor(value * 100)::BIGINT AS cents
      FROM events
    ),
    s AS (
      SELECT user_id,
             count(*)::BIGINT        AS n,
             sum(cents)::BIGINT      AS sx,
             sum(cents * cents)::BIGINT AS sxx
      FROM c GROUP BY user_id
    )
    SELECT c.user_id, c.event_id, c.cents, s.n,
           ((s.n * c.cents - s.sx) * (s.n * c.cents - s.sx))
             > 4 * (s.n * s.sxx - s.sx * s.sx)                AS is_anomaly
    FROM c JOIN s USING (user_id)
    WHERE s.n >= 30
    """,
    tags=("analytics", "anomaly", "zscore"),
)
def zscore_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key 2σ anomaly flags WITHOUT float math: |x − μ| > 2σ is
    cross-multiplied into (n·x − Σx)² > 4·(n·Σx² − (Σx)²) — exact integer
    arithmetic end-to-end (population variance), so the flag is
    bit-identical on every engine and never depends on summation order.
    One hash-agg for per-key moments + one equi-join back (two shuffles on
    the same key — Catalyst reuses the partitioning); keys with < 30
    observations are excluded as statistically meaningless. Integer range:
    cents ≤ 1e5, n ≤ 1e3 at fixture scale keeps every product < 2^63; at
    larger n the same expressions move to DECIMAL(38,0) unchanged."""
    c = table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.expr("CAST(floor(value * 100) AS BIGINT)").alias("cents"),
    )
    s = c.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").alias("sx"),
        F.sum(F.expr("cents * cents")).alias("sxx"),
    )
    return (
        c.join(s, "user_id")
        .filter(F.col("n") >= 30)
        .select(
            "user_id",
            "event_id",
            "cents",
            "n",
            F.expr(
                "(n * cents - sx) * (n * cents - sx) > 4 * (n * sxx - sx * sx)"
            ).alias("is_anomaly"),
        )
    )


# pricing tiers for the broadcast interval-lookup join: [lo, hi) in cents
_TIERS = [
    ("budget", 0, 5_000_000),
    ("standard", 5_000_000, 15_000_000),
    ("premium", 15_000_000, 30_000_000),
    ("enterprise", 30_000_000, 10_000_000_000),
]


@query(
    "q166_interval_lookup_join",
    oracle=f"""
    WITH tiers(tier, lo, hi) AS (VALUES
      {", ".join(f"('{t}', {lo}, {hi})" for t, lo, hi in _TIERS)}),
    o AS (SELECT floor(o_totalprice * 100)::BIGINT AS cents FROM orders)
    SELECT t.tier,
           count(*)::BIGINT      AS n_orders,
           sum(o.cents)::BIGINT  AS total_cents
    FROM o JOIN tiers t ON o.cents >= t.lo AND o.cents < t.hi
    GROUP BY t.tier
    """,
    tags=("join", "interval", "broadcast", "lookup"),
)
def interval_lookup_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast interval-lookup join — the IP-geolocation / pricing-tier
    shape: every fact row finds its [lo, hi) band in a SMALL interval
    dimension. The dimension broadcasts, so the non-equi predicate is
    evaluated map-side against an in-memory table (BroadcastNestedLoopJoin
    — correct here precisely because the build side is tiny and the probe
    side streams); the 100 TB cost is one scan. Never express this as a
    theta join of two large sides."""
    tiers = F.broadcast(
        spark.createDataFrame(_TIERS, "tier string, lo long, hi long")
    )
    o = table(spark, sf_dir, "orders").select(
        F.expr("CAST(floor(o_totalprice * 100) AS BIGINT)").alias("cents")
    )
    return (
        o.join(tiers, (o["cents"] >= tiers["lo"]) & (o["cents"] < tiers["hi"]))
        .groupBy("tier")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("cents").alias("total_cents"),
        )
    )


@query(
    "q169_listagg_sorted",
    oracle="""
    SELECT lang,
           count(*)::BIGINT AS n_docs,
           string_agg(doc_id::VARCHAR, ',' ORDER BY doc_id) AS doc_ids
    FROM (SELECT lang, doc_id FROM documents WHERE n_chars >= 450)
    GROUP BY lang
    """,
    tags=("aggregation", "listagg", "string-agg"),
)
def listagg_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (Spark 4's `listagg ... WITHIN GROUP`,
    DuckDB's `string_agg ... ORDER BY`): the id-roster shape for compact
    per-group manifests. The explicit ORDER BY inside the aggregate is
    what makes the result deterministic and hash-match checkable — an
    unordered listagg is nondeterministic under parallel aggregation by
    construction. Guarded by the same rule as collect_list elsewhere in
    the repo: never emit an unordered collection."""
    return (
        table(spark, sf_dir, "documents")
        .filter(F.col("n_chars") >= 450)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.expr(
                "listagg(CAST(doc_id AS STRING), ',') WITHIN GROUP (ORDER BY doc_id)"
            ).alias("doc_ids"),
        )
    )


@query(
    "q188_pit_scd2_join",
    oracle="""
    WITH nonp AS (
      SELECT user_id, event_id, ts, event_type
      FROM events WHERE event_type != 'purchase'
    ),
    g AS (
      SELECT user_id, event_id, ts, event_type,
             CASE WHEN lag(event_type) OVER w IS NULL
                    OR lag(event_type) OVER w != event_type
                  THEN 1 ELSE 0 END AS is_change
      FROM nonp
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    v AS (
      SELECT *, sum(is_change) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                     ROWS UNBOUNDED PRECEDING)::BIGINT AS version_seq
      FROM g
    ),
    runs AS (
      SELECT user_id, version_seq,
             min(event_type)           AS state,
             min(epoch_us(ts))::BIGINT AS valid_from_us
      FROM v GROUP BY user_id, version_seq
    ),
    hist AS (
      SELECT user_id, version_seq, state, valid_from_us,
             lead(valid_from_us) OVER (PARTITION BY user_id
                                       ORDER BY version_seq) AS valid_to_us
      FROM runs
    ),
    p AS (
      SELECT user_id, event_id, ts, epoch_us(ts)::BIGINT AS p_us
      FROM events WHERE event_type = 'purchase'
    )
    SELECT p.event_id, p.user_id, p.ts,
           h.state        AS state_at_purchase,
           h.version_seq  AS state_version
    FROM p LEFT JOIN hist h
      ON h.user_id = p.user_id
     AND h.valid_from_us <= p.p_us
     AND (h.valid_to_us IS NULL OR p.p_us < h.valid_to_us)
    """,
    tags=("warehouse", "scd2", "point-in-time", "temporal-join"),
)
def pit_scd2_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (as-was) join: each purchase enriched with the SCD2
    state version that was valid WHEN IT HAPPENED — the temporal-join
    contract behind "report with the dimension as of the fact date", and
    the reason SCD2 history (q118) is built at all. The state history is
    the gaps-and-islands run collapse over the user's non-purchase
    activity; the join is an equi-join on the user key plus the interval
    predicate — fan-out ≤ 1 because versions tile time (q118's invariant
    test), so at 100 TB this costs one key shuffle, never a range
    explosion. Purchases before a user's first state row keep NULLs
    (left join) — history can't be invented."""
    ev = table(spark, sf_dir, "events")
    nonp = ev.filter(F.col("event_type") != "purchase")
    wseq = W.partitionBy("user_id").orderBy("ts", "event_id")
    g = nonp.select(
        "user_id",
        "event_id",
        "ts",
        "event_type",
        F.when(
            F.lag("event_type").over(wseq).isNull()
            | (F.lag("event_type").over(wseq) != F.col("event_type")),
            1,
        )
        .otherwise(0)
        .alias("is_change"),
    )
    v = g.withColumn(
        "version_seq",
        F.sum("is_change")
        .over(wseq.rowsBetween(W.unboundedPreceding, W.currentRow))
        .cast("long"),
    )
    runs = v.groupBy("user_id", "version_seq").agg(
        F.min("event_type").alias("state"),
        F.min(F.expr("unix_micros(CAST(ts AS TIMESTAMP))")).cast("long").alias(
            "valid_from_us"
        ),
    )
    wver = W.partitionBy("user_id").orderBy("version_seq")
    hist = runs.withColumn("valid_to_us", F.lead("valid_from_us").over(wver))
    p = ev.filter(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        "ts",
        F.expr("unix_micros(CAST(ts AS TIMESTAMP))").cast("long").alias("p_us"),
    )
    h = hist.select(
        F.col("user_id").alias("h_user"),
        "version_seq",
        "state",
        "valid_from_us",
        "valid_to_us",
    )
    return p.join(
        h,
        (F.col("h_user") == F.col("user_id"))
        & (F.col("valid_from_us") <= F.col("p_us"))
        & (F.col("valid_to_us").isNull() | (F.col("p_us") < F.col("valid_to_us"))),
        "left",
    ).select(
        "event_id",
        "user_id",
        "ts",
        F.col("state").alias("state_at_purchase"),
        F.col("version_seq").alias("state_version"),
    )


@query(
    "q255_incremental_join_maintenance",
    oracle="""
    SELECT o.o_orderkey, o.o_custkey,
           count(*)::BIGINT AS n_lines,
           sum(CAST(round(l.l_extendedprice * 100) AS BIGINT))::BIGINT AS cents
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY 1, 2
    """,
    tags=("warehouse", "incremental", "ivm", "join"),
)
def incremental_join_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance for a JOIN: the materialized
    orders⋈lineitem view is maintained from base state plus delta batches
    using the delta-join identity ΔJ = ΔA⋈B ∪ A⋈ΔB ∪ ΔA⋈ΔB (insert-only
    deltas here; tombstones compose with q161's CDC machinery), then
    aggregated. Base/delta split is deterministic (orderkey % 5 == 0 is
    the delta). The oracle is the FULL recompute: hash-match proves the
    three delta legs reconstruct the view exactly — the IVM counterpart
    of q160's aggregate merge, the identity that lets a 100 TB view
    absorb a 1 GB delta by joining the DELTA against each side, never
    re-joining base⋈base."""
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.expr("CAST(round(l_extendedprice * 100) AS BIGINT)").alias("cents"),
    )
    is_delta_o = F.col("o_orderkey") % 5 == 0
    is_delta_l = F.col("l_orderkey") % 5 == 0
    oB, oD = o.filter(~is_delta_o), o.filter(is_delta_o)
    lB, lD = li.filter(~is_delta_l), li.filter(is_delta_l)
    # ΔJ legs: ΔA⋈B ∪ A⋈ΔB ∪ ΔA⋈ΔB — base⋈base is the standing view
    base_view = oB.join(lB, F.col("l_orderkey") == F.col("o_orderkey"))
    leg1 = oD.join(lB, F.col("l_orderkey") == F.col("o_orderkey"))
    leg2 = oB.join(lD, F.col("l_orderkey") == F.col("o_orderkey"))
    leg3 = oD.join(lD, F.col("l_orderkey") == F.col("o_orderkey"))
    maintained = base_view.unionByName(leg1).unionByName(leg2).unionByName(leg3)
    return maintained.groupBy("o_orderkey", "o_custkey").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum("cents").alias("cents"),
    )


@query(
    "q256_sliding_distinct_bitmap",
    oracle="""
    WITH days AS (SELECT DISTINCT ts::DATE AS day FROM events),
    win AS (
      SELECT d.day, count(DISTINCT e.user_id)::BIGINT AS distinct_7d
      FROM days d
      JOIN events e
        ON e.ts::DATE > d.day - 7 AND e.ts::DATE <= d.day
      GROUP BY d.day
    )
    SELECT day, distinct_7d FROM win
    """,
    tags=("scale", "bitmap", "sliding-window", "distinct"),
)
def sliding_distinct_bitmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day distinct users WITHOUT a range join or re-counting:
    build one bitmap per (day, word) — q253's exact sketch — then OR the
    trailing seven days' bitmaps per word (a partitioned rows-frame
    window over day-ordered words) and popcount. The range-join form
    (q136) re-touches every event per window; this touches
    |days|·⌈domain/63⌉ words total, the mergeable-sketch answer to
    sliding distinct — exact, unlike the HLL variant. The oracle is the
    definitional range join at sf0.01 scale."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.col("ts").cast("date").alias("day"),
        F.expr("user_id div 63").alias("word_idx"),
    ).agg(
        F.expr(
            "bit_or(shiftleft(CAST(1 AS BIGINT), CAST(user_id % 63 AS INT)))"
        ).alias("bits")
    )
    w7 = (
        W.partitionBy("word_idx")
        .orderBy(F.col("day").cast("timestamp").cast("long"))
        .rangeBetween(-6 * 86400, 0)
    )
    rolled = daily.select(
        "day",
        "word_idx",
        F.expr(
            "bit_or(bits) OVER (PARTITION BY word_idx "
            "ORDER BY CAST(CAST(day AS TIMESTAMP) AS LONG) "
            "RANGE BETWEEN 6 * 86400 PRECEDING AND CURRENT ROW)"
        ).alias("bits7"),
    )
    return rolled.groupBy("day").agg(
        F.expr("CAST(sum(bit_count(bits7)) AS BIGINT)").alias("distinct_7d")
    )


_NETCHG_SPLIT = "2024-01-16"  # base snapshot = changes strictly before this


@query(
    "q266_cdc_net_changes",
    oracle=f"""
    WITH base AS (
      SELECT user_id, event_id, value_cents FROM (
        SELECT user_id, event_id,
               CASE WHEN event_type = 'error' THEN NULL
                    ELSE floor(value * 100)::BIGINT END AS value_cents,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events WHERE ts < TIMESTAMP '{_NETCHG_SPLIT}'
      ) WHERE rn = 1 AND value_cents IS NOT NULL
    ),
    fin AS (
      SELECT user_id, event_id, value_cents FROM (
        SELECT user_id, event_id,
               CASE WHEN event_type = 'error' THEN NULL
                    ELSE floor(value * 100)::BIGINT END AS value_cents,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
      ) WHERE rn = 1 AND value_cents IS NOT NULL
    )
    SELECT coalesce(b.user_id, f.user_id) AS user_id,
           CASE WHEN b.user_id IS NULL THEN 'INSERT'
                WHEN f.user_id IS NULL THEN 'DELETE'
                ELSE 'UPDATE' END AS net_op,
           b.value_cents AS old_value_cents,
           f.value_cents AS new_value_cents
    FROM base b FULL OUTER JOIN fin f ON b.user_id = f.user_id
    WHERE b.user_id IS NULL OR f.user_id IS NULL
       OR b.event_id != f.event_id OR b.value_cents != f.value_cents
    """,
    tags=("warehouse", "cdc", "net-changes", "squash"),
)
def cdc_net_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC net-change squash: given the table state at a snapshot boundary
    (the changelog applied through Jan 15) and the state after the full
    log, emit the MINIMAL op set that upgrades the snapshot — INSERT for
    keys born later, DELETE for keys whose trailing change is a
    tombstone, UPDATE only where the surviving row actually differs, and
    NOTHING for untouched keys. This is the compaction every incremental
    MERGE consumer wants: applying one squashed batch instead of
    replaying every intermediate version (q161 lands final state; this
    derives the delta BETWEEN two states). Two latest-state windows
    (partitioned by key) + one full outer join on the key — at 100 TB the
    squash is two shuffles on user_id and the no-change keys drop before
    any sink sees them."""
    ev = table(spark, sf_dir, "events")

    def latest(df: DataFrame) -> DataFrame:
        log = df.select(
            "user_id",
            "event_id",
            F.when(F.col("event_type") == "error", F.lit(None))
            .otherwise(F.expr("CAST(floor(value * 100) AS BIGINT)"))
            .alias("value_cents"),
            F.row_number()
            .over(
                W.partitionBy("user_id").orderBy(
                    F.col("ts").desc(), F.col("event_id").desc()
                )
            )
            .alias("rn"),
        )
        return log.filter(
            (F.col("rn") == 1) & F.col("value_cents").isNotNull()
        ).drop("rn")

    base = latest(ev.filter(F.col("ts") < F.lit(_NETCHG_SPLIT).cast("timestamp_ntz")))
    fin = latest(ev)
    b = base.select(
        F.col("user_id").alias("b_user"),
        F.col("event_id").alias("b_event"),
        F.col("value_cents").alias("old_value_cents"),
    )
    f = fin.select(
        F.col("user_id").alias("f_user"),
        F.col("event_id").alias("f_event"),
        F.col("value_cents").alias("new_value_cents"),
    )
    joined = b.join(f, F.col("b_user") == F.col("f_user"), "full_outer")
    return joined.filter(
        F.col("b_user").isNull()
        | F.col("f_user").isNull()
        | (F.col("b_event") != F.col("f_event"))
        | (F.col("old_value_cents") != F.col("new_value_cents"))
    ).select(
        F.coalesce(F.col("b_user"), F.col("f_user")).alias("user_id"),
        F.when(F.col("b_user").isNull(), F.lit("INSERT"))
        .when(F.col("f_user").isNull(), F.lit("DELETE"))
        .otherwise(F.lit("UPDATE"))
        .alias("net_op"),
        "old_value_cents",
        "new_value_cents",
    )


_ZM_FILES = 16
_ZM_LO, _ZM_HI = "1995-06-01", "1995-08-31"
# the manifest rows whose file the predicate can touch
_ZM_OVERLAP = f"mx >= DATE '{_ZM_LO}' AND mn <= DATE '{_ZM_HI}'"


@query(
    "q268_zonemap_file_skipping",
    oracle=f"""
    SELECT date_trunc('month', l_shipdate) AS ship_month,
           sum(floor(l_extendedprice * 100)::BIGINT)::BIGINT AS revenue_cents,
           count(*)::BIGINT AS n_items
    FROM lineitem
    WHERE l_shipdate BETWEEN DATE '{_ZM_LO}' AND DATE '{_ZM_HI}'
    GROUP BY 1
    """,
    tags=("warehouse", "zonemap", "data-skipping", "layout"),
)
def zonemap_file_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-level ZONE-MAP skipping — the manifest/min-max pruning layer of
    every lakehouse format, built from first principles: (1) lay the fact
    table out range-partitioned on the filter column (each parquet file
    covers a narrow l_shipdate slice — the layout HALF of data skipping;
    q110's z-order is its multi-column generalization); (2) derive a
    per-file stats manifest (min/max shipdate via `_metadata.file_path`,
    one scan at ingest time); (3) at query time, prune the manifest to
    files whose [min,max] intersects the predicate and scan ONLY those,
    with the exact filter re-applied on the survivors. The manifest is
    file-count-sized (like Delta's transaction log / Iceberg's manifests)
    and prunes driver-side exactly as those formats do; the data read
    drops from 16 files to the ~4 covering the date range
    (tests/test_round3_ops asserts real skipping). The oracle proves the
    pruned scan is lossless for the predicate."""
    root = scratch("q268")
    manifest = _zonemap_manifest(spark, sf_dir, root)
    keep = [r.file for r in manifest.filter(_ZM_OVERLAP).collect()]
    pruned = spark.read.parquet(*keep) if keep else spark.read.parquet(root)
    return (
        pruned.filter(F.col("l_shipdate").between(_ZM_LO, _ZM_HI))
        .groupBy(F.date_trunc("month", F.col("l_shipdate")).alias("ship_month"))
        .agg(
            F.sum("price_cents").cast("bigint").alias("revenue_cents"),
            F.count(F.lit(1)).cast("bigint").alias("n_items"),
        )
    )


def _zonemap_manifest(spark: SparkSession, sf_dir: str, root: str) -> DataFrame:
    """Write q268's range-partitioned layout under `root`; return its per-file
    min/max shipdate manifest."""
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_shipdate",
        F.expr("CAST(floor(l_extendedprice * 100) AS BIGINT)").alias("price_cents"),
    )
    li.repartitionByRange(_ZM_FILES, "l_shipdate").write.mode("overwrite").parquet(root)
    return (
        spark.read.parquet(root)
        .groupBy(F.col("_metadata.file_path").alias("file"))
        .agg(F.min("l_shipdate").alias("mn"), F.max("l_shipdate").alias("mx"))
    )


def zonemap_pruned_file_count(spark: SparkSession, sf_dir: str) -> tuple[int, int]:
    """Test hook: (surviving, total) file counts for q268's predicate, over
    a layout written the way q268 writes its own."""
    with tempfile.TemporaryDirectory() as root:
        manifest = _zonemap_manifest(spark, sf_dir, root)
        return manifest.filter(_ZM_OVERLAP).count(), manifest.count()


_LPM_MOD = 4294967296  # 2^32 — synthetic IPv4 space
_LPM_MULT = 2654435761  # Knuth multiplicative hash — portable integer arith
_LPM_N_RULES = 64
_LPM_MIN_LEN, _LPM_MAX_LEN = 8, 24


@query(
    "q319_longest_prefix_match",
    oracle=f"""
    WITH ips AS (
      SELECT c_custkey,
             (c_custkey * {_LPM_MULT}) % {_LPM_MOD} AS ip
      FROM customer
    ),
    rules AS (
      SELECT r,
             {_LPM_MIN_LEN} + (r % ({_LPM_MAX_LEN} - {_LPM_MIN_LEN} + 1)) AS plen,
             ((r * {_LPM_MULT} + 12345) % {_LPM_MOD})
               // (1::BIGINT << (32 - ({_LPM_MIN_LEN} + (r % ({_LPM_MAX_LEN} - {_LPM_MIN_LEN} + 1)))))
               AS pkey
      FROM range({_LPM_N_RULES}) t(r)
    ),
    cand AS (
      SELECT i.c_custkey, i.ip, rules.plen, rules.r AS route,
             row_number() OVER (
               PARTITION BY i.c_custkey
               ORDER BY rules.plen DESC, rules.r) AS rk
      FROM ips i
      JOIN range({_LPM_MIN_LEN}, {_LPM_MAX_LEN} + 1) l(plen)
        ON true
      JOIN rules
        ON rules.plen = l.plen
       AND rules.pkey = i.ip // (1::BIGINT << (32 - l.plen))
    )
    SELECT i.c_custkey::BIGINT AS c_custkey,
           i.ip::BIGINT AS ip,
           c.plen::BIGINT AS plen,
           c.route::BIGINT AS route
    FROM ips i LEFT JOIN (SELECT * FROM cand WHERE rk = 1) c USING (c_custkey)
    """,
    tags=("join", "lookup", "longest-prefix", "cidr"),
)
def longest_prefix_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest-prefix-match lookup join (the CIDR/routing-table shape —
    geo-IP enrichment, network attribution, hierarchical code matching):
    each synthetic 32-bit address (portable multiplicative hash of the
    customer key) must find the MOST SPECIFIC of 64 prefix rules
    (lengths 8..24). An inequality/containment join in disguise, made
    equi: expand each address by the 17 DISTINCT prefix lengths
    (map-side generate — candidate volume is #lengths·N, independent of
    rule count), equi-join (plen, truncated-prefix) against the
    broadcast rule table, then keep the longest match per address via
    one partitioned row_number. Ties at equal length break on rule id.
    Unmatched addresses survive with NULL route (left join).

    Scale posture (100 TB): the rule table broadcasts (real routing
    tables are ≤ millions of rows — still broadcastable after grouping
    by length); the fact side never shuffles for the match itself, only
    for the per-address top-1 reduction, which at scale folds into a
    max_by aggregation on the same key. All arithmetic is integer
    div/mod by powers of two — identical across engines."""
    span = _LPM_MAX_LEN - _LPM_MIN_LEN + 1
    ips = table(spark, sf_dir, "customer").select(
        "c_custkey",
        ((F.col("c_custkey") * _LPM_MULT) % _LPM_MOD).alias("ip"),
    )
    plen = _LPM_MIN_LEN + (F.col("id") % span)
    rules = spark.range(_LPM_N_RULES).select(
        F.col("id").alias("route"),
        plen.alias("plen"),
        F.expr(
            f"((id * {_LPM_MULT} + 12345) % {_LPM_MOD}) div "
            f"shiftleft(CAST(1 AS BIGINT), CAST(32 - ({_LPM_MIN_LEN} + id % {span}) AS INT))"
        ).alias("pkey"),
    )
    lens = spark.range(_LPM_MIN_LEN, _LPM_MAX_LEN + 1).select(
        F.col("id").alias("lp")
    )
    cand = (
        ips.crossJoin(F.broadcast(lens))
        .withColumn(
            "key",
            F.expr("ip div shiftleft(CAST(1 AS BIGINT), CAST(32 - lp AS INT))"),
        )
        .join(
            F.broadcast(rules),
            (F.col("lp") == F.col("plen")) & (F.col("key") == F.col("pkey")),
        )
        .select("c_custkey", "ip", "plen", "route")
        .withColumn(
            "rk",
            F.row_number().over(
                W.partitionBy("c_custkey").orderBy(F.col("plen").desc(), "route")
            ),
        )
        .filter(F.col("rk") == 1)
        .select("c_custkey", F.col("plen").alias("b_plen"), F.col("route").alias("b_route"))
    )
    return ips.join(cand, "c_custkey", "left").select(
        F.col("c_custkey").cast("bigint").alias("c_custkey"),
        F.col("ip").cast("bigint").alias("ip"),
        F.col("b_plen").cast("bigint").alias("plen"),
        F.col("b_route").cast("bigint").alias("route"),
    )


_TT_CUT = "1996-01-01"  # snapshot 1 = orders strictly before the cut


@query(
    "q318_snapshot_time_travel",
    oracle=f"""
    SELECT o_orderpriority,
           count(*)::BIGINT AS n_orders,
           sum(CAST(round(o_totalprice * 100) AS BIGINT))::BIGINT AS total_cents
    FROM orders
    WHERE o_orderdate < TIMESTAMP '{_TT_CUT} 00:00:00'
      AND o_orderkey % 4 < 2
    GROUP BY o_orderpriority
    """,
    tags=("warehouse", "snapshot", "time-travel", "manifest", "lakehouse"),
)
def snapshot_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-isolated time travel over a mini manifest-based table
    format (the Iceberg/Delta mechanic, engine-built): snapshot 1 commits
    the pre-{_TT_CUT} orders as bucket-partitioned data files plus a
    MANIFEST (one JSON row per file with its bucket and o_orderkey%4
    min/max); snapshot 2 appends post-cut files and commits a superset
    manifest. The query reads AS OF snapshot 1 — the reader lists only
    manifest-1 files (old snapshots stay readable after appends, the
    core time-travel property) and MANIFEST-PRUNES to the buckets the
    `o_orderkey % 4 < 2` predicate can touch, scanning half the files
    without opening the rest. The oracle recomputes from the raw table,
    proving snapshot reads see exactly the committed-at-snapshot-1 rows.

    Scale posture (100 TB): the manifest is metadata (one row per file —
    thousands of rows for petabyte tables), read driver-side exactly as
    real table formats do; file pruning happens before any data I/O, so
    a selective predicate touches O(matching files), and appends never
    rewrite old files. The table lives in the run's query scope (`scratch`)."""
    import json

    base = scratch("q318")
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice", "o_orderdate"
    ).withColumn("bucket", (F.col("o_orderkey") % 4).cast("int"))

    manifests: dict[int, list[dict]] = {1: [], 2: []}
    for snap, pred in ((1, F.col("o_orderdate") < _TT_CUT), (2, F.col("o_orderdate") >= _TT_CUT)):
        for bucket in range(4):
            path = os.path.join(base, f"data_s{snap}_b{bucket}")
            o.filter(pred & (F.col("bucket") == bucket)).write.parquet(path)
            entry = {"path": path, "bucket_min": bucket, "bucket_max": bucket}
            manifests[snap].append(entry)
    manifests[2] = manifests[1] + manifests[2]  # append-only commit
    for snap, files in manifests.items():
        with open(os.path.join(base, f"manifest_{snap}.json"), "w") as fh:
            json.dump(files, fh)

    # --- reader: AS OF snapshot 1, predicate bucket < 2 ---
    with open(os.path.join(base, "manifest_1.json")) as fh:
        snap1 = json.load(fh)
    live = [f["path"] for f in snap1 if f["bucket_min"] < 2]  # manifest prune
    if len(live) != 2:  # not `assert` — must survive python -O
        raise RuntimeError(
            f"manifest pruning must skip non-matching buckets: kept {live}"
        )
    return (
        spark.read.parquet(*live)
        .filter(F.col("bucket") < 2)  # residual predicate (file-level prune is coarse)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("total_cents"),
        )
    )


@query(
    "q335_path_hierarchy_rollup",
    oracle="""
    WITH leaf AS (
      SELECT r_name || '/' || n_name || '/' || c_mktsegment AS path,
             count(*)::BIGINT AS n,
             sum(CAST(round(c_acctbal * 100) AS BIGINT))::BIGINT AS bal_cents
      FROM customer
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      GROUP BY 1
    ),
    exploded AS (
      SELECT unnest([
               string_split(path, '/')[1],
               string_split(path, '/')[1] || '/' || string_split(path, '/')[2],
               path
             ]) AS pfx,
             unnest([1, 2, 3]) AS lvl,
             n, bal_cents
      FROM leaf
    )
    SELECT pfx AS path, lvl::BIGINT AS level,
           sum(n)::BIGINT AS n_customers,
           sum(bal_cents)::BIGINT AS bal_cents
    FROM exploded GROUP BY 1, 2
    """,
    tags=("warehouse", "hierarchy", "path-rollup"),
)
def path_hierarchy_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchy rollup over PATH STRINGS — the aggregation shape for
    hierarchies that live as materialized paths (file trees, category
    taxonomies, org charts) rather than normalized dimension tables:
    each leaf row fans out to its ancestor prefixes (region,
    region/nation, region/nation/segment) and one hash agg keyed on
    (prefix, level) produces every level of the tree in a single pass —
    q18's ROLLUP without needing the hierarchy's columns to be
    separate, and correct for ragged/unbounded-depth paths where ROLLUP
    cannot apply. The fan-out is map-side (explode of ≤ depth prefixes
    per PRE-AGGREGATED leaf — the leaf aggregation runs first, so the
    explode multiplies group rows, not fact rows).

    Scale posture: one fact-scaled agg on the leaf path (broadcast dim
    joins before it), then depth× explode of the bounded leaf-group
    table into the final partial-agged rollup."""
    c = table(spark, sf_dir, "customer")
    n = F.broadcast(table(spark, sf_dir, "nation"))
    r = F.broadcast(table(spark, sf_dir, "region"))
    leaf = (
        c.join(n, c["c_nationkey"] == n["n_nationkey"])
        .join(r, n["n_regionkey"] == r["r_regionkey"])
        .groupBy(
            F.concat_ws("/", "r_name", "n_name", "c_mktsegment").alias("path")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.round(F.col("c_acctbal") * 100).cast("bigint"))
            .cast("long")
            .alias("bal_cents"),
        )
    )
    parts = F.split("path", "/")
    exploded = leaf.select(
        F.explode(
            F.array(
                F.struct(F.element_at(parts, 1).alias("pfx"), F.lit(1).alias("lvl")),
                F.struct(
                    F.concat_ws(
                        "/", F.element_at(parts, 1), F.element_at(parts, 2)
                    ).alias("pfx"),
                    F.lit(2).alias("lvl"),
                ),
                F.struct(F.col("path").alias("pfx"), F.lit(3).alias("lvl")),
            )
        ).alias("e"),
        "n",
        "bal_cents",
    )
    return exploded.groupBy(
        F.col("e.pfx").alias("path"), F.col("e.lvl").cast("long").alias("level")
    ).agg(
        F.sum("n").cast("long").alias("n_customers"),
        F.sum("bal_cents").cast("long").alias("bal_cents"),
    )


@query(
    "q340_percent_of_parent",
    oracle="""
    WITH leaf AS (
      SELECT r_name || '/' || n_name || '/' || c_mktsegment AS path,
             count(*)::BIGINT AS n
      FROM customer
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      GROUP BY 1
    ),
    nodes AS (
      SELECT pfx AS path, lvl, sum(n)::BIGINT AS n
      FROM (
        SELECT unnest([
                 string_split(path, '/')[1],
                 string_split(path, '/')[1] || '/' || string_split(path, '/')[2],
                 path
               ]) AS pfx,
               unnest([1, 2, 3]) AS lvl,
               n
        FROM leaf
      ) GROUP BY 1, 2
    ),
    tot AS (SELECT sum(n) AS t FROM nodes WHERE lvl = 1)
    SELECT c.path, c.lvl::BIGINT AS level, c.n AS n_customers,
           CASE WHEN c.lvl = 1
                THEN (c.n * 10000 // tot.t)
                ELSE (c.n * 10000 // p.n) END::BIGINT AS pct_of_parent_bp
    FROM nodes c
    LEFT JOIN nodes p
      ON p.lvl = c.lvl - 1
     AND p.path = array_to_string(string_split(c.path, '/')[1 : c.lvl - 1], '/')
    CROSS JOIN tot
    """,
    tags=("warehouse", "hierarchy", "percent-of-parent", "olap"),
)
def percent_of_parent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percent-of-parent over the path hierarchy — the drill-down ratio
    every OLAP tree view shows next to each node (what share of ASIA is
    NATION_7? what share of NATION_7 is BUILDING?): q335's node table
    self-joined child→parent by stripping the last path segment, shares
    in truncating basis points; level-1 nodes ratio against the grand
    total. The self-join is on the (path, level) node table — sized by
    the hierarchy, not the fact table, so it broadcasts at any corpus
    scale; the only fact-scaled work is the single leaf aggregation
    (inherited from q335's explode-after-agg shape)."""
    c = table(spark, sf_dir, "customer")
    n = F.broadcast(table(spark, sf_dir, "nation"))
    r = F.broadcast(table(spark, sf_dir, "region"))
    leaf = (
        c.join(n, c["c_nationkey"] == n["n_nationkey"])
        .join(r, n["n_regionkey"] == r["r_regionkey"])
        .groupBy(F.concat_ws("/", "r_name", "n_name", "c_mktsegment").alias("path"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    parts = F.split("path", "/")
    nodes = (
        leaf.select(
            F.explode(
                F.array(
                    F.struct(F.element_at(parts, 1).alias("pfx"), F.lit(1).alias("lvl")),
                    F.struct(
                        F.concat_ws(
                            "/", F.element_at(parts, 1), F.element_at(parts, 2)
                        ).alias("pfx"),
                        F.lit(2).alias("lvl"),
                    ),
                    F.struct(F.col("path").alias("pfx"), F.lit(3).alias("lvl")),
                )
            ).alias("e"),
            "n",
        )
        .groupBy(F.col("e.pfx").alias("path"), F.col("e.lvl").alias("lvl"))
        .agg(F.sum("n").cast("long").alias("n"))
    )
    tot = nodes.filter(F.col("lvl") == 1).agg(F.sum("n")).first()[0]
    parent_path = F.expr("array_join(slice(split(path, '/'), 1, lvl - 1), '/')")
    child = nodes.select("path", "lvl", "n", parent_path.alias("c_ppath"))
    parent = F.broadcast(
        nodes.select(
            F.col("path").alias("p_path"), F.col("lvl").alias("plvl"), F.col("n").alias("pn")
        )
    )
    return (
        child.join(
            parent,
            (F.col("c_ppath") == F.col("p_path")) & (F.col("plvl") == F.col("lvl") - 1),
            "left",
        )
        .select(
            "path",
            F.col("lvl").cast("bigint").alias("level"),
            F.col("n").alias("n_customers"),
            F.when(
                F.col("lvl") == 1, F.expr(f"CAST(n * 10000 div {tot} AS BIGINT)")
            )
            .otherwise(F.expr("CAST(n * 10000 div pn AS BIGINT)"))
            .alias("pct_of_parent_bp"),
        )
    )


_PD_N_FILES = 4  # base data files (file_id = o_orderkey % 4)
_PD_DEL_MOD = 97  # deterministic delete predicate: o_orderkey % 97 == 0


@query(
    "q344_positional_delete_apply",
    oracle=f"""
    SELECT o_orderpriority,
           count(*)::BIGINT AS n_live,
           sum(CAST(round(o_totalprice * 100) AS BIGINT))::BIGINT
             AS total_cents
    FROM orders
    WHERE o_orderkey % {_PD_DEL_MOD} != 0
    GROUP BY o_orderpriority
    """,
    tags=("warehouse", "merge-on-read", "positional-delete", "iceberg"),
)
def positional_delete_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read positional deletes — the OTHER half of the modern
    table-format mechanic next to q318's manifest snapshots: deletes are
    committed as tiny (file_id, pos) tombstone files instead of
    rewriting data files, and the READER applies them by anti-joining
    row positions at scan time. The engine writes {_PD_N_FILES} base
    files (file_id = o_orderkey % {_PD_N_FILES}, pos = rank of
    o_orderkey within the file — deterministic, standing in for parquet
    row order), commits one delete file tombstoning every row whose
    o_orderkey % {_PD_DEL_MOD} == 0, then reads base ⟕anti⟕ deletes on
    (file_id, pos) and aggregates the LIVE rows. The oracle recomputes
    from the raw table with the logical predicate — proving the
    positional indirection resolves to exactly the intended rows.

    Scale posture (100 TB): delete files are keyed by (file_id, pos), so
    the anti join is file-local — real readers apply each data file's
    tombstones during its own scan with zero shuffle; here the equi-join
    on the composite key is the engine-level equivalent, with the
    delete side orders-of-magnitude smaller (1/{_PD_DEL_MOD} of rows)
    and broadcastable. The files live in the run's query scope (`scratch`)."""
    base_dir = scratch("q344")
    o = (
        table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
        .withColumn("file_id", (F.col("o_orderkey") % _PD_N_FILES).cast("int"))
        .withColumn(
            "pos",
            F.row_number().over(
                W.partitionBy("file_id").orderBy("o_orderkey")
            ),
        )
    )
    base_path = os.path.join(base_dir, "base")
    o.write.partitionBy("file_id").parquet(base_path)
    deletes_path = os.path.join(base_dir, "deletes")
    (
        o.filter(F.col("o_orderkey") % _PD_DEL_MOD == 0)
        .select("file_id", "pos")
        .write.parquet(deletes_path)
    )

    base = spark.read.parquet(base_path)
    dels = spark.read.parquet(deletes_path)
    live = base.join(F.broadcast(dels), ["file_id", "pos"], "left_anti")
    return live.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_live"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("total_cents"),
    )


_MK_BUCKET = 256  # merkle leaf width in o_orderkey units
_MK_DROP = 997  # snapshot B drops keys ≡ 0 (mod 997)      — "removed"
_MK_FLIP = 501  # snapshot B flips status on keys ≡ 0 (mod 501) — "changed"
_MK_ADD = 5  # snapshot B appends 5 synthetic keys            — "added"


def _mk_row_hash_sql() -> str:
    """Portable per-row digest over (key, status, cents) — pure integer
    arithmetic plus the repo's polynomial string hash, textually identical
    in both dialects."""
    from kinesis_customer_sample_spark.functions import MOD_P, tok_hash_expr

    # dialect-agnostic: both engines accept this exact arithmetic text
    return (
        f"(((o_orderkey % {MOD_P}) * 31 + (cents % {MOD_P})) % {MOD_P} * 31 "
        f"+ {{status_hash}}) % {MOD_P}"
    )


@query(
    "q351_merkle_range_diff",
    oracle=None,  # placeholder — replaced below at registration
    tags=("warehouse", "merkle", "anti-entropy", "reconciliation"),
)
def merkle_range_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merkle-style anti-entropy range diff — how replicated stores
    reconcile a 100 TB table WITHOUT comparing every row (q125's full
    diff is the row-level tool; this is the range-level triage above it):
    both snapshots reduce to per-bucket digests (sum of portable row
    hashes mod P + row count over o_orderkey div 256 leaves), digests
    full-outer-join on the bucket id, and ONLY diverging buckets are
    re-read row-by-row to classify added/removed/changed. Snapshot B is
    a deterministic perturbation of A (drop %997 keys, flip status on
    %501 keys, append 5 rows), so every divergence class is exercised.

    Scale posture (100 TB): the digest pass is one map-side-combined agg
    per snapshot (sum is associative; mod taken after — bucket_rows·P
    must fit int64, fine to ~9e9 rows/bucket); the digest join is
    bucket-grid-sized metadata. The row-level recheck joins ONLY the
    diverging buckets' rows (broadcast bucket-id semi-filter), which at
    a production drift rate is a vanishing fraction of the table — the
    whole point of the merkle triage. Buckets are key ranges, so on a
    range-partitioned layout the recheck prunes to matching files."""
    from kinesis_customer_sample_spark.functions import MOD_P, tok_hash_expr

    o = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_orderstatus").alias("status"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    added = spark.range(_MK_ADD).select(
        (F.lit(10_000_000_000) + F.col("id")).alias("o_orderkey"),
        F.lit("N").alias("status"),
        ((F.col("id") + 1) * 12345).alias("cents"),
    )
    b = (
        o.filter(F.col("o_orderkey") % _MK_DROP != 0)
        .withColumn(
            "status",
            F.when(F.col("o_orderkey") % _MK_FLIP == 0, F.lit("X")).otherwise(
                F.col("status")
            ),
        )
        .unionByName(added)
    )

    hash_sql = _mk_row_hash_sql().format(
        status_hash=tok_hash_expr("status", dialect="spark")
    )

    def digests(df: DataFrame) -> DataFrame:
        return (
            df.withColumn("h", F.expr(hash_sql))
            .withColumn("bucket", F.expr(f"o_orderkey div {_MK_BUCKET}"))
            .groupBy("bucket")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("cnt"),
                (F.sum("h") % MOD_P).cast("bigint").alias("dig"),
            )
        )

    da, db_ = digests(o), digests(b)
    diverged = (
        da.select("bucket", F.col("cnt").alias("cnt_a"), F.col("dig").alias("dig_a"))
        .join(
            db_.select(
                "bucket", F.col("cnt").alias("cnt_b"), F.col("dig").alias("dig_b")
            ),
            "bucket",
            "full_outer",
        )
        .filter(
            ~(
                F.col("dig_a").eqNullSafe(F.col("dig_b"))
                & F.col("cnt_a").eqNullSafe(F.col("cnt_b"))
            )
        )
        .select("bucket")
    )
    with_bucket = lambda df: df.withColumn(  # noqa: E731
        "bucket", F.expr(f"o_orderkey div {_MK_BUCKET}")
    )
    ra = with_bucket(o).join(F.broadcast(diverged), "bucket")
    rb = with_bucket(b).join(F.broadcast(diverged), "bucket")
    rows = (
        ra.select(
            "bucket",
            "o_orderkey",
            F.col("status").alias("st_a"),
            F.col("cents").alias("c_a"),
        )
        .join(
            rb.select(
                "bucket",
                "o_orderkey",
                F.col("status").alias("st_b"),
                F.col("cents").alias("c_b"),
            ),
            ["bucket", "o_orderkey"],
            "full_outer",
        )
    )
    return rows.groupBy("bucket").agg(
        F.sum(F.when(F.col("st_a").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_added"),
        F.sum(F.when(F.col("st_b").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_removed"),
        F.sum(
            F.when(
                F.col("st_a").isNotNull()
                & F.col("st_b").isNotNull()
                & (
                    ~F.col("st_a").eqNullSafe(F.col("st_b"))
                    | ~F.col("c_a").eqNullSafe(F.col("c_b"))
                ),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_changed"),
    )


def _mk_register_oracle() -> None:
    """Attach q351's oracle (needs the DuckDB-dialect status hash)."""
    import textwrap
    from dataclasses import replace

    from kinesis_customer_sample_spark.functions import MOD_P, tok_hash_expr
    from kinesis_customer_sample_spark.registry import REGISTRY

    h = _mk_row_hash_sql().format(
        status_hash=tok_hash_expr("status", dialect="duckdb")
    )
    oracle = f"""
    WITH a AS (
      SELECT o_orderkey, o_orderstatus AS status,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ),
    b AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % {_MK_FLIP} = 0 THEN 'X' ELSE status END
               AS status,
             cents
      FROM a WHERE o_orderkey % {_MK_DROP} != 0
      UNION ALL
      SELECT 10000000000 + i AS o_orderkey, 'N' AS status,
             (i + 1) * 12345 AS cents
      FROM (SELECT unnest(range({_MK_ADD})) AS i)
    ),
    ha AS (SELECT *, ({h})::BIGINT AS h, o_orderkey // {_MK_BUCKET} AS bucket FROM a),
    hb AS (SELECT *, ({h})::BIGINT AS h, o_orderkey // {_MK_BUCKET} AS bucket FROM b),
    da AS (SELECT bucket, count(*)::BIGINT AS cnt, (sum(h) % {MOD_P})::BIGINT AS dig
           FROM ha GROUP BY bucket),
    db AS (SELECT bucket, count(*)::BIGINT AS cnt, (sum(h) % {MOD_P})::BIGINT AS dig
           FROM hb GROUP BY bucket),
    div_b AS (
      SELECT coalesce(da.bucket, db.bucket) AS bucket
      FROM da FULL OUTER JOIN db ON da.bucket = db.bucket
      WHERE NOT (da.dig IS NOT DISTINCT FROM db.dig
                 AND da.cnt IS NOT DISTINCT FROM db.cnt)
    ),
    ra AS (SELECT ha.* FROM ha JOIN div_b USING (bucket)),
    rb AS (SELECT hb.* FROM hb JOIN div_b USING (bucket)),
    rows_ AS (
      SELECT coalesce(ra.bucket, rb.bucket) AS bucket,
             ra.status AS st_a, rb.status AS st_b,
             ra.cents AS c_a, rb.cents AS c_b
      FROM ra FULL OUTER JOIN rb
        ON ra.bucket = rb.bucket AND ra.o_orderkey = rb.o_orderkey
    )
    SELECT bucket,
           sum(CASE WHEN st_a IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_added,
           sum(CASE WHEN st_b IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_removed,
           sum(CASE WHEN st_a IS NOT NULL AND st_b IS NOT NULL
                     AND (st_a IS DISTINCT FROM st_b
                          OR c_a IS DISTINCT FROM c_b)
                    THEN 1 ELSE 0 END)::BIGINT AS n_changed
    FROM rows_ GROUP BY bucket
    """
    REGISTRY["q351_merkle_range_diff"] = replace(
        REGISTRY["q351_merkle_range_diff"], oracle=textwrap.dedent(oracle).strip()
    )


_mk_register_oracle()


@query(
    "q357_dynamic_partition_pruning",
    oracle="""
    SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
           count(*)::BIGINT AS n_items,
           sum(CAST(round(l_extendedprice * 100) AS BIGINT))::BIGINT
             AS revenue_cents
    FROM lineitem
    WHERE quarter(l_shipdate) = 1
    GROUP BY 1
    """,
    tags=("warehouse", "dynamic-partition-pruning", "layout", "join"),
)
def dynamic_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning — the runtime companion to q155's static
    partition pruning: the fact table is laid out partitioned by ship
    month, the filter lives on a DIMENSION (month attributes: quarter),
    and the month list that survives the dim filter is only known at run
    time — Catalyst inserts a dynamicpruning subquery into the fact scan
    so only Q1 month directories are read, without the query ever naming
    them. This is THE mechanism that makes star-schema date filters cheap
    on partitioned 100 TB facts (a static reader would scan all months).
    The plan test asserts the dynamicpruning expression is present in the
    fact scan's partition filters.

    Scale posture (100 TB): partition count = months (bounded metadata);
    the dim is month-grain (broadcast); pruning happens before file
    listing I/O. The layout lives in the run's query scope (`scratch`)."""
    base = scratch("q357")
    li = table(spark, sf_dir, "lineitem").select(
        F.date_format("l_shipdate", "yyyy-MM").alias("ship_month"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("cents"),
    )
    fact_path = os.path.join(base, "fact")
    # hash-cluster by the partition column before the partitioned write
    # (guide §6 / Iceberg write.distribution-mode=hash): without it every
    # scan task opens a writer per month it touches — cores × months tiny
    # files, paid again at listing/scan time on the read side; with it,
    # one file per month
    li.repartition("ship_month").write.partitionBy("ship_month").parquet(fact_path)
    fact = spark.read.parquet(fact_path)
    months = (
        li.select("ship_month")
        .distinct()
        .withColumn(
            "qtr", F.quarter(F.to_date(F.concat(F.col("ship_month"), F.lit("-01"))))
        )
    )
    dim = months.filter(F.col("qtr") == 1)
    return (
        fact.join(F.broadcast(dim), "ship_month")
        .groupBy("ship_month")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_items"),
            F.sum("cents").cast("bigint").alias("revenue_cents"),
        )
    )


@query(
    "q359_zone_map_skipping",
    oracle="""
    SELECT (l_orderkey // 1024)::BIGINT AS file_id,
           count(*)::BIGINT             AS n_rows,
           strftime(min(l_shipdate), '%Y-%m-%d') AS min_ship,
           strftime(max(l_shipdate), '%Y-%m-%d') AS max_ship,
           (min(l_shipdate) <= TIMESTAMP '1995-03-31 23:59:59'
            AND max(l_shipdate) >= TIMESTAMP '1995-03-01 00:00:00')
                                        AS must_read,
           count(*) FILTER (l_shipdate >= TIMESTAMP '1995-03-01 00:00:00'
                        AND l_shipdate <= TIMESTAMP '1995-03-31 23:59:59')
               ::BIGINT                 AS n_match,
           ((min(l_shipdate) <= TIMESTAMP '1995-03-31 23:59:59'
             AND max(l_shipdate) >= TIMESTAMP '1995-03-01 00:00:00')
            OR count(*) FILTER (l_shipdate >= TIMESTAMP '1995-03-01 00:00:00'
                            AND l_shipdate <= TIMESTAMP '1995-03-31 23:59:59') = 0)
                                        AS sound
    FROM lineitem
    GROUP BY 1
    """,
    tags=("warehouse", "zone-map", "data-skipping", "layout"),
)
def zone_map_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map (min/max) data-skipping audit — the row-group/file-stat
    mechanic under every modern lakehouse reader (parquet row-group stats,
    Delta/Iceberg file stats, ORC stripe stats), made explicit: files are
    the natural ingest clustering (orderkey ranges), each file carries a
    [min,max] ship-date zone, and a date predicate must read exactly the
    files whose zone intersects it. The output proves the SOUNDNESS
    theorem per file: a skipped file (must_read = false) contains zero
    matching rows — which is why skipping is safe at any scale — and
    exposes the effectiveness ratio (files read / files total) that the
    clustering investment (q110 Z-order, q155/q357 partition layout)
    exists to improve.

    Scale posture (100 TB): ONE scan, one map-side-combined hash agg to
    the file grid (n_files rows ≈ metadata scale, ~1e6 at 100 TB);
    min/max/count and the predicate count fold in the same aggregation —
    no join-back, no second pass. The grid is what a real reader holds in
    its manifest cache."""
    lo, hi = "1995-03-01 00:00:00", "1995-03-31 23:59:59"
    li = table(spark, sf_dir, "lineitem")
    in_pred = F.col("l_shipdate").between(F.lit(lo), F.lit(hi))
    must_read = (F.min("l_shipdate") <= F.lit(hi)) & (
        F.max("l_shipdate") >= F.lit(lo)
    )
    n_match = F.count(F.when(in_pred, 1))
    return (
        li.groupBy((F.col("l_orderkey") / 1024).cast("bigint").alias("file_id"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.date_format(F.min("l_shipdate"), "yyyy-MM-dd").alias("min_ship"),
            F.date_format(F.max("l_shipdate"), "yyyy-MM-dd").alias("max_ship"),
            must_read.alias("must_read"),
            n_match.alias("n_match"),
            (must_read | (n_match == 0)).alias("sound"),
        )
    )


# next-fit compaction target: bins close when the cumulative byte offset
# crosses a multiple of this (file inventory is metadata — one row per
# file — so the planning window costs nothing at any data scale)
_BIN_TARGET_BYTES = 64_000


@query(
    "q361_compaction_bin_packing",
    oracle=f"""
    WITH files AS (
      SELECT source, (doc_id // 64)::BIGINT AS chunk,
             sum(n_chars)::BIGINT AS bytes
      FROM documents GROUP BY 1, 2
    ),
    planned AS (
      SELECT source, chunk, bytes,
             ((sum(bytes) OVER w - bytes) // {_BIN_TARGET_BYTES})::BIGINT AS bin_id
      FROM files
      WINDOW w AS (ORDER BY bytes DESC, source, chunk
                   ROWS UNBOUNDED PRECEDING)
    )
    SELECT bin_id,
           count(*)::BIGINT     AS n_files,
           sum(bytes)::BIGINT   AS bin_bytes,
           max(bytes)::BIGINT   AS largest_file
    FROM planned GROUP BY 1
    """,
    tags=("warehouse", "compaction", "bin-packing", "maintenance"),
)
def compaction_bin_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compaction bin-packing PLAN — the decision layer above q187's
    physical rewrite: given a small-file inventory (per source × chunk,
    bytes), sort descending and assign files to target-sized output bins
    by cumulative byte offset (next-fit-decreasing). Sorting big files
    first is the classic packing heuristic: the tail of small files fills
    the gaps, so bins land near the target instead of fragmenting. The
    output is the plan a maintenance job would hand to q187's rewriter:
    bin → file count, bytes, largest member.

    Scale posture (100 TB): the inventory is METADATA — one row per file
    (~1e6 rows for 100 TB of 100 MB files), independent of data volume,
    so the single-partition planning window is a driver-sized sort, the
    same cost class as a manifest listing. The DATA never moves here;
    only the plan is computed. The grid output is bin-sized."""
    files = (
        table(spark, sf_dir, "documents")
        .groupBy(
            "source", (F.col("doc_id") / 64).cast("bigint").alias("chunk")
        )
        .agg(F.sum("n_chars").alias("bytes"))
    )
    w = W.orderBy(F.desc("bytes"), "source", "chunk").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    planned = files.withColumn(
        "bin_id",
        ((F.sum("bytes").over(w) - F.col("bytes")) / _BIN_TARGET_BYTES).cast(
            "bigint"
        ),
    )
    return planned.groupBy("bin_id").agg(
        F.count(F.lit(1)).alias("n_files"),
        F.sum("bytes").alias("bin_bytes"),
        F.max("bytes").alias("largest_file"),
    )


@query(
    "q366_star_schema_conformance",
    oracle="""
    WITH dim_type AS (
      SELECT event_type, dense_rank() OVER (ORDER BY event_type) AS type_sk
      FROM (SELECT DISTINCT event_type FROM events)
    ),
    dim_user AS (
      SELECT user_id, dense_rank() OVER (ORDER BY user_id) AS user_sk
      FROM (SELECT DISTINCT user_id FROM events)
    ),
    fact AS (
      SELECT t.type_sk, u.user_sk
      FROM events e
      JOIN dim_type t USING (event_type)
      JOIN dim_user u USING (user_id)
    )
    SELECT t.type_sk::BIGINT AS type_sk, t.event_type,
           count(*)::BIGINT  AS n_facts,
           count(DISTINCT f.user_sk)::BIGINT AS n_users,
           (sum(f.user_sk * 31 + f.type_sk) % 1000000007)::BIGINT AS fact_checksum
    FROM fact f JOIN dim_type t USING (type_sk)
    GROUP BY 1, 2
    """,
    tags=("warehouse", "etl", "star-schema", "surrogate-key"),
)
def star_schema_conformance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star-schema conformance build — the ETL staple that turns a flat
    event feed into dimensional form: distinct natural keys become
    dimension tables with DETERMINISTIC surrogate keys (dense_rank over
    the sorted natural key — rerunnable, collision-free), the fact table
    is rewritten onto surrogates, and the output proves referential
    closure (every fact row joined back through the dim without loss,
    witnessed by the checksum over surrogate pairs).

    Scale posture (100 TB): dims are distinct-key-sized (a hash agg),
    the one-time dense_rank sort is the dim-build investment — facts
    NEVER enter a global window; the surrogate substitution is two hash
    joins (type dim broadcasts; the user dim join shuffles on user_id,
    the same key the fact arrives clustered on). Checksum is mod-P
    integer, order-insensitive by commutativity."""
    ev = table(spark, sf_dir, "events")
    dim_type = ev.select("event_type").distinct().withColumn(
        "type_sk", F.dense_rank().over(W.orderBy("event_type"))
    )
    dim_user = ev.select("user_id").distinct().withColumn(
        "user_sk", F.dense_rank().over(W.orderBy("user_id"))
    )
    fact = (
        ev.join(F.broadcast(dim_type), "event_type")
        .join(dim_user, "user_id")
        .select("type_sk", "user_sk")
    )
    return (
        fact.join(F.broadcast(dim_type), "type_sk")
        .groupBy("type_sk", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_facts"),
            F.countDistinct("user_sk").alias("n_users"),
            (
                F.sum(F.col("user_sk") * 31 + F.col("type_sk")) % 1_000_000_007
            ).cast("bigint").alias("fact_checksum"),
        )
    )


# BOM tree: child part → parent part div 10 (a 10-ary assembly tree over
# the part table), qty-per = child % 3 + 1; roots are parts 0..9
_BOM_QTY = "p_partkey % 3 + 1"


@query(
    "q369_bom_explosion",
    oracle="""
    WITH RECURSIVE edges AS (
      SELECT p_partkey AS child, p_partkey // 10 AS parent,
             (p_partkey % 3 + 1)::BIGINT AS qty
      FROM part WHERE p_partkey >= 10
    ),
    walk AS (
      SELECT child AS node, parent AS anc, qty AS mult FROM edges
      UNION ALL
      SELECT w.node, e.parent, w.mult * e.qty
      FROM walk w JOIN edges e ON w.anc = e.child
    )
    SELECT anc::BIGINT AS root,
           count(*)::BIGINT AS n_descendants,
           (sum(mult) % 1000000007)::BIGINT AS total_units_modp,
           max(mult)::BIGINT AS max_path_mult
    FROM walk WHERE anc < 10
    GROUP BY 1
    """,
    tags=("warehouse", "hierarchy", "bom", "recursive"),
)
def bom_explosion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bill-of-materials explosion — the MULTIPLICATIVE hierarchy rollup
    q335's path-sum form cannot express: walking from every component up
    the assembly tree, quantities multiply along the path (3 widgets per
    bracket × 2 brackets per chassis = 6 per chassis), and each root
    aggregates total units over all transitive descendants. The walk is
    the q120/q292 iterative-join fixpoint: depth-many self-joins, each
    carrying (node, ancestor, path-multiplicity); depth is ⌈log₁₀ of the
    key space⌉, computed from a bounded driver scalar. Oracle is the
    textbook recursive CTE.

    Scale posture (100 TB): each iteration is one hash join edge-keyed on
    the current ancestor (the edges table is part-dim-sized: each level
    re-reads it with a column-pruned dim scan, so the build runs no job
    for it); intermediate multiplicities stay ≤ 3^depth (int64-safe to
    depth 40). Assembly DAG depth in practice is ≤ ~12 — the
    iteration count is structural, not data-scaled. The loop runs exactly
    `depth` iterations LAZILY — no per-level isEmpty() action: the depth
    bound is already sufficient (a d-digit key reaches its root in d-1
    divisions, and depth ≥ d-1 by construction), so trailing iterations
    join an empty frontier and contribute nothing. The r13→r14 bench
    ledger profiled the per-level early-exit actions at ~0.1-0.2 s of
    driver-job overhead EACH at sf0.1 (isolated min-of-3 1.208 s → 0.956 s
    after removal); on a 1000-executor cluster each would be a full
    driver barrier per BOM level."""
    import math

    part = table(spark, sf_dir, "part")
    max_key = part.agg(F.max("p_partkey")).collect()[0][0]
    depth = max(1, math.ceil(math.log10(max(int(max_key), 2))))
    edges = part.filter(F.col("p_partkey") >= 10).select(
        F.col("p_partkey").alias("child"),
        F.expr("p_partkey div 10").alias("parent"),
        F.expr(_BOM_QTY).cast("bigint").alias("qty"),
    )
    walk = edges.select(
        F.col("child").alias("node"),
        F.col("parent").alias("anc"),
        F.col("qty").alias("mult"),
    )
    frontier = walk
    for _ in range(depth):
        nxt = (
            frontier.join(
                edges.select(
                    F.col("child").alias("anc"),
                    F.col("parent").alias("nxt_anc"),
                    F.col("qty").alias("nxt_qty"),
                ),
                "anc",
            )
            .select(
                "node",
                F.col("nxt_anc").alias("anc"),
                (F.col("mult") * F.col("nxt_qty")).alias("mult"),
            )
        )
        walk = walk.unionByName(nxt)
        frontier = nxt
    return (
        walk.filter(F.col("anc") < 10)
        .groupBy(F.col("anc").alias("root"))
        .agg(
            F.count(F.lit(1)).alias("n_descendants"),
            (F.sum("mult") % 1_000_000_007).cast("bigint").alias("total_units_modp"),
            F.max("mult").alias("max_path_mult"),
        )
    )


# retention policy for q375: only the latest snapshot is retained; files
# appear in snapshots as follows (A..F = bucket files, G/H = compaction
# rewrites of buckets 0-1):  s1 = {b0..b3}, s2 = s1 + {b4,b5},
# s3 = {G(b0+b1), b2..b5} — so expiring s1/s2 orphans exactly b0 and b1
_VACUUM_CUT = "1995-07-01"


@query(
    "q375_vacuum_planning",
    oracle=f"""
    WITH files AS (
      SELECT (o_orderkey % 6)::BIGINT AS bucket,
             count(*)::BIGINT AS n_rows,
             sum(CAST(round(o_totalprice * 100) AS BIGINT))::BIGINT AS bytes
      FROM orders
      WHERE o_orderdate < TIMESTAMP '{_VACUUM_CUT} 00:00:00' OR o_orderkey % 6 >= 4
      GROUP BY 1
    ),
    refs AS (
      -- snapshot 3 (the only retained one) references the compaction
      -- rewrite of buckets 0-1 plus originals 2-5; the rewrite G is
      -- file_id 100
      SELECT bucket AS file_id FROM files WHERE bucket >= 2
      UNION ALL SELECT 100 AS file_id
    ),
    inventory AS (
      SELECT bucket AS file_id, n_rows, bytes FROM files
      UNION ALL
      SELECT 100, sum(n_rows)::BIGINT, sum(bytes)::BIGINT
      FROM files WHERE bucket < 2
    )
    SELECT i.file_id,
           i.n_rows,
           i.bytes,
           (r.file_id IS NOT NULL)                           AS live,
           CASE WHEN r.file_id IS NOT NULL THEN 'keep'
                ELSE 'delete' END                            AS action
    FROM inventory i LEFT JOIN refs r ON i.file_id = r.file_id
    """,
    tags=("warehouse", "vacuum", "retention", "maintenance", "lakehouse"),
)
def vacuum_planning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-expiration / VACUUM planning — the GC layer every
    manifest-based table format (q318) needs: snapshots s1/s2 are past
    retention, s3 (which compacted buckets 0-1 into one rewrite file)
    is live, and the plan marks each file in the physical inventory
    keep/delete by anti-joining the live manifests' reference set. The
    two orphans are exactly the compacted-away originals — deleting a
    still-referenced file (the classic vacuum bug) is impossible by
    construction because liveness is a JOIN against the retained
    manifest, never a timestamp heuristic.

    Scale posture (100 TB): the whole plan is METADATA algebra — file
    inventory and manifest references are one-row-per-file tables (the
    q361 class); the data itself is never touched until the delete
    executes. The reference set is manifest-sized and broadcasts."""
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") < F.lit(f"{_VACUUM_CUT} 00:00:00"))
        | (F.col("o_orderkey") % 6 >= 4)
    )
    files = materialize(
        o.groupBy((F.col("o_orderkey") % 6).cast("bigint").alias("bucket")).agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias("bytes"),
        )
    )
    refs = (
        files.filter(F.col("bucket") >= 2)
        .select(F.col("bucket").alias("file_id"))
        .unionByName(
            files.limit(1).select(F.lit(100).cast("bigint").alias("file_id"))
        )
    )
    inventory = files.select(
        F.col("bucket").alias("file_id"), "n_rows", "bytes"
    ).unionByName(
        files.filter(F.col("bucket") < 2).agg(
            F.lit(100).cast("bigint").alias("file_id"),
            F.sum("n_rows").alias("n_rows"),
            F.sum("bytes").alias("bytes"),
        )
    )
    live = F.col("file_id_ref").isNotNull()
    return (
        inventory.join(
            F.broadcast(refs.select(F.col("file_id").alias("file_id_ref"))),
            F.col("file_id") == F.col("file_id_ref"),
            "left",
        )
        .select(
            "file_id",
            "n_rows",
            "bytes",
            live.alias("live"),
            F.when(live, "keep").otherwise("delete").alias("action"),
        )
    )


# changelog-producer cut: "old" snapshot is orders strictly before, "new"
# snapshot swaps priority for half the overlap and adds the rest
_CDF_CUT = "1995-07-01"


@query(
    "q389_cdc_changelog_producer",
    oracle=f"""
    WITH old AS (
      SELECT o_orderkey AS k, o_orderpriority AS v
      FROM orders WHERE o_orderdate < TIMESTAMP '{_CDF_CUT} 00:00:00'
    ),
    new AS (
      SELECT o_orderkey AS k,
             CASE WHEN o_orderkey % 7 = 0 THEN '9-RECLASSIFIED'
                  ELSE o_orderpriority END AS v
      FROM orders
      WHERE o_orderdate < TIMESTAMP '{_CDF_CUT} 00:00:00' AND o_orderkey % 3 != 0
      UNION ALL
      SELECT o_orderkey, o_orderpriority FROM orders
      WHERE o_orderdate >= TIMESTAMP '{_CDF_CUT} 00:00:00'
    ),
    log AS (
      SELECT coalesce(o.k, n.k) AS k,
             CASE WHEN o.k IS NULL THEN 'insert'
                  WHEN n.k IS NULL THEN 'delete'
                  ELSE 'update' END AS op,
             o.v AS before_v, n.v AS after_v
      FROM old o FULL OUTER JOIN new n ON o.k = n.k
      WHERE o.k IS NULL OR n.k IS NULL OR o.v != n.v
    )
    SELECT op,
           count(*)::BIGINT AS n_rows,
           (sum(k) % 1000000007)::BIGINT AS key_checksum,
           count(DISTINCT before_v)::BIGINT AS n_before_values,
           count(DISTINCT after_v)::BIGINT  AS n_after_values
    FROM log GROUP BY 1
    """,
    tags=("warehouse", "cdc", "changelog", "change-data-feed"),
)
def cdc_changelog_producer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC changelog PRODUCTION — the inverse of q161's MERGE apply and
    the other half of the q125 diff: given two table versions, emit the
    change-data-feed rows (op ∈ insert/update/delete with before/after
    images) a downstream consumer would replay — exactly what
    Delta/Iceberg's change feed materializes. Unchanged rows are
    suppressed by the value inequality, so the log is delta-sized, not
    table-sized.

    Scale posture (100 TB): ONE full outer hash join on the key (both
    snapshots shuffle once on the same key — co-partitioned if the table
    is bucketed, q163), inequality filter before anything aggregates.
    The op rollup is 3 rows; real consumers would read `log` itself."""
    o = table(spark, sf_dir, "orders")
    old = o.filter(F.col("o_orderdate") < F.lit(f"{_CDF_CUT} 00:00:00")).select(
        F.col("o_orderkey").alias("k"), F.col("o_orderpriority").alias("v")
    )
    new = (
        o.filter(
            (F.col("o_orderdate") < F.lit(f"{_CDF_CUT} 00:00:00"))
            & (F.col("o_orderkey") % 3 != 0)
        )
        .select(
            F.col("o_orderkey").alias("k"),
            F.when(F.col("o_orderkey") % 7 == 0, "9-RECLASSIFIED")
            .otherwise(F.col("o_orderpriority"))
            .alias("v"),
        )
        .unionByName(
            o.filter(F.col("o_orderdate") >= F.lit(f"{_CDF_CUT} 00:00:00")).select(
                F.col("o_orderkey").alias("k"),
                F.col("o_orderpriority").alias("v"),
            )
        )
    )
    log = (
        old.withColumnRenamed("k", "ok")
        .withColumnRenamed("v", "ov")
        .join(
            new.withColumnRenamed("k", "nk").withColumnRenamed("v", "nv"),
            F.col("ok") == F.col("nk"),
            "full_outer",
        )
        .filter(
            F.col("ok").isNull()
            | F.col("nk").isNull()
            | (F.col("ov") != F.col("nv"))
        )
        .select(
            F.coalesce("ok", "nk").alias("k"),
            F.when(F.col("ok").isNull(), "insert")
            .when(F.col("nk").isNull(), "delete")
            .otherwise("update")
            .alias("op"),
            F.col("ov").alias("before_v"),
            F.col("nv").alias("after_v"),
        )
    )
    return log.groupBy("op").agg(
        F.count(F.lit(1)).alias("n_rows"),
        (F.sum("k") % 1_000_000_007).cast("bigint").alias("key_checksum"),
        F.countDistinct("before_v").alias("n_before_values"),
        F.countDistinct("after_v").alias("n_after_values"),
    )


@query(
    "q390_scd2_integrity_audit",
    oracle="""
    WITH hist AS (
      SELECT o_custkey AS k, o_orderdate AS valid_from,
             lead(o_orderdate) OVER (PARTITION BY o_custkey
                                     ORDER BY o_orderdate, o_orderkey)
               AS valid_to,
             o_orderpriority AS attr
      FROM orders
    )
    SELECT count(*)::BIGINT                                    AS n_versions,
           count(*) FILTER (valid_to IS NULL)::BIGINT          AS n_current,
           count(*) FILTER (valid_to IS NOT NULL
                            AND valid_to < valid_from)::BIGINT AS n_negative_spans,
           count(*) FILTER (valid_to IS NOT NULL
                            AND valid_to = valid_from)::BIGINT AS n_zero_spans,
           count(DISTINCT k)::BIGINT                           AS n_keys
    FROM hist
    """,
    tags=("warehouse", "scd2", "integrity", "audit"),
)
def scd2_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 validity-interval integrity audit — the QA gate a q118-built
    history table must pass before anyone trusts an as-was join (q188):
    per key, version intervals must tile time with NO gaps and NO
    overlaps. Built with the lead() construction, gaps/overlaps are
    impossible BY CONSTRUCTION — so the audit counts the two failure
    modes (negative spans = overlap symptom, zero-width spans = same-
    instant double-versioning, the real-world hazard) and the exactly-
    one-current-row-per-key invariant (n_current must equal n_keys).

    Scale posture (100 TB): one key-partitioned window over the history
    (version-count-sized per key), one global agg. The audit reads the
    history ONCE and never joins."""
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    hist = table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("k"),
        F.col("o_orderdate").alias("valid_from"),
        F.lead("o_orderdate").over(w).alias("valid_to"),
    )
    return hist.agg(
        F.count(F.lit(1)).alias("n_versions"),
        F.count(F.when(F.col("valid_to").isNull(), 1)).alias("n_current"),
        F.count(
            F.when(
                F.col("valid_to").isNotNull()
                & (F.col("valid_to") < F.col("valid_from")),
                1,
            )
        ).alias("n_negative_spans"),
        F.count(
            F.when(
                F.col("valid_to").isNotNull()
                & (F.col("valid_to") == F.col("valid_from")),
                1,
            )
        ).alias("n_zero_spans"),
        F.countDistinct("k").alias("n_keys"),
    )


def _maintenance_capstone_oracle() -> str:
    """q400's oracle COMPOSES the already-registered q359/q361/q375
    oracles verbatim (registry lookup, no text duplication): each becomes
    a CTE whose grid is rolled up to one report row."""
    from kinesis_customer_sample_spark.registry import REGISTRY

    z = REGISTRY["q359_zone_map_skipping"].oracle
    c = REGISTRY["q361_compaction_bin_packing"].oracle
    v = REGISTRY["q375_vacuum_planning"].oracle
    return f"""
    WITH zone AS ({z}), pack AS ({c}), vac AS ({v})
    SELECT 'zone_map' AS domain,
           count(*)::BIGINT AS n_units,
           count(*) FILTER (NOT must_read)::BIGINT AS n_actionable,
           (sum(CASE WHEN must_read THEN n_rows ELSE 0 END) * 10000
              // sum(n_rows))::BIGINT AS headline_bp
    FROM zone
    UNION ALL
    SELECT 'compaction', count(*)::BIGINT,
           sum(n_files)::BIGINT,
           (max(bin_bytes) * 10000 // sum(bin_bytes))::BIGINT
    FROM pack
    UNION ALL
    SELECT 'vacuum', count(*)::BIGINT,
           count(*) FILTER (NOT live)::BIGINT,
           (sum(CASE WHEN NOT live THEN bytes ELSE 0 END) * 10000
              // sum(bytes))::BIGINT
    FROM vac
    """


@query(
    "q400_maintenance_report",
    oracle=_maintenance_capstone_oracle(),
    tags=("warehouse", "maintenance", "capstone", "report"),
)
def maintenance_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nightly maintenance report — the capstone that unifies the three
    storage-maintenance planners into the one-page summary an operator
    reads: zone-map effectiveness (share of rows in must-read files —
    the clustering-health number), compaction plan shape (files per bin,
    largest-bin share), and vacuum reclaim (orphan share of bytes). Both
    sides COMPOSE the q359/q361/q375 definitions verbatim — the Spark
    side calls the registered query functions, the oracle splices their
    registered SQL — so the report can never drift from the operators it
    summarizes.

    Scale posture (100 TB): three metadata-or-grid-sized inputs (see the
    composed queries' own postures), each reduced to one row. This is
    the query a scheduler runs nightly and alerts on."""
    from kinesis_customer_sample_spark.registry import REGISTRY

    zone = REGISTRY["q359_zone_map_skipping"].fn(spark, sf_dir)
    pack = REGISTRY["q361_compaction_bin_packing"].fn(spark, sf_dir)
    vac = REGISTRY["q375_vacuum_planning"].fn(spark, sf_dir)
    z = zone.agg(
        F.lit("zone_map").alias("domain"),
        F.count(F.lit(1)).alias("n_units"),
        F.count(F.when(~F.col("must_read"), 1)).alias("n_actionable"),
        F.expr(
            "sum(CASE WHEN must_read THEN n_rows ELSE 0 END) * 10000 "
            "div sum(n_rows)"
        ).cast("bigint").alias("headline_bp"),
    )
    p = pack.agg(
        F.lit("compaction").alias("domain"),
        F.count(F.lit(1)).alias("n_units"),
        F.sum("n_files").alias("n_actionable"),
        F.expr("max(bin_bytes) * 10000 div sum(bin_bytes)")
        .cast("bigint")
        .alias("headline_bp"),
    )
    v = vac.agg(
        F.lit("vacuum").alias("domain"),
        F.count(F.lit(1)).alias("n_units"),
        F.count(F.when(~F.col("live"), 1)).alias("n_actionable"),
        F.expr(
            "sum(CASE WHEN NOT live THEN bytes ELSE 0 END) * 10000 div sum(bytes)"
        ).cast("bigint").alias("headline_bp"),
    )
    return z.unionByName(p).unionByName(v)


# q435 (round 7): ABC-XYZ inventory classification — the planner's 3×3
# matrix combining revenue concentration (ABC: q203's Pareto cut turned
# into per-item classes) with demand variability (XYZ: coefficient of
# variation over the monthly demand series, zero months included).
_ABC_A_BP = 8000   # A: first 80% of cumulative revenue
_ABC_B_BP = 9500   # B: to 95%
_XYZ_BUCKET = 1_000_000  # two-level cumsum bucket width (cents)


@query(
    "q435_abc_xyz_classification",
    oracle=f"""
    WITH months AS (
      SELECT count(DISTINCT date_trunc('month', l_shipdate))::BIGINT AS w
      FROM lineitem
    ),
    demand AS (
      SELECT l_partkey, date_trunc('month', l_shipdate) AS m,
             sum(l_quantity)::BIGINT AS q,
             sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
               AS r
      FROM lineitem GROUP BY 1, 2
    ),
    per_part AS (
      SELECT l_partkey,
             sum(q)::BIGINT AS s, sum(q * q)::BIGINT AS qq,
             sum(r)::BIGINT AS rev_c
      FROM demand GROUP BY 1
    ),
    tot AS (SELECT sum(rev_c)::BIGINT AS total_rev FROM per_part),
    ranked AS (
      SELECT l_partkey, rev_c, s, qq,
             sum(rev_c) OVER (ORDER BY rev_c DESC, l_partkey) AS cum_rev
      FROM per_part
    )
    SELECT l_partkey AS part_key, rev_c,
           (cum_rev * 10000 // total_rev)::BIGINT AS cum_share_bp,
           CASE WHEN cum_rev * 10000 // total_rev <= {_ABC_A_BP} THEN 'A'
                WHEN cum_rev * 10000 // total_rev <= {_ABC_B_BP} THEN 'B'
                ELSE 'C' END AS abc,
           -- cv² = (W·ΣQ² − S²)/S² vs 0.25 / 1.0, cross-multiplied:
           CASE WHEN s = 0 THEN 'Z'
                WHEN 4 * (w * qq - s * s) <= s * s THEN 'X'
                WHEN (w * qq - s * s) <= s * s THEN 'Y'
                ELSE 'Z' END AS xyz
    FROM ranked CROSS JOIN months CROSS JOIN tot
    ORDER BY part_key
    """,
    tags=("warehouse", "inventory", "abc-xyz", "classification"),
)
def abc_xyz_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC-XYZ classification: every part gets a revenue class (A/B/C by
    cumulative-share Pareto cut at 80/95%) and a demand-stability class
    (X/Y/Z by coefficient of variation of its MONTHLY demand with zero
    months counted — the planner's forecastability axis). The zero
    months never materialize: with W = global month count broadcast,
    Var·W² = W·ΣQ² − S² uses only observed-month sufficient statistics
    (zeros add nothing to S or ΣQ²), and the cv thresholds (0.5, 1.0)
    compare cross-multiplied integers — no dense (part × month) fill,
    no sqrt, no division.

    Scale posture: one (part, month) partial agg, one per-part rollup,
    and the ABC cumulative runs as the two-level bucket cumsum over the
    PART dimension (million-row scale at 100 TB — exactly why the
    global window is banned) with (revenue DESC, part) total order."""
    li = table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.date_trunc("month", F.col("l_shipdate")).alias("m"),
        F.col("l_quantity").cast("bigint").alias("q"),
        F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100)
        .cast("bigint")
        .alias("r"),
    )
    months = F.broadcast(
        li.agg(F.countDistinct("m").cast("bigint").alias("w"))
    )
    demand = li.groupBy("l_partkey", "m").agg(
        F.sum("q").alias("q"), F.sum("r").alias("r")
    )
    # per_part feeds the grand total, the bucketed local window and the
    # bucket totals — three consumers with DIFFERENT downstream keys, so
    # exchange reuse could not share them all (the sf0.1 census read 10
    # fact scans / 30 Exchange unmaterialized). The barrier drops the plan
    # to 2 scans / 14 Exchange, the 5× fact re-scan it removes at scale.
    per_part = materialize(
        demand.groupBy("l_partkey").agg(
            F.sum("q").cast("bigint").alias("s"),
            F.sum(F.col("q") * F.col("q")).cast("bigint").alias("qq"),
            F.sum("r").cast("bigint").alias("rev_c"),
        )
    )
    tot = F.broadcast(per_part.agg(F.sum("rev_c").alias("total_rev")))
    # two-level cumulative over (rev DESC, part): bucket on negated revenue
    b = per_part.withColumn("bucket", F.expr(f"(-rev_c) div {_XYZ_BUCKET}"))
    w_loc = (
        W.partitionBy("bucket")
        .orderBy(F.desc("rev_c"), "l_partkey")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    local = b.withColumn("lc", F.sum("rev_c").over(w_loc))
    totals = b.groupBy("bucket").agg(F.sum("rev_c").alias("t"))
    starts = (
        totals.alias("a")
        .join(totals.alias("b"), F.col("b.bucket") < F.col("a.bucket"), "left")
        .groupBy(F.col("a.bucket").alias("bucket"))
        .agg(F.coalesce(F.sum("b.t"), F.lit(0)).alias("st"))
    )
    ranked = local.join(F.broadcast(starts), "bucket").withColumn(
        "cum_rev", F.col("st") + F.col("lc")
    )
    return (
        ranked.crossJoin(months)
        .crossJoin(tot)
        .select(
            F.col("l_partkey").alias("part_key"),
            "rev_c",
            F.expr("cum_rev * 10000 div total_rev").cast("bigint").alias(
                "cum_share_bp"
            ),
            F.expr(
                f"CASE WHEN cum_rev * 10000 div total_rev <= {_ABC_A_BP} THEN 'A'"
                f" WHEN cum_rev * 10000 div total_rev <= {_ABC_B_BP} THEN 'B'"
                " ELSE 'C' END"
            ).alias("abc"),
            F.expr(
                "CASE WHEN s = 0 THEN 'Z'"
                " WHEN 4 * (w * qq - s * s) <= s * s THEN 'X'"
                " WHEN (w * qq - s * s) <= s * s THEN 'Y'"
                " ELSE 'Z' END"
            ).alias("xyz"),
        )
        .orderBy("part_key")
    )


# q469: forecast month = last month of the orders span; seasonal-naive
# uses the value 12 months earlier; shares from the full history
_HR_SEASON_M = 12


@query(
    "q469_hierarchical_reconciliation",
    oracle=f"""
    WITH monthly AS (
      SELECT r.r_name AS region, n.n_name AS nation,
             (date_part('year', o.o_orderdate) - 1995) * 12
               + date_part('month', o.o_orderdate) - 1 AS m,
             sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS cents
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
      GROUP BY 1, 2, 3
    ),
    last_m AS (SELECT max(m) AS lm FROM monthly),
    nat_fc AS (
      SELECT region, nation, cents::BIGINT AS fc_direct
      FROM monthly CROSS JOIN last_m
      WHERE m = lm - {_HR_SEASON_M}
    ),
    reg_fc AS (
      SELECT region, sum(fc_direct)::BIGINT AS fc_region_bu
      FROM nat_fc GROUP BY region
    ),
    shares AS (
      SELECT region, nation,
             (10000 * sum(cents)) // (sum(sum(cents)) OVER (PARTITION BY region))
               AS share_bp
      FROM monthly GROUP BY region, nation
    )
    SELECT f.region, f.nation,
           f.fc_direct,
           ((g.fc_region_bu * s.share_bp) // 10000)::BIGINT AS fc_topdown,
           (f.fc_direct - (g.fc_region_bu * s.share_bp) // 10000)::BIGINT
             AS coherence_gap_cents,
           s.share_bp::BIGINT AS share_bp
    FROM nat_fc f
    JOIN reg_fc g ON g.region = f.region
    JOIN shares s ON s.region = f.region AND s.nation = f.nation
    ORDER BY f.region, f.nation
    """,
    tags=("forecast", "hierarchy", "reconciliation", "warehouse"),
)
def hierarchical_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical forecast reconciliation audit (bottom-up vs
    top-down): seasonal-naive nation forecasts (value 12 months before
    the last month) roll bottom-up into region totals, while the
    top-down path allocates that regional total back by each nation's
    historical revenue share (integer bp) — the per-nation coherence
    gap is what a MinT-style reconciler would minimize, and the report
    every hierarchical-forecasting pipeline prints before choosing a
    method.

    Determinism: cents/months/shares are exact integers; both
    allocation paths are integer div arithmetic.

    Scale: one fact hash-agg to the (region, nation, month) grid; the
    share window partitions by region over the nation grid; forecasts
    select single grid rows via the broadcast 1-row last-month total."""
    monthly = materialize(
        table(spark, sf_dir, "orders")
        .join(
            F.broadcast(
                table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
            ),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(table(spark, sf_dir, "nation")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(table(spark, sf_dir, "region")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .groupBy(
            F.col("r_name").alias("region"),
            F.col("n_name").alias("nation"),
            F.expr(
                "(year(o_orderdate) - 1995) * 12 + month(o_orderdate) - 1"
            ).alias("m"),
        )
        .agg(F.sum(F.expr("CAST(round(o_totalprice * 100) AS BIGINT)")).alias("cents"))
    )
    last_m = monthly.agg(F.max("m").alias("lm"))
    nat_fc = (
        monthly.crossJoin(F.broadcast(last_m))
        .filter(F.col("m") == F.col("lm") - _HR_SEASON_M)
        .select("region", "nation", F.col("cents").alias("fc_direct"))
    )
    reg_fc = nat_fc.groupBy("region").agg(F.sum("fc_direct").alias("fc_region_bu"))
    shares = (
        monthly.groupBy("region", "nation")
        .agg(F.sum("cents").alias("nat_tot"))
        .withColumn(
            "share_bp",
            F.expr(
                "(10000 * nat_tot) div (sum(nat_tot) OVER (PARTITION BY region))"
            ),
        )
        .select("region", "nation", "share_bp")
    )
    return (
        nat_fc.join(F.broadcast(reg_fc), "region")
        .join(shares, ["region", "nation"])
        .select(
            "region",
            "nation",
            "fc_direct",
            F.expr("(fc_region_bu * share_bp) div 10000").alias("fc_topdown"),
            F.expr("fc_direct - (fc_region_bu * share_bp) div 10000").alias(
                "coherence_gap_cents"
            ),
            F.col("share_bp").cast("long").alias("share_bp"),
        )
        .orderBy("region", "nation")
    )


# q470: skew advisor dials — target parallelism and reported top keys
_SKEW_P = 32
_SKEW_TOPK = 10


@query(
    "q470_skew_salting_advisor",
    oracle=f"""
    WITH keyed AS (
      SELECT o_custkey AS k, count(*)::BIGINT AS c FROM orders GROUP BY 1
    ),
    tot AS (
      SELECT sum(c)::BIGINT AS t,
             (sum(c) + {_SKEW_P} - 1) // {_SKEW_P} AS ideal
      FROM keyed
    )
    SELECT k.k AS key, k.c AS n_rows,
           ((10000 * k.c) // t.t)::BIGINT AS share_bp,
           ((k.c + t.ideal - 1) // t.ideal)::BIGINT AS salt_factor,
           CASE WHEN k.c > t.ideal THEN 1 ELSE 0 END::BIGINT AS needs_salt
    FROM keyed k CROSS JOIN tot t
    ORDER BY k.c DESC, k.k
    LIMIT {_SKEW_TOPK}
    """,
    tags=("warehouse", "advisor", "skew", "salting"),
)
def skew_salting_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-salting advisor: from the join/agg key histogram
    (orders.o_custkey), compare each hot key's row count against the
    ideal per-partition load (⌈N/{p}⌉ for {p}-way parallelism) and
    recommend a per-key salt factor ⌈count/ideal⌉ — the compile-time
    input q129's salted join and AQE's skew thresholds consume. Top
    {k} keys reported.

    Determinism: counts, shares (bp) and salt factors are pure integer
    ceil-div arithmetic; ordering ties break by key.

    Scale: one codegen hash-agg to the key histogram (map-side
    combinable); the 1-row total broadcasts; top-k is
    TakeOrderedAndProject. This is metadata-scale work that PREVENTS
    the row-scale pathology it measures.""".format(p=_SKEW_P, k=_SKEW_TOPK)
    keyed = (
        table(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("k"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tot = keyed.agg(
        F.sum("c").alias("t"),
        F.expr(f"(sum(c) + {_SKEW_P} - 1) div {_SKEW_P}").alias("ideal"),
    )
    return (
        keyed.crossJoin(F.broadcast(tot))
        .select(
            F.col("k").alias("key"),
            F.col("c").alias("n_rows"),
            F.expr("(10000 * c) div t").alias("share_bp"),
            F.expr("(c + ideal - 1) div ideal").alias("salt_factor"),
            F.expr("CASE WHEN c > ideal THEN 1 ELSE 0 END")
            .cast("long")
            .alias("needs_salt"),
        )
        .orderBy(F.desc("n_rows"), "key")
        .limit(_SKEW_TOPK)
    )


# ---- q483: materialized-view rollup rewrite audit --------------------------


@query(
    "q483_mv_rewrite_audit",
    oracle="""
    WITH mv AS (
      -- the daily summary table a warehouse maintains incrementally
      SELECT o_orderpriority, date_trunc('day', o_orderdate) AS day,
             sum(CAST(round(o_totalprice * 100) AS BIGINT))::BIGINT AS cents,
             count(*)::BIGINT AS cnt
      FROM orders GROUP BY 1, 2
    ),
    from_mv AS (
      SELECT o_orderpriority, date_trunc('month', day) AS month,
             sum(cents)::BIGINT AS cents_mv, sum(cnt)::BIGINT AS n_mv,
             count(*)::BIGINT AS mv_rows_read
      FROM mv GROUP BY 1, 2
    ),
    from_base AS (
      SELECT o_orderpriority, date_trunc('month', o_orderdate) AS month,
             sum(CAST(round(o_totalprice * 100) AS BIGINT))::BIGINT AS cents_base,
             count(*)::BIGINT AS n_base
      FROM orders GROUP BY 1, 2
    )
    SELECT b.o_orderpriority, b.month, b.cents_base, b.n_base,
           m.cents_mv, m.n_mv, m.mv_rows_read,
           (m.cents_mv // m.n_mv)::BIGINT AS avg_cents_via_mv,
           CASE WHEN b.cents_base = m.cents_mv AND b.n_base = m.n_mv
                THEN 1 ELSE 0 END AS rewrite_ok
    FROM from_base b JOIN from_mv m
      ON m.o_orderpriority = b.o_orderpriority AND m.month = b.month
    ORDER BY b.o_orderpriority, b.month
    """,
    tags=("warehouse", "materialized-view", "rewrite", "rollup"),
)
def mv_rewrite_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-view rollup-rewrite audit — the correctness check
    behind every summary-table rewrite an optimizer (or a human) makes:
    a monthly query answered from the DAILY MV must equal the answer
    from the base table, because SUM and COUNT re-aggregate
    associatively and AVG must be DERIVED as sum/count (averaging the
    daily averages would be wrong — this query publishes the correct
    derivation). Emits both answers side by side, the per-group match
    flag, and mv_rows_read — the evidence for the rewrite's payoff (the
    MV path reads |days|x|priorities| rows, not the fact table).

    Determinism: cents are exact integers; both aggregation paths are
    integer sums/counts; the derived average is one truncating integer
    division. The match flag is computed in-query, so a driver hash
    certifies the associativity equivalence itself.

    Scale posture (100 TB): the base-path agg is one map-side-combined
    hash-agg; the MV path re-aggregates a grid that is already
    dimension-sized; the audit join keys on (priority, month) — grid
    vs grid. In production only the MV leg runs; the base leg exists
    here because the audit IS the operator."""
    cents = "CAST(round(o_totalprice * 100) AS BIGINT)"
    orders = table(spark, sf_dir, "orders")
    mv = orders.groupBy(
        "o_orderpriority", F.date_trunc("day", "o_orderdate").alias("day")
    ).agg(
        F.sum(F.expr(cents)).cast("bigint").alias("cents"),
        F.count(F.lit(1)).cast("bigint").alias("cnt"),
    )
    from_mv = mv.groupBy(
        "o_orderpriority", F.date_trunc("month", "day").alias("month")
    ).agg(
        F.sum("cents").cast("bigint").alias("cents_mv"),
        F.sum("cnt").cast("bigint").alias("n_mv"),
        F.count(F.lit(1)).cast("bigint").alias("mv_rows_read"),
    )
    from_base = orders.groupBy(
        "o_orderpriority", F.date_trunc("month", "o_orderdate").alias("month")
    ).agg(
        F.sum(F.expr(cents)).cast("bigint").alias("cents_base"),
        F.count(F.lit(1)).cast("bigint").alias("n_base"),
    )
    return (
        from_base.join(from_mv, ["o_orderpriority", "month"])
        .select(
            "o_orderpriority",
            "month",
            "cents_base",
            "n_base",
            "cents_mv",
            "n_mv",
            "mv_rows_read",
            F.expr("cents_mv div n_mv").cast("bigint").alias("avg_cents_via_mv"),
            F.expr(
                "CASE WHEN cents_base = cents_mv AND n_base = n_mv THEN 1 ELSE 0 END"
            ).alias("rewrite_ok"),
        )
        .orderBy("o_orderpriority", "month")
    )


# ---- q485: clustering-depth layout audit ----------------------------------
_CD_FILES = 16


@query(
    "q485_clustering_depth_audit",
    oracle=f"""
    WITH days AS (
      SELECT DISTINCT date_trunc('day', o_orderdate) AS day FROM orders
    ),
    range_map AS (
      SELECT day, ntile({_CD_FILES}) OVER (ORDER BY day) AS file_id FROM days
    ),
    files AS (
      SELECT 'hash' AS layout, (o_orderkey % {_CD_FILES})::BIGINT AS file_id,
             min(date_trunc('day', o_orderdate)) AS min_day,
             max(date_trunc('day', o_orderdate)) AS max_day
      FROM orders GROUP BY 2
      UNION ALL
      SELECT 'range', r.file_id::BIGINT,
             min(date_trunc('day', o.o_orderdate)), max(date_trunc('day', o.o_orderdate))
      FROM orders o
      JOIN range_map r ON r.day = date_trunc('day', o.o_orderdate)
      GROUP BY r.file_id
    ),
    bounds AS (
      SELECT layout, min_day AS b, 1 AS delta FROM files
      UNION ALL
      SELECT layout, max_day + INTERVAL 1 DAY, -1 FROM files
    ),
    depth AS (
      SELECT layout, b,
             sum(sum(delta)) OVER (PARTITION BY layout ORDER BY b)::BIGINT AS d
      FROM bounds GROUP BY layout, b
    )
    SELECT f.layout,
           count(*)::BIGINT AS n_files,
           (SELECT max(d) FROM depth WHERE depth.layout = f.layout)::BIGINT
             AS max_overlap_depth,
           (SELECT (sum(d) // count(*))::BIGINT FROM depth
             WHERE depth.layout = f.layout AND d > 0) AS mean_overlap_depth,
           sum(date_diff('day', f.min_day, f.max_day) + 1)::BIGINT
             AS total_span_days
    FROM files f GROUP BY f.layout ORDER BY f.layout
    """,
    tags=("warehouse", "layout", "clustering-depth", "advisor"),
)
def clustering_depth_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clustering-depth audit — the table-layout metric behind every
    OPTIMIZE/Z-ORDER decision (Iceberg/Delta report it as file overlap):
    for a candidate sort key (order date), how many files' [min, max]
    key ranges overlap at the worst point? A hash layout scatters every
    day across all 16 files (depth = 16: every file must be read for any
    date predicate); a range-clustered layout keeps depth ~1 (zone maps
    prune to one file). This evaluates BOTH layouts logically — per-file
    min/max from the grouping that WOULD produce each file — and sweeps
    the boundaries (q320's sweep-line) to report max and mean overlap
    depth, the direct predictor of q268/q359's skip rates.

    Determinism: file ranges are exact date min/max from integer
    grouping; the range layout's file assignment is ntile over the
    DISTINCT-day grid with a total order; depth is an integer cumulative
    sum over boundary deltas; means are truncating integer divisions.

    Scale posture (100 TB): two hash-aggs over the fact (one per
    layout) to |files|-row tables; the day grid is bounded; the
    sweep-line and depth windows run over 2x2x|files| boundary rows. A
    real table would read file stats from the manifest instead of
    scanning — the metric algebra is identical."""
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", F.date_trunc("day", "o_orderdate").alias("day")
    )
    days = orders.select("day").distinct()
    range_map = days.select(
        "day", F.ntile(_CD_FILES).over(W.orderBy("day")).alias("file_id")
    )
    hash_files = orders.groupBy(
        (F.col("o_orderkey") % _CD_FILES).cast("bigint").alias("file_id")
    ).agg(F.min("day").alias("min_day"), F.max("day").alias("max_day")).select(
        F.lit("hash").alias("layout"), "file_id", "min_day", "max_day"
    )
    range_files = (
        orders.join(F.broadcast(range_map), "day")
        .groupBy(F.col("file_id").cast("bigint").alias("file_id"))
        .agg(F.min("day").alias("min_day"), F.max("day").alias("max_day"))
        .select(F.lit("range").alias("layout"), "file_id", "min_day", "max_day")
    )
    # files is 2·|files| = 32 rows yet feeds every downstream branch —
    # unmaterialized, each reference re-derived BOTH layout aggregates from
    # fresh orders scans (30-scan / 52-Exchange plan); materialize the bounded
    # table once (guide §1.2). The open/close boundary pair is emitted
    # row-locally (explode of a 2-struct array) instead of a two-branch
    # union (union branches don't CSE — the q198 lesson), and the two
    # depth statistics share one conditional aggregate (the q411 pattern;
    # max(d) is attained where d > 0, so one filtered-agg pass is exact).
    files = materialize(hash_files.unionByName(range_files))
    bounds = files.select(
        "layout",
        F.explode(
            F.array(
                F.struct(F.col("min_day").alias("b"), F.lit(1).alias("delta")),
                F.struct(
                    F.expr("max_day + INTERVAL 1 DAY").alias("b"),
                    F.lit(-1).alias("delta"),
                ),
            )
        ).alias("bd"),
    ).select("layout", "bd.b", "bd.delta")
    depth = (
        bounds.groupBy("layout", "b")
        .agg(F.sum("delta").alias("dd"))
        .select(
            "layout",
            "b",
            F.sum("dd").over(W.partitionBy("layout").orderBy("b")).cast("bigint").alias("d"),
        )
    )
    depth_stats = depth.groupBy("layout").agg(
        F.max("d").alias("max_overlap_depth"),
        F.expr("sum(CASE WHEN d > 0 THEN d END) div count(CASE WHEN d > 0 THEN d END)")
        .cast("bigint")
        .alias("mean_overlap_depth"),
    )
    return (
        files.groupBy("layout")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_files"),
            F.sum(F.expr("datediff(max_day, min_day) + 1"))
            .cast("bigint")
            .alias("total_span_days"),
        )
        .join(depth_stats, "layout")
        .select(
            "layout",
            "n_files",
            F.col("max_overlap_depth").cast("bigint").alias("max_overlap_depth"),
            "mean_overlap_depth",
            "total_span_days",
        )
        .orderBy("layout")
    )
