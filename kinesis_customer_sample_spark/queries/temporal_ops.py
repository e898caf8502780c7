"""Temporal-direction operators — the tenth wave (SURVEY.md §2B):
FORWARD as-of join (the mirror q13's backward form leaves uncovered) and
session-scoped conversion rates (the session-local twin of q132's global
funnel).

Scale posture (100 TB):
- q189 is the same O(n+m) union+window shape as q13/q177 — one shuffle on
  the user key, a linear pass per key carrying ONE candidate struct —
  never a per-fact subquery against the quote/event table. Forward vs
  backward is only the frame direction (currentRow→following with
  first(ignorenulls) instead of preceding→currentRow with last).
- q190 reuses q108's gaps-and-islands sessionization (one user shuffle),
  then reduces each session to two integers (first click µs, first
  qualifying purchase µs) inside the same aggregation — conversion is a
  per-session boolean, the rollup is |users| rows, and nothing outlives
  its session, so state is bounded by session length exactly like the
  streaming twin's watermark bound.
No Python UDFs; all whole-stage-codegen'd SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from kinesis_customer_sample_spark.catalog import table
from kinesis_customer_sample_spark.registry import query
from kinesis_customer_sample_spark.scope import materialize


@query(
    "q189_asof_forward_join",
    oracle="""
    SELECT p.event_id, p.user_id, p.ts,
           c.event_id AS next_view_event_id,
           c.ts       AS next_view_ts,
           ((epoch_us(c.ts) - epoch_us(p.ts)) // 1000000)::BIGINT AS wait_s
    FROM events p
    LEFT JOIN LATERAL (
      SELECT event_id, ts FROM events c
      WHERE c.user_id = p.user_id AND c.event_type = 'view'
        AND c.ts >= p.ts
      ORDER BY ts ASC, event_id ASC LIMIT 1
    ) c ON TRUE
    WHERE p.event_type = 'purchase'
    """,
    tags=("relational", "join", "asof", "forward"),
)
def asof_forward_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join: for each purchase, the user's NEXT view at or
    after it (NULL when none follows) — post-purchase behavior, the
    direction q13's backward as-of cannot express. Same O(n+m)
    union+window engine shape, frame flipped: views and purchases
    interleave in (ts, kind, event_id) order with views sorting after
    purchases at equal ts (so a same-microsecond view counts), and each
    purchase takes `first(view, ignorenulls)` over
    [currentRow, unboundedFollowing]. One shuffle on user_id; the oracle
    is the per-purchase LATERAL (quadratic, sf0.01-affordable). Wait
    seconds via integer epoch-µs arithmetic (q177's contract)."""
    ev = table(spark, sf_dir, "events")
    tagged = ev.filter(F.col("event_type").isin("view", "purchase")).select(
        "event_id",
        "user_id",
        "ts",
        F.when(F.col("event_type") == "purchase", F.lit(0)).otherwise(1).alias("kind"),
        F.when(
            F.col("event_type") == "view", F.struct("ts", "event_id")
        ).alias("view"),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "kind", "event_id")
        .rowsBetween(W.currentRow, W.unboundedFollowing)
    )
    carried = tagged.withColumn("next_view", F.first("view", ignorenulls=True).over(w))
    return carried.filter(F.col("kind") == 0).select(
        "event_id",
        "user_id",
        "ts",
        F.col("next_view.event_id").alias("next_view_event_id"),
        F.col("next_view.ts").alias("next_view_ts"),
        F.expr(
            "(unix_micros(CAST(next_view.ts AS TIMESTAMP)) "
            "- unix_micros(CAST(ts AS TIMESTAMP))) div 1000000"
        )
        .cast("long")
        .alias("wait_s"),
    )


@query(
    "q190_session_conversion",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT user_id, ts, event_id, event_type,
             sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS sid
      FROM flagged
    ),
    per_session AS (
      SELECT user_id, sid,
             min(epoch_us(ts)) FILTER (event_type = 'click')    AS first_click_us,
             min(epoch_us(ts)) FILTER (event_type = 'purchase') AS first_purchase_us,
             count(*)::BIGINT                                   AS n_events
      FROM sess GROUP BY user_id, sid
    )
    SELECT user_id,
           count(*)::BIGINT AS n_sessions,
           count(*) FILTER (first_click_us IS NOT NULL
                            AND first_purchase_us > first_click_us)::BIGINT
             AS n_converted,
           (count(*) FILTER (first_click_us IS NOT NULL
                             AND first_purchase_us > first_click_us)
            * 10000 // count(*))::BIGINT AS conversion_bp
    FROM per_session
    GROUP BY user_id
    """,
    tags=("analytics", "session", "conversion", "composite"),
)
def session_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-scoped conversion: a session CONVERTS when a purchase
    strictly follows the session's first click — q108's gaps-and-islands
    sessionization reduced to two integers per session (first click µs,
    first purchase µs) in one aggregation, then a per-user rollup with
    integer basis points. The session-local twin of q132's global funnel:
    conversion must happen within the same 30-minute-gap session, not
    anywhere in history. Two shuffles total (user window, user rollup),
    both on the same key — Catalyst reuses the partitioning."""
    ev = table(spark, sf_dir, "events")
    wseq = W.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = ev.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        # µs-exact gap test: an epoch-SECONDS cast would truncate a
        # 1800.5 s gap to 1800 and disagree with the oracle's INTERVAL
        # comparison at the boundary
        F.when(
            F.lag("ts").over(wseq).isNull()
            | (
                F.expr("unix_micros(CAST(ts AS TIMESTAMP))")
                - F.expr("unix_micros(CAST(lag(ts) OVER "
                         "(PARTITION BY user_id ORDER BY ts, event_id) "
                         "AS TIMESTAMP))")
                > 30 * 60 * 1_000_000
            ),
            1,
        )
        .otherwise(0)
        .alias("new_sess"),
    )
    sess = flagged.withColumn(
        "sid",
        F.sum("new_sess").over(wseq.rowsBetween(W.unboundedPreceding, W.currentRow)),
    )
    us = "unix_micros(CAST(ts AS TIMESTAMP))"
    per_session = sess.groupBy("user_id", "sid").agg(
        F.min(F.when(F.col("event_type") == "click", F.expr(us))).alias(
            "first_click_us"
        ),
        F.min(F.when(F.col("event_type") == "purchase", F.expr(us))).alias(
            "first_purchase_us"
        ),
        F.count(F.lit(1)).alias("n_events"),
    )
    converted = F.col("first_click_us").isNotNull() & (
        F.col("first_purchase_us") > F.col("first_click_us")
    )
    return per_session.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.count(F.when(converted, 1)).alias("n_converted"),
        F.expr(
            "count(CASE WHEN first_click_us IS NOT NULL "
            "AND first_purchase_us > first_click_us THEN 1 END) * 10000 "
            "div count(1)"
        )
        .cast("long")
        .alias("conversion_bp"),
    )


@query(
    "q191_hll_sketch_merge",
    # rows-only: DuckDB's approx_count_distinct is a different HLL
    # implementation with different estimates; the binary sketch itself is
    # engine-native. Exactness of the MERGE (not the estimate) is asserted
    # by tests/test_properties.py::test_hll_merge_is_split_invariant.
    tags=("sketch", "hll", "approx", "mergeable"),
)
def hll_sketch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable distinct-count sketches (Apache DataSketches HLL, Spark
    3.5+): per-source token sketches built independently, unioned into a
    corpus-wide estimate — the two-level aggregation a 1000-executor
    fleet runs, where each partition sketches locally and only fixed-size
    registers cross the wire. Output: per-source estimate + exact
    distinct + error basis points, plus one ALL row whose estimate comes
    from UNIONING the per-source sketches (never re-scanning). HLL
    registers are max-merged, so the union is associative, commutative,
    and split-invariant — estimate(union(parts)) is bit-equal to
    estimate(whole), the property the merge test pins."""
    from kinesis_customer_sample_spark.queries.text_analysis import (
        _docs_with_tokens,
    )

    tok = _docs_with_tokens(spark, sf_dir).select(
        "source", F.explode("toks").alias("tok")
    )
    per_source = tok.groupBy("source").agg(
        F.expr("hll_sketch_agg(tok)").alias("sk"),
        F.countDistinct("tok").alias("exact_distinct"),
    )
    src_rows = per_source.select(
        "source",
        F.expr("hll_sketch_estimate(sk)").cast("long").alias("est_distinct"),
        "exact_distinct",
    )
    all_row = per_source.agg(
        F.lit("ALL").alias("source"),
        F.expr("hll_sketch_estimate(hll_union_agg(sk))")
        .cast("long")
        .alias("est_distinct"),
        F.lit(None).cast("long").alias("exact_distinct"),
    )
    return src_rows.unionByName(all_row).select(
        "source",
        "est_distinct",
        "exact_distinct",
        F.when(
            F.col("exact_distinct").isNotNull(),
            F.expr(
                "abs(est_distinct - exact_distinct) * 10000 div exact_distinct"
            ),
        )
        .cast("long")
        .alias("err_bp"),
    )


@query(
    "q194_distribution_drift",
    oracle="""
    WITH binned AS (
      SELECT CAST(ts AS DATE) AS day,
             least(floor(value / 50)::BIGINT, 9) AS bin
      FROM events
    ),
    shares AS (
      SELECT day, bin,
             (count(*) * 10000 // sum(count(*)) OVER (PARTITION BY day))::BIGINT
               AS share_bp
      FROM binned GROUP BY day, bin
    ),
    paired AS (
      SELECT coalesce(cur.day, prev.day + INTERVAL 1 DAY)::DATE AS day,
             coalesce(cur.share_bp, 0)  AS cur_bp,
             coalesce(prev.share_bp, 0) AS prev_bp
      FROM shares cur
      FULL JOIN shares prev
        ON cur.bin = prev.bin AND cur.day = prev.day + INTERVAL 1 DAY
      WHERE coalesce(cur.day, prev.day + INTERVAL 1 DAY)::DATE
              > (SELECT min(day) FROM binned)
        AND coalesce(cur.day, prev.day + INTERVAL 1 DAY)::DATE
              <= (SELECT max(day) FROM binned)
    )
    SELECT day,
           sum(abs(cur_bp - prev_bp))::BIGINT AS l1_bp,
           (sum(abs(cur_bp - prev_bp)) > 500) AS drifted
    FROM paired GROUP BY day
    """,
    tags=("mlops", "drift", "distribution", "monitoring"),
)
def distribution_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-over-day distribution-drift detection on the event value
    stream: values histogrammed into 10 fixed bins per day, per-day
    shares in integer basis points, consecutive days compared by L1
    distance — the feature-drift monitor that gates ML retraining and
    flags upstream schema/unit breakages. The full join catches bins
    that exist on only one of the two days (share 0 on the other);
    boundary days outside [min+1, max] are excluded on BOTH sides. All
    integer arithmetic after the binning floor — no float shares to
    drift across engines. Scale: two hash aggs keyed (day, bin) — a few
    hundred cells per day regardless of event volume — and the pair
    join is cell-count sized, so the monitor costs ONE scan plus
    negligible shuffles at any scale. The one-scan claim is structural:
    the cell-count-sized shares table is materialized (q69's
    signature-table discipline) because the plan references it three
    times (cur leg, prev leg, bounds), and without the barrier each
    reference re-derives the whole fact subtree — the round-15 scan
    census measured exactly that, three events scans against this
    docstring; `test_q194_single_fact_scan` pins one."""
    ev = table(spark, sf_dir, "events")
    binned = ev.select(
        F.col("ts").cast("date").alias("day"),
        F.expr("least(CAST(floor(value / 50) AS BIGINT), CAST(9 AS BIGINT))").alias(
            "bin"
        ),
    )
    shares = materialize(
        binned.groupBy("day", "bin")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "day",
            "bin",
            F.expr("n * 10000 div sum(n) OVER (PARTITION BY day)")
            .cast("long")
            .alias("share_bp"),
        )
    )
    # bounds from the (materialized, cell-count-sized) aggregate — the day set
    # with ≥1 event is identical pre- and post-aggregation
    bounds = shares.agg(
        F.min("day").alias("min_day"), F.max("day").alias("max_day")
    )
    cur = shares.alias("cur")
    prev = shares.select(
        F.date_add("day", 1).alias("day"), "bin", F.col("share_bp").alias("prev_bp")
    ).alias("prev")
    paired = (
        cur.join(
            prev,
            (F.col("cur.bin") == F.col("prev.bin"))
            & (F.col("cur.day") == F.col("prev.day")),
            "full",
        )
        .select(
            F.coalesce(F.col("cur.day"), F.col("prev.day")).alias("day"),
            F.coalesce(F.col("cur.share_bp"), F.lit(0)).alias("cur_bp"),
            F.coalesce(F.col("prev.prev_bp"), F.lit(0)).alias("prev_bp"),
        )
        .crossJoin(F.broadcast(bounds))
        .filter((F.col("day") > F.col("min_day")) & (F.col("day") <= F.col("max_day")))
    )
    return paired.groupBy("day").agg(
        F.sum(F.abs(F.col("cur_bp") - F.col("prev_bp"))).cast("long").alias("l1_bp"),
        (F.sum(F.abs(F.col("cur_bp") - F.col("prev_bp"))) > 500).alias("drifted"),
    )


_SPINE_LO, _SPINE_HI = "2024-01-01", "2024-01-30"


@query(
    "q269_date_spine_densify",
    oracle=f"""
    WITH spine AS (
      SELECT unnest(generate_series(DATE '{_SPINE_LO}', DATE '{_SPINE_HI}',
                                    INTERVAL 1 DAY))::DATE AS day
    ),
    users AS (SELECT DISTINCT user_id FROM events),
    daily AS (
      SELECT user_id, ts::DATE AS day, count(*)::BIGINT AS n,
             sum(CAST(round(value * 100) AS BIGINT))::BIGINT AS value_cents
      FROM events GROUP BY 1, 2
    )
    SELECT u.user_id, s.day,
           coalesce(d.n, 0)::BIGINT AS n_events,
           coalesce(d.value_cents, 0)::BIGINT AS value_cents,
           (d.n IS NULL) AS is_gap
    FROM spine s CROSS JOIN users u
    LEFT JOIN daily d ON d.user_id = u.user_id AND d.day = s.day
    """,
    tags=("temporal", "date-spine", "densify"),
)
def date_spine_densify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-spine densification: manufacture the complete (user × day)
    grid for the observation window and left-join the daily activity onto
    it, zero-filling the silent days — the densify step every retention /
    LTV / forecasting job needs before window math, and the complement of
    q126's LOCF (which fills values BETWEEN observations; this
    materializes the missing rows themselves). The spine is generated
    (sequence + explode, ~30 rows) and broadcast against the distinct-key
    dimension; the activity rollup arrives pre-aggregated at (user, day)
    grain so the left join fans out nothing. At 100 TB the grid is
    |keys|·|days| rows — the operator's honest cost — and the join
    shuffles only the daily rollup, never raw events."""
    ev = table(spark, sf_dir, "events")
    spine = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit(_SPINE_LO).cast("date"),
                F.lit(_SPINE_HI).cast("date"),
                F.expr("INTERVAL 1 DAY"),
            )
        ).alias("day")
    )
    users = ev.select("user_id").distinct()
    daily = ev.groupBy(
        "user_id", F.col("ts").cast("date").alias("day")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.round(F.col("value") * 100).cast("bigint"))
        .cast("bigint")
        .alias("value_cents"),
    )
    grid = users.crossJoin(F.broadcast(spine))
    return grid.join(daily, ["user_id", "day"], "left").select(
        "user_id",
        "day",
        F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("n_events"),
        F.coalesce(F.col("value_cents"), F.lit(0)).cast("bigint").alias("value_cents"),
        F.col("n").isNull().alias("is_gap"),
    )


_BT_REPORT = "2024-01-20"  # transaction-time cutoff: "as the system knew then"


@query(
    "q275_bitemporal_asof",
    oracle=f"""
    WITH dim AS (
      SELECT user_id, ts AS valid_from,
             ts + INTERVAL 2 DAY AS tx_from,
             CAST(round(value * 100) AS BIGINT) AS attr_cents
      FROM events WHERE event_type = 'signup'
    ),
    known AS (SELECT * FROM dim WHERE tx_from <= TIMESTAMP '{_BT_REPORT}'),
    tagged AS (
      SELECT user_id, valid_from AS ts, 0 AS is_fact, attr_cents,
             NULL::BIGINT AS event_id
      FROM known
      UNION ALL
      SELECT user_id, ts, 1 AS is_fact, NULL::BIGINT AS attr_cents, event_id
      FROM events WHERE event_type = 'purchase'
    ),
    carried AS (
      SELECT user_id, ts, is_fact, event_id,
             last_value(attr_cents IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, is_fact, event_id NULLS FIRST
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS profile_cents
      FROM tagged
    )
    SELECT user_id,
           count(*)::BIGINT AS n_purchases,
           sum(CASE WHEN profile_cents IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
             AS n_known_profile,
           coalesce(sum(profile_cents), 0)::BIGINT AS sum_profile_cents
    FROM carried WHERE is_fact = 1
    GROUP BY user_id
    """,
    tags=("temporal", "bitemporal", "asof", "scd"),
)
def bitemporal_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BITEMPORAL as-of reconstruction — two independent time axes, the
    warehouse capability beyond q188's single-axis SCD2 PIT join: VALID
    time (when the profile fact was true: its signup timestamp) and
    TRANSACTION time (when the warehouse learned it: recorded 2 days
    late). The query answers 'for each purchase, which profile version
    was valid AT PURCHASE TIME, as the system knew it ON THE Jan-20
    report date' — the reproducibility contract that lets yesterday's
    regulatory report be regenerated bit-for-bit after backfills land.
    Transaction-time filters the version set (a pushed scan predicate);
    valid-time resolves via the O(n+m) union-and-carry as-of form (q13's
    operator: tag dim and fact rows, one key-partitioned window carries
    the latest earlier profile forward — dim sorts before a same-instant
    fact). No per-row point lookups; at 100 TB it is one shuffle on
    user_id."""
    ev = table(spark, sf_dir, "events")
    known = (
        ev.filter(F.col("event_type") == "signup")
        .select(
            "user_id",
            F.col("ts").alias("vts"),
            (F.col("ts") + F.expr("INTERVAL 2 DAY")).alias("tx_from"),
            F.round(F.col("value") * 100).cast("bigint").alias("attr_cents"),
        )
        .filter(F.col("tx_from") <= F.lit(_BT_REPORT).cast("timestamp_ntz"))
    )
    tagged = known.select(
        "user_id",
        F.col("vts").alias("ts"),
        F.lit(0).alias("is_fact"),
        "attr_cents",
        F.lit(None).cast("bigint").alias("event_id"),
    ).unionByName(
        ev.filter(F.col("event_type") == "purchase").select(
            "user_id",
            "ts",
            F.lit(1).alias("is_fact"),
            F.lit(None).cast("bigint").alias("attr_cents"),
            "event_id",
        )
    )
    w = (
        W.partitionBy("user_id")
        .orderBy(F.col("ts"), F.col("is_fact"), F.col("event_id").asc_nulls_first())
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    carried = tagged.withColumn(
        "profile_cents", F.last("attr_cents", ignorenulls=True).over(w)
    )
    return (
        carried.filter(F.col("is_fact") == 1)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_purchases"),
            F.sum(F.when(F.col("profile_cents").isNotNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_known_profile"),
            F.coalesce(F.sum("profile_cents"), F.lit(0))
            .cast("bigint")
            .alias("sum_profile_cents"),
        )
    )


_EMD_BINS = 20
_EMD_BIN_W = 5


@query(
    "q327_emd_drift",
    oracle=f"""
    WITH binned AS (
      SELECT CAST(ts AS DATE) AS day,
             least(floor(value / {_EMD_BIN_W})::BIGINT, {_EMD_BINS - 1}) AS bin
      FROM events
    ),
    counts AS (
      SELECT day, bin, count(*)::BIGINT AS c FROM binned GROUP BY day, bin
    ),
    grid AS (
      SELECT d.day, b.bin, coalesce(c.c, 0)::BIGINT AS c
      FROM (SELECT DISTINCT day FROM binned) d
      CROSS JOIN range({_EMD_BINS}) b(bin)
      LEFT JOIN counts c USING (day, bin)
    ),
    shares AS (
      SELECT day, bin,
             (c * 10000 // sum(c) OVER (PARTITION BY day))::BIGINT AS share_bp
      FROM grid
    ),
    cdf AS (
      SELECT day, bin,
             sum(share_bp) OVER (PARTITION BY day ORDER BY bin
                                 ROWS UNBOUNDED PRECEDING)::BIGINT AS cdf_bp
      FROM shares
    ),
    lagged AS (
      SELECT day, bin, cdf_bp,
             lag(cdf_bp) OVER (PARTITION BY bin ORDER BY day) AS prev_cdf
      FROM cdf
    )
    SELECT day, sum(abs(cdf_bp - prev_cdf))::BIGINT AS emd_bp
    FROM lagged
    WHERE prev_cdf IS NOT NULL
    GROUP BY day
    """,
    tags=("drift", "emd", "wasserstein", "monitoring"),
)
def emd_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-over-day 1-D earth-mover's (Wasserstein-1) distance between
    value distributions — the drift metric that, unlike q194's per-bin
    share deltas, weighs HOW FAR mass moved (a shift of one bin costs
    1/20th of a shift across the histogram; bin-share L1 charges both
    the same). On an equal-width grid EMD₁ = Σ_bins |CDF_a − CDF_b|,
    so the whole metric is integer: per-day bin shares in basis points
    (truncating division, q194's convention), cumulative over the
    DENSE 20-bin grid (distinct-days × range cross join — missing bins
    must contribute zeros or CDFs misalign), then one lag over days per
    bin. Emits one drift score per day vs its predecessor.

    Scale posture (100 TB): one binned count agg (map-side partial,
    day×20 keys), a bounded dense grid (calendar × 20), and windows
    over day or bin — every data-scaled operation is the first
    aggregation; everything after runs on the grid."""
    binned = table(spark, sf_dir, "events").select(
        F.to_date("ts").alias("day"),
        F.least(
            F.floor(F.col("value") / _EMD_BIN_W).cast("long"),
            F.lit(_EMD_BINS - 1),
        ).alias("bin"),
    )
    counts = binned.groupBy("day", "bin").agg(F.count(F.lit(1)).cast("long").alias("c"))
    days = binned.select("day").distinct()
    bins = spark.range(_EMD_BINS).select(F.col("id").alias("bin"))
    grid = (
        days.crossJoin(F.broadcast(bins))
        .join(counts, ["day", "bin"], "left")
        .select("day", "bin", F.coalesce("c", F.lit(0)).cast("long").alias("c"))
    )
    w_day = W.partitionBy("day")
    shares = grid.withColumn(
        "share_bp",
        F.expr("CAST(c * 10000 AS BIGINT) div sum(c) OVER (PARTITION BY day)"),
    )
    cdf = shares.withColumn(
        "cdf_bp",
        F.sum("share_bp")
        .over(w_day.orderBy("bin").rowsBetween(W.unboundedPreceding, 0))
        .cast("long"),
    )
    lagged = cdf.withColumn(
        "prev_cdf", F.lag("cdf_bp").over(W.partitionBy("bin").orderBy("day"))
    )
    return (
        lagged.filter(F.col("prev_cdf").isNotNull())
        .groupBy("day")
        .agg(F.sum(F.abs(F.col("cdf_bp") - F.col("prev_cdf"))).cast("long").alias("emd_bp"))
    )


_PDM_TRAIL = 7  # trailing window (days) for the profile baseline
_PDM_DRIFT_BP = 2000  # flag a day deviating > 20% from its trailing mean


@query(
    "q354_partition_profile_drift",
    oracle=f"""
    WITH per_day AS (
      SELECT event_type, date_trunc('day', ts) AS day,
             count(*)::BIGINT AS n,
             sum(json_extract(props, '$.k')::INT)::BIGINT AS k_sum
      FROM events GROUP BY 1, 2
    ),
    trailed AS (
      SELECT event_type, day, n, k_sum,
             (k_sum * 1000 // n)::BIGINT AS mean_milli,
             sum(k_sum) OVER w AS t_sum,
             sum(n) OVER w AS t_n
      FROM per_day
      WINDOW w AS (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN {_PDM_TRAIL} PRECEDING AND 1 PRECEDING)
    )
    SELECT event_type, day, n, mean_milli,
           (t_sum * 1000 // t_n)::BIGINT AS trail_milli,
           (abs(mean_milli - t_sum * 1000 // t_n) * 10000
              // (t_sum * 1000 // t_n))::BIGINT AS dev_bp,
           (abs(mean_milli - t_sum * 1000 // t_n) * 10000
              // (t_sum * 1000 // t_n)) > {_PDM_DRIFT_BP} AS drifted
    FROM trailed WHERE t_n IS NOT NULL
    """,
    tags=("monitoring", "data-quality", "drift", "profile"),
)
def partition_profile_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-level profile drift monitor — the data-quality check a
    warehouse runs on every newly landed day-partition: per (event type,
    day), the mean of the JSON payload field `props.k` against its own
    trailing-7-day baseline, deviation in integer basis points, flagged
    over 20 %. This is the DAY-GRAIN complement to q194's
    distribution-level drift: q194 compares histogram shapes between two
    eras; this watches each partition land and points at the exact day
    and slice that broke (schema-on-read payload stats are where silent
    upstream changes surface first).

    Scale posture (100 TB): per-day cells come from ONE hash agg
    (map-side combined) with JSON extraction fused into the scan; the
    trailing window runs over the calendar-bounded (type × day) grid —
    never over rows. Sums not averages ride the window, so the baseline
    is the exact pooled trailing mean in integer milli-units."""
    ev = table(spark, sf_dir, "events").select(
        "event_type",
        F.date_trunc("day", "ts").alias("day"),
        F.get_json_object("props", "$.k").cast("int").alias("k"),
    )
    per_day = ev.groupBy("event_type", "day").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("k").cast("bigint").alias("k_sum"),
    )
    w = (
        W.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-_PDM_TRAIL, -1)
    )
    trailed = per_day.select(
        "event_type",
        "day",
        "n",
        F.expr("k_sum * 1000 div n").cast("bigint").alias("mean_milli"),
        F.sum("k_sum").over(w).alias("t_sum"),
        F.sum("n").over(w).alias("t_n"),
    )
    trail_milli = F.expr("t_sum * 1000 div t_n")
    dev_bp = F.expr(
        "abs(mean_milli - t_sum * 1000 div t_n) * 10000 div (t_sum * 1000 div t_n)"
    )
    return trailed.filter(F.col("t_n").isNotNull()).select(
        "event_type",
        F.col("day").cast("timestamp_ntz").alias("day"),
        "n",
        "mean_milli",
        trail_milli.cast("bigint").alias("trail_milli"),
        dev_bp.cast("bigint").alias("dev_bp"),
        (dev_bp > _PDM_DRIFT_BP).alias("drifted"),
    )


# as-of tolerance: matches older than this are rejected (pandas
# merge_asof(tolerance=...) semantics)
_ASOF_TOL_HOURS = 24


@query(
    "q398_asof_tolerance_join",
    oracle=f"""
    WITH ev AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
    ),
    best AS (
      SELECT e.event_id, e.user_id, e.ts,
             max(o.o_orderdate) AS match_ts
      FROM ev e LEFT JOIN orders o
        ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
      GROUP BY 1, 2, 3
    ),
    tol AS (
      SELECT event_id, user_id,
             CASE WHEN match_ts IS NOT NULL
                   AND match_ts >= ts - INTERVAL {_ASOF_TOL_HOURS} HOUR
                  THEN match_ts END AS match_ts
      FROM best
    )
    SELECT user_id,
           count(*)::BIGINT                                   AS n_events,
           count(match_ts)::BIGINT                            AS n_matched,
           count(*) FILTER (match_ts IS NULL)::BIGINT         AS n_stale_or_none
    FROM tol GROUP BY 1
    """,
    tags=("temporal", "asof", "tolerance", "join"),
)
def asof_tolerance_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join WITH TOLERANCE — pandas `merge_asof(tolerance=...)`
    semantics, completing the as-of family (backward q13, forward q189):
    each purchase takes the latest order at-or-before it, but a match
    older than {_ASOF_TOL_HOURS} h is REJECTED to null — stale context
    is worse than none (the feature-freshness rule every point-in-time
    feature store enforces). The tolerance must be applied AFTER the
    argmax, not as a join predicate — pre-filtering would promote an
    even staler second-best row into a false match.

    Scale posture (100 TB): the backward-match is the q13 shape (range
    join + max aggregation on the event key, one shuffle each side);
    the tolerance test is a stateless post-projection. At production the
    same plan runs bucketed on user/custkey (q163)."""
    ev = (
        table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select("event_id", "user_id", "ts")
    )
    o = table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("user_id"), "o_orderdate"
    )
    best = (
        ev.join(
            o,
            (ev.user_id == o.user_id) & (F.col("o_orderdate") <= F.col("ts")),
            "left",
        )
        .drop(o.user_id)
        .groupBy("event_id", "user_id", "ts")
        .agg(F.max("o_orderdate").alias("match_ts"))
    )
    tol = best.select(
        "event_id",
        "user_id",
        F.when(
            F.col("match_ts").isNotNull()
            & (
                F.col("match_ts")
                >= F.col("ts") - F.expr(f"INTERVAL {_ASOF_TOL_HOURS} HOURS")
            ),
            F.col("match_ts"),
        ).alias("match_ts"),
    )
    return tol.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count("match_ts").alias("n_matched"),
        F.count(F.when(F.col("match_ts").isNull(), 1)).alias("n_stale_or_none"),
    )


# q433 (round 7): cohort LTV accumulation curve — the revenue companion
# of q131's retention matrix (retention counts WHO came back; LTV
# accumulates WHAT they spent, per signup cohort per week of age).
@query(
    "q433_cohort_ltv_curve",
    oracle="""
    WITH firstseen AS (
      SELECT user_id,
             CAST(date_trunc('week', min(ts)) AS DATE) AS cohort_week
      FROM events GROUP BY 1
    ),
    cohort_size AS (
      SELECT cohort_week, count(*)::BIGINT AS n_users
      FROM firstseen GROUP BY 1
    ),
    rev AS (
      SELECT f.cohort_week,
             (date_diff('day', f.cohort_week,
                        CAST(date_trunc('week', e.ts) AS DATE)) // 7)::BIGINT
               AS age_week,
             sum(CAST(round(e.value * 100) AS BIGINT))::BIGINT AS rev_c
      FROM events e
      JOIN firstseen f ON f.user_id = e.user_id
      WHERE e.event_type = 'purchase'
      GROUP BY 1, 2
    ),
    cum AS (
      SELECT cohort_week, age_week, rev_c,
             sum(rev_c) OVER (PARTITION BY cohort_week ORDER BY age_week)
               ::BIGINT AS cum_rev_c
      FROM rev
    )
    SELECT c.cohort_week, c.age_week, s.n_users, c.rev_c, c.cum_rev_c,
           (c.cum_rev_c // s.n_users)::BIGINT AS ltv_per_user_c
    FROM cum c JOIN cohort_size s USING (cohort_week)
    ORDER BY cohort_week, age_week
    """,
    tags=("cohort", "ltv", "revenue", "temporal"),
)
def cohort_ltv_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort LTV accumulation: users cohort by first-seen ISO week,
    purchase revenue lands in (cohort, age-week) cells, and the running
    cumulative per cohort divided by cohort size is the
    lifetime-value-per-user curve — the payback chart every growth team
    reads (cohort rows, age columns, money cells; q131 is the same grid
    with retention counts). Integer cents end-to-end; the only division
    is the final floor per grid cell.

    Scale posture: one first-seen agg (map-side combined), one
    (cohort × age) revenue agg, and a cumulative window PARTITIONED BY
    COHORT over the calendar-bounded age grid — never a row-scale
    window. The cohort-size join is grid-vs-grid."""
    ev = table(spark, sf_dir, "events")
    firstseen = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).cast("date").alias("cohort_week")
    )
    cohort_size = firstseen.groupBy("cohort_week").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users")
    )
    rev = (
        ev.filter(F.col("event_type") == "purchase")
        .join(firstseen, "user_id")
        .groupBy(
            "cohort_week",
            F.expr(
                "CAST(datediff(CAST(date_trunc('week', ts) AS DATE), cohort_week)"
                " div 7 AS BIGINT)"
            ).alias("age_week"),
        )
        .agg(F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("rev_c"))
    )
    cum = rev.withColumn(
        "cum_rev_c",
        F.sum("rev_c")
        .over(W.partitionBy("cohort_week").orderBy("age_week"))
        .cast("bigint"),
    )
    return (
        cum.join(F.broadcast(cohort_size), "cohort_week")
        .select(
            "cohort_week",
            "age_week",
            "n_users",
            F.col("rev_c").cast("bigint").alias("rev_c"),
            "cum_rev_c",
            F.expr("cum_rev_c div n_users").cast("bigint").alias("ltv_per_user_c"),
        )
        .orderBy("cohort_week", "age_week")
    )
