"""Multi-touch attribution and statistical-independence QA — round-3 wave
(SURVEY.md §2B): linear (fractional-credit) attribution complementing
q177's last-touch, a chi-square independence screen over the
(event_type × day-of-week) contingency table, and robust MAD outlier
fences complementing q128's IQR.

Scale posture (100 TB):
- q229: the purchase×click pairing is q177's interval join — equi on
  user_id with the 7-day range as residual, so pairs exist only within a
  user's lookback. Credit splitting is one window per purchase (bounded
  by clicks-per-user-week); the rollup is a day-grain hash-agg. Credit
  is integer basis points with the floor remainder assigned to the
  LATEST qualifying click, so Σcredit per purchase is EXACTLY 10000 and
  the corpus total is exactly 10000·|attributed purchases| — an
  auditable conservation law, tested.
- q230: the contingency table is |types|·7 cells after one hash-agg;
  marginals come from windows over those cells (cell-count-sized state).
  Expected counts and contributions use doubles only in the final
  projection (one division each), identical FP sequence both engines.
- q231: two exact percentile aggregations (median, then median of
  absolute deviations) joined on the group key — the nested-median shape
  that makes MAD more robust than IQR; both aggs are |groups| rows out.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from kinesis_customer_sample_spark.catalog import table
from kinesis_customer_sample_spark.registry import query
from kinesis_customer_sample_spark.scope import materialize

_LOOKBACK_DAYS = 7


@query(
    "q229_linear_attribution",
    oracle=f"""
    WITH purchases AS (
      SELECT event_id AS p_id, user_id, ts AS p_ts FROM events
      WHERE event_type = 'purchase'
    ),
    clicks AS (
      SELECT event_id AS c_id, user_id, ts AS c_ts FROM events
      WHERE event_type = 'click'
    ),
    paired AS (
      SELECT p.p_id, c.c_id, c.c_ts,
             count(*) OVER (PARTITION BY p.p_id) AS k,
             row_number() OVER (PARTITION BY p.p_id
                                ORDER BY c.c_ts DESC, c.c_id DESC) AS rn
      FROM purchases p
      JOIN clicks c
        ON c.user_id = p.user_id
       AND c.c_ts <= p.p_ts
       AND c.c_ts >= p.p_ts - INTERVAL {_LOOKBACK_DAYS} DAY
    ),
    credited AS (
      SELECT c_id, c_ts,
             (10000 // k) + CASE WHEN rn = 1 THEN 10000 % k ELSE 0 END AS credit_bp
      FROM paired
    )
    SELECT c_ts::DATE AS click_day,
           count(*)::BIGINT AS n_credited_clicks,
           sum(credit_bp)::BIGINT AS credit_bp
    FROM credited
    GROUP BY 1
    """,
    tags=("attribution", "analytics", "interval-join"),
)
def linear_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LINEAR multi-touch attribution: every click in the 7 days before a
    purchase shares that purchase's credit equally — integer basis points
    with the floor remainder going to the latest click, so each
    purchase's credit sums to exactly 10000 (conservation tested in
    test_round3_ops). Rolled up to click-day grain. Same interval-join
    skeleton as q177's last-touch; the difference is one window that
    counts and ranks the qualifying clicks instead of keeping only the
    newest."""
    ev = table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"), "user_id", F.col("ts").alias("p_ts")
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("c_id"),
        F.col("user_id").alias("c_user_id"),
        F.col("ts").alias("c_ts"),
    )
    paired = p.join(
        c,
        (F.col("c_user_id") == F.col("user_id"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr(f"INTERVAL {_LOOKBACK_DAYS} DAYS")),
    )
    wk = W.partitionBy("p_id")
    wr = W.partitionBy("p_id").orderBy(F.desc("c_ts"), F.desc("c_id"))
    credited = paired.select(
        "c_id",
        "c_ts",
        F.count(F.lit(1)).over(wk).alias("k"),
        F.row_number().over(wr).alias("rn"),
    ).select(
        "c_id",
        "c_ts",
        (
            F.expr("10000 div k")
            + F.when(F.col("rn") == 1, F.expr("10000 % k")).otherwise(F.lit(0))
        ).alias("credit_bp"),
    )
    return credited.groupBy(F.col("c_ts").cast("date").alias("click_day")).agg(
        F.count(F.lit(1)).alias("n_credited_clicks"),
        F.sum("credit_bp").cast("bigint").alias("credit_bp"),
    )


@query(
    "q230_chisq_independence",
    oracle="""
    WITH cells AS (
      SELECT event_type, date_part('dow', ts)::BIGINT AS dow,
             count(*)::BIGINT AS o
      FROM events GROUP BY 1, 2
    ),
    m AS (
      SELECT event_type, dow, o,
             sum(o) OVER (PARTITION BY event_type) AS rt,
             sum(o) OVER (PARTITION BY dow) AS ct,
             sum(o) OVER () AS total
      FROM cells
    )
    SELECT event_type, dow, o,
           round(CAST(rt * ct AS DOUBLE) / total, 4) AS expected,
           round((o - CAST(rt * ct AS DOUBLE) / total)
                 * (o - CAST(rt * ct AS DOUBLE) / total)
                 / (CAST(rt * ct AS DOUBLE) / total), 6) AS chi2_contrib
    FROM m
    """,
    tags=("profiling", "statistics", "independence"),
)
def chisq_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence screen for the (event_type × day-of-week)
    contingency table: observed cell counts vs the marginal-product
    expectation, with each cell's chi-square contribution — the QA check
    for "does event mix drift by weekday". All counts are exact integers;
    the expectation divides once into double (identical sequence both
    engines). Marginals are windows over the 35-cell table, so every
    post-agg operator is cell-count-sized. Day-of-week aligned Sunday=0
    (Spark dayofweek−1 == DuckDB dow)."""
    ev = table(spark, sf_dir, "events")
    cells = ev.groupBy(
        "event_type",
        (F.dayofweek("ts") - 1).cast("long").alias("dow"),
    ).agg(F.count(F.lit(1)).alias("o"))
    m = cells.select(
        "event_type",
        "dow",
        "o",
        F.sum("o").over(W.partitionBy("event_type")).alias("rt"),
        F.sum("o").over(W.partitionBy("dow")).alias("ct"),
        F.sum("o").over(W.partitionBy()).alias("total"),
    )
    e = F.expr("CAST(rt * ct AS DOUBLE) / total")
    return m.select(
        "event_type",
        "dow",
        "o",
        F.round(e, 4).alias("expected"),
        F.round((F.col("o") - e) * (F.col("o") - e) / e, 6).alias("chi2_contrib"),
    )


@query(
    "q231_mad_robust_outliers",
    oracle="""
    WITH med AS (
      SELECT event_type,
             percentile_cont(0.5) WITHIN GROUP (ORDER BY value) AS m
      FROM events GROUP BY 1
    ),
    dev AS (
      SELECT e.event_type, m,
             percentile_cont(0.5) WITHIN GROUP (ORDER BY abs(e.value - m)) AS mad,
             count(*)::BIGINT AS n
      FROM events e JOIN med USING (event_type)
      GROUP BY e.event_type, m
    )
    SELECT event_type, n,
           round(m, 4)   AS median_value,
           round(mad, 4) AS mad,
           round(m - 3 * 1.4826 * mad, 4) AS lo_fence,
           round(m + 3 * 1.4826 * mad, 4) AS hi_fence
    FROM dev
    """,
    tags=("profiling", "statistics", "robust"),
)
def mad_robust_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median-absolute-deviation outlier fences per event_type — the
    robust (breakdown-point 50%) alternative to q128's IQR fences, built
    from the NESTED median shape: exact median per group, broadcast back,
    exact median of absolute deviations, ±3·1.4826·MAD fences (the
    normal-consistency constant). Two percentile aggregations and one
    broadcast join; output is |groups| rows."""
    ev = table(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(F.expr("percentile(value, 0.5)").alias("m"))
    dev = (
        ev.join(F.broadcast(med), "event_type")
        .groupBy("event_type", "m")
        .agg(
            F.expr("percentile(abs(value - m), 0.5)").alias("mad"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    return dev.select(
        "event_type",
        "n",
        F.round("m", 4).alias("median_value"),
        F.round("mad", 4).alias("mad"),
        F.round(F.col("m") - 3 * 1.4826 * F.col("mad"), 4).alias("lo_fence"),
        F.round(F.col("m") + 3 * 1.4826 * F.col("mad"), 4).alias("hi_fence"),
    )


@query(
    "q237_weighted_median",
    oracle="""
    WITH pts AS (
      SELECT l_returnflag AS flag,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS price_cents,
             sum(CAST(l_quantity AS BIGINT))::BIGINT AS w
      FROM lineitem GROUP BY 1, 2
    ),
    cum AS (
      SELECT flag, price_cents, w,
             sum(w) OVER (PARTITION BY flag ORDER BY price_cents) AS cw,
             sum(w) OVER (PARTITION BY flag) AS tw
      FROM pts
    )
    SELECT flag,
           min(price_cents)::BIGINT AS weighted_median_cents,
           min(tw)::BIGINT          AS total_weight
    FROM cum
    WHERE 2 * cw >= tw
    GROUP BY flag
    """,
    tags=("profiling", "statistics", "weighted"),
)
def weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted median price per return flag — the order
    statistic where each row counts `l_quantity` times (lower weighted
    median: smallest price whose cumulative weight reaches half the
    total). Weights aggregate per DISTINCT price first, so the cumulative
    window runs over distinct values and tie order can never move the
    answer — exact integers end to end. One shuffle for the (flag, price)
    agg; the window rides the same flag partitioning."""
    li = table(spark, sf_dir, "lineitem")
    pts = li.groupBy(
        F.col("l_returnflag").alias("flag"),
        F.expr("CAST(round(l_extendedprice * 100) AS BIGINT)").alias("price_cents"),
    ).agg(F.sum(F.col("l_quantity").cast("bigint")).alias("w"))
    wc = W.partitionBy("flag").orderBy("price_cents")
    cum = pts.select(
        "flag",
        "price_cents",
        F.sum("w").over(wc.rowsBetween(W.unboundedPreceding, 0)).alias("cw"),
        F.sum("w").over(W.partitionBy("flag")).alias("tw"),
    )
    return (
        cum.filter(2 * F.col("cw") >= F.col("tw"))
        .groupBy("flag")
        .agg(
            F.min("price_cents").alias("weighted_median_cents"),
            F.min("tw").alias("total_weight"),
        )
    )


@query(
    "q238_trimmed_mean",
    oracle="""
    WITH ranked AS (
      SELECT l_returnflag AS flag,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
             row_number() OVER (PARTITION BY l_returnflag
                                ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS rn,
             count(*) OVER (PARTITION BY l_returnflag) AS n
      FROM lineitem
    )
    SELECT flag,
           count(*)::BIGINT AS n_kept,
           round(CAST(sum(cents) AS DOUBLE) / count(*), 4) AS trimmed_mean_cents
    FROM ranked
    WHERE rn > n // 10 AND rn <= n - n // 10
    GROUP BY flag
    """,
    tags=("profiling", "statistics", "robust"),
)
def trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10% trimmed mean price per return flag: drop the lowest and highest
    decile BY DETERMINISTIC RANK (price, then the lineitem PK as
    tiebreak — boundary ties cannot float between runs or engines), then
    average the integer-cents middle exactly (int64 sum, one division).
    The robust-location companion to q231's MAD spread; per-group
    partitioned windows, no global sort."""
    li = table(spark, sf_dir, "lineitem")
    wr = W.partitionBy("l_returnflag").orderBy(
        "l_extendedprice", "l_orderkey", "l_linenumber"
    )
    ranked = li.select(
        F.col("l_returnflag").alias("flag"),
        F.expr("CAST(round(l_extendedprice * 100) AS BIGINT)").alias("cents"),
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(W.partitionBy("l_returnflag")).alias("n"),
    )
    return (
        ranked.filter(
            (F.col("rn") > F.expr("n div 10")) & (F.col("rn") <= F.col("n") - F.expr("n div 10"))
        )
        .groupBy("flag")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.round(
                F.sum("cents").cast("double") / F.count(F.lit(1)), 4
            ).alias("trimmed_mean_cents"),
        )
    )


@query(
    "q249_wilson_intervals",
    oracle="""
    WITH daily AS (
      SELECT ts::DATE AS day,
             count(*) FILTER (WHERE event_type = 'purchase')::BIGINT AS x,
             count(*) FILTER (WHERE event_type IN ('view', 'purchase'))::BIGINT AS n
      FROM events GROUP BY 1
    )
    SELECT day, x, n,
           round((x + 1.9208) / (n + 3.8416)
                 - 1.96 * sqrt((x * (n - x)) / CAST(n AS DOUBLE) + 0.9604)
                   / (n + 3.8416), 6) AS wilson_lo,
           round((x + 1.9208) / (n + 3.8416)
                 + 1.96 * sqrt((x * (n - x)) / CAST(n AS DOUBLE) + 0.9604)
                   / (n + 3.8416), 6) AS wilson_hi
    FROM daily WHERE n > 0
    """,
    tags=("statistics", "confidence", "rates"),
)
def wilson_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """95% Wilson score interval for the daily purchase-per-exposure rate —
    the binomial confidence bound that behaves at small n and rates near
    0/1, where the naive normal interval fails. Inputs are exact integer
    counts; the interval uses one sqrt (IEEE-correctly-rounded, hence
    engine-identical) and a fixed arithmetic sequence, so the bounds
    hash-match at 6 digits. One day-grain hash-agg; the formula is a
    map-only projection over |days| rows."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("bigint")
        .alias("x"),
        F.sum(F.when(F.col("event_type").isin("view", "purchase"), 1).otherwise(0))
        .cast("bigint")
        .alias("n"),
    )
    centre = (F.col("x") + 1.9208) / (F.col("n") + 3.8416)
    half = (
        1.96
        * F.sqrt(
            (F.col("x") * (F.col("n") - F.col("x"))) / F.col("n").cast("double")
            + 0.9604
        )
        / (F.col("n") + 3.8416)
    )
    return daily.filter(F.col("n") > 0).select(
        "day",
        "x",
        "n",
        F.round(centre - half, 6).alias("wilson_lo"),
        F.round(centre + half, 6).alias("wilson_hi"),
    )


_EB_ALPHA, _EB_BETA = 8, 152  # Beta prior ≈ the corpus-wide purchase rate


@query(
    "q250_eb_smoothed_rates",
    oracle=f"""
    WITH per_user AS (
      SELECT user_id,
             count(*) FILTER (WHERE event_type = 'purchase')::BIGINT AS x,
             count(*)::BIGINT AS n
      FROM events GROUP BY 1
    )
    SELECT user_id, x, n,
           (x * 10000 // n)::BIGINT AS raw_rate_bp,
           ((x + {_EB_ALPHA}) * 10000 // (n + {_EB_ALPHA} + {_EB_BETA}))::BIGINT
             AS smoothed_rate_bp
    FROM per_user
    """,
    tags=("statistics", "smoothing", "rates"),
)
def eb_smoothed_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical-Bayes smoothed per-user purchase rates: a Beta(8, 152)
    prior (≈ the corpus-wide rate) shrinks small-sample user rates toward
    the prior mean — the ranking-by-rate fix for the
    winner-is-a-user-with-2-events pathology. Pure integer rational
    arithmetic (basis points by cross-multiplied floor division); one
    hash-agg, map-only projection after."""
    ev = table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("bigint")
        .alias("x"),
        F.count(F.lit(1)).alias("n"),
    )
    return per_user.select(
        "user_id",
        "x",
        "n",
        F.expr("CAST(x * 10000 div n AS BIGINT)").alias("raw_rate_bp"),
        F.expr(
            f"CAST((x + {_EB_ALPHA}) * 10000 div (n + {_EB_ALPHA} + {_EB_BETA}) AS BIGINT)"
        ).alias("smoothed_rate_bp"),
    )


# diff-in-diff dials: deterministic treatment assignment + period split
_DID_SPLIT = "2024-01-16"


@query(
    "q395_diff_in_diff",
    oracle=f"""
    WITH panel AS (
      SELECT (user_id % 2 = 1) AS treated,
             (ts >= TIMESTAMP '{_DID_SPLIT} 00:00:00') AS post,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events
    ),
    cells AS (
      SELECT treated, post,
             count(*)::BIGINT AS n,
             (sum(cents) // count(*))::BIGINT AS mean_c
      FROM panel GROUP BY 1, 2
    ),
    wide AS (
      SELECT
        max(CASE WHEN treated AND post THEN mean_c END)         AS tp,
        max(CASE WHEN treated AND NOT post THEN mean_c END)     AS tpre,
        max(CASE WHEN NOT treated AND post THEN mean_c END)     AS cp,
        max(CASE WHEN NOT treated AND NOT post THEN mean_c END) AS cpre,
        max(CASE WHEN treated AND post THEN n END)              AS n_tp,
        max(CASE WHEN treated AND NOT post THEN n END)          AS n_tpre,
        max(CASE WHEN NOT treated AND post THEN n END)          AS n_cp,
        max(CASE WHEN NOT treated AND NOT post THEN n END)      AS n_cpre
      FROM cells
    )
    SELECT tp::BIGINT AS treat_post_c, tpre::BIGINT AS treat_pre_c,
           cp::BIGINT AS ctrl_post_c, cpre::BIGINT AS ctrl_pre_c,
           (n_tp + n_tpre + n_cp + n_cpre)::BIGINT AS n_total,
           ((tp - tpre) - (cp - cpre))::BIGINT AS did_cents
    FROM wide
    """,
    tags=("stats", "causal", "diff-in-diff", "experiment"),
)
def diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences — the workhorse causal estimator when
    randomization isn't available: (treated post − treated pre) −
    (control post − control pre) cancels both the group-level baseline
    difference and the common time trend, leaving the treatment effect
    under parallel trends. Assignment is a deterministic user-id parity
    (the q260 hash-assignment discipline), the four panel cells are one
    hash agg, and the estimate is exact integer cents.

    Scale posture (100 TB): one scan → 4-row cell grid → 1-row pivot;
    nothing after the first agg touches row-scale data. The per-cell n's
    ride along for the analyst's variance check."""
    panel = table(spark, sf_dir, "events").select(
        (F.col("user_id") % 2 == 1).alias("treated"),
        (F.col("ts") >= F.lit(f"{_DID_SPLIT} 00:00:00")).alias("post"),
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    cells = panel.groupBy("treated", "post").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("sum(cents) div count(1)").alias("mean_c"),
    )
    wide = cells.agg(
        F.max(F.when(F.col("treated") & F.col("post"), F.col("mean_c"))).alias("tp"),
        F.max(F.when(F.col("treated") & ~F.col("post"), F.col("mean_c"))).alias("tpre"),
        F.max(F.when(~F.col("treated") & F.col("post"), F.col("mean_c"))).alias("cp"),
        F.max(F.when(~F.col("treated") & ~F.col("post"), F.col("mean_c"))).alias("cpre"),
        F.sum("n").alias("n_total"),
    )
    return wide.select(
        F.col("tp").cast("bigint").alias("treat_post_c"),
        F.col("tpre").cast("bigint").alias("treat_pre_c"),
        F.col("cp").cast("bigint").alias("ctrl_post_c"),
        F.col("cpre").cast("bigint").alias("ctrl_pre_c"),
        F.col("n_total").cast("bigint"),
        ((F.col("tp") - F.col("tpre")) - (F.col("cp") - F.col("cpre")))
        .cast("bigint")
        .alias("did_cents"),
    )


# median-of-means dials: bucket count per group (odd, so the median is a
# single exact rank)
_MOM_BUCKETS = 9
_MOM_MIX = 2_654_435_761
_MOM_P = 1_000_000_007


@query(
    "q403_median_of_means",
    oracle=f"""
    WITH obs AS (
      SELECT event_type,
             ((event_id * {_MOM_MIX}) % {_MOM_P}) % {_MOM_BUCKETS} AS b,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events
    ),
    bucket_means AS (
      SELECT event_type, b,
             (sum(cents) // count(*))::BIGINT AS mean_c,
             count(*)::BIGINT AS n_b
      FROM obs GROUP BY 1, 2
    ),
    ranked AS (
      SELECT event_type, mean_c, n_b,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY mean_c, b) AS rn
      FROM bucket_means
    )
    SELECT r.event_type,
           min(t.plain_mean_c)::BIGINT AS plain_mean_c,
           min(r.mean_c)::BIGINT       AS mom_c,
           min(t.n)::BIGINT            AS n
    FROM ranked r
    JOIN (SELECT event_type, (sum(cents) // count(*))::BIGINT AS plain_mean_c,
                 count(*)::BIGINT AS n
          FROM obs GROUP BY 1) t USING (event_type)
    WHERE r.rn = ({_MOM_BUCKETS} + 1) / 2
    GROUP BY 1
    """,
    tags=("stats", "robust", "median-of-means", "estimator"),
)
def median_of_means(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median-of-means — the robust mean estimator with exponential
    concentration under heavy tails (the streaming/adversarial-data
    standard): rows hash deterministically into {_MOM_BUCKETS} buckets
    per group, each bucket's exact integer mean is computed, and the
    estimate is the exact middle bucket-mean (odd bucket count → a
    single rank, no interpolation). The plain mean rides along — their
    gap is the heavy-tail signal.

    Scale posture (100 TB): one hash agg to groups×{_MOM_BUCKETS}
    bucket rows, a window over that bounded grid, done. This is the
    estimator the q211/q380 sketch family uses when a mean (not a
    quantile) must survive outliers."""
    obs = table(spark, sf_dir, "events").select(
        "event_type",
        (((F.col("event_id") * _MOM_MIX) % _MOM_P) % _MOM_BUCKETS).alias("b"),
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    bucket_means = obs.groupBy("event_type", "b").agg(
        F.expr("sum(cents) div count(1)").alias("mean_c"),
        F.count(F.lit(1)).alias("n_b"),
    )
    ranked = bucket_means.withColumn(
        "rn",
        F.row_number().over(W.partitionBy("event_type").orderBy("mean_c", "b")),
    )
    totals = obs.groupBy("event_type").agg(
        F.expr("sum(cents) div count(1)").cast("bigint").alias("plain_mean_c"),
        F.count(F.lit(1)).alias("n"),
    )
    return (
        ranked.filter(F.col("rn") == (_MOM_BUCKETS + 1) // 2)
        .join(totals, "event_type")
        .groupBy("event_type")
        .agg(
            F.min("plain_mean_c").cast("bigint").alias("plain_mean_c"),
            F.min("mean_c").cast("bigint").alias("mom_c"),
            F.min("n").cast("bigint").alias("n"),
        )
    )


# q428 (round 7): Markov removal-effect attribution — the data-driven
# multi-touch model (vs q177 last-touch / q229 linear position rules).
_MK_STEPS = 5          # bounded absorption horizon (oracle unrolls the same)
_MK_CONV = "purchase"  # absorbing conversion event
_MK_PPM = 1_000_000

# shared SQL: user-day paths truncated at first conversion, melted into
# START/channel/CONV/LOSS transitions (dialect-portable except div)
_MK_PATH_SQL = """
    ev AS (
      SELECT user_id, CAST(ts AS DATE) AS day, ts, event_id, event_type
      FROM events
    ),
    fp AS (
      SELECT user_id, day, min(ts) AS fts FROM ev
      WHERE event_type = '{conv}' GROUP BY user_id, day
    ),
    kept AS (
      SELECT e.user_id, e.day, e.ts, e.event_id, e.event_type,
             (fp.fts IS NOT NULL) AS converted
      FROM ev e LEFT JOIN fp ON fp.user_id = e.user_id AND fp.day = e.day
      WHERE e.event_type != '{conv}' AND (fp.fts IS NULL OR e.ts < fp.fts)
    ),
    seq AS (
      SELECT user_id, day, event_type, converted,
             lead(event_type) OVER (PARTITION BY user_id, day
                                    ORDER BY ts, event_id) AS nxt,
             row_number() OVER (PARTITION BY user_id, day
                                ORDER BY ts, event_id) AS rn
      FROM kept
    ),
    trans AS (
      SELECT event_type AS src,
             coalesce(nxt, CASE WHEN converted THEN 'CONV' ELSE 'LOSS' END) AS dst
      FROM seq
      UNION ALL
      SELECT 'START' AS src, event_type AS dst FROM seq WHERE rn = 1
      UNION ALL
      SELECT 'START' AS src, 'CONV' AS dst
      FROM fp LEFT JOIN (SELECT DISTINCT user_id, day FROM kept) k
        ON k.user_id = fp.user_id AND k.day = fp.day
      WHERE k.user_id IS NULL
    ),
    tcnt AS (SELECT src, dst, count(*) AS c FROM trans GROUP BY src, dst)
"""


@query(
    "q428_markov_removal_attribution",
    oracle=(
        "WITH "
        + _MK_PATH_SQL.format(conv=_MK_CONV)
        + f""",
    tprob AS (
      SELECT src, dst,
             (c * {_MK_PPM} // sum(c) OVER (PARTITION BY src))::BIGINT AS p
      FROM tcnt
    ),
    channels AS (
      SELECT DISTINCT src AS ch FROM tprob WHERE src NOT IN ('START')
    ),
    scen AS (SELECT 'FULL' AS scenario UNION ALL SELECT ch FROM channels),
    sedge0 AS (
      SELECT s.scenario, t.src,
             CASE WHEN t.dst = s.scenario THEN 'LOSS' ELSE t.dst END AS dst,
             t.p
      FROM scen s JOIN tprob t ON t.src != s.scenario
    ),
    sedge AS (
      SELECT scenario, src, dst, sum(p)::BIGINT AS p
      FROM sedge0 GROUP BY 1, 2, 3
      UNION ALL
      SELECT scenario, 'CONV', 'CONV', {_MK_PPM}::BIGINT FROM scen
    ),
    s0 AS (SELECT scenario, 'START' AS node, {_MK_PPM}::BIGINT AS mass FROM scen),
    s1 AS (SELECT e.scenario, e.dst AS node, sum(s.mass * e.p // {_MK_PPM})::BIGINT AS mass
           FROM s0 s JOIN sedge e ON e.scenario = s.scenario AND e.src = s.node
           GROUP BY 1, 2),
    s2 AS (SELECT e.scenario, e.dst AS node, sum(s.mass * e.p // {_MK_PPM})::BIGINT AS mass
           FROM s1 s JOIN sedge e ON e.scenario = s.scenario AND e.src = s.node
           GROUP BY 1, 2),
    s3 AS (SELECT e.scenario, e.dst AS node, sum(s.mass * e.p // {_MK_PPM})::BIGINT AS mass
           FROM s2 s JOIN sedge e ON e.scenario = s.scenario AND e.src = s.node
           GROUP BY 1, 2),
    s4 AS (SELECT e.scenario, e.dst AS node, sum(s.mass * e.p // {_MK_PPM})::BIGINT AS mass
           FROM s3 s JOIN sedge e ON e.scenario = s.scenario AND e.src = s.node
           GROUP BY 1, 2),
    s5 AS (SELECT e.scenario, e.dst AS node, sum(s.mass * e.p // {_MK_PPM})::BIGINT AS mass
           FROM s4 s JOIN sedge e ON e.scenario = s.scenario AND e.src = s.node
           GROUP BY 1, 2),
    conv AS (
      -- conditional agg, NOT a WHERE over the LEFT JOIN: filtering on
      -- node='CONV' OR node IS NULL would drop a scenario entirely when s5
      -- has rows for it but no CONV row (conversion unreachable within the
      -- walk), while the Spark side emits that channel with mass 0 (r7
      -- ADVICE — latent row-count divergence on degenerate data)
      SELECT scenario,
             coalesce(sum(CASE WHEN node = 'CONV' THEN mass END), 0)::BIGINT
               AS conv_ppm
      FROM scen LEFT JOIN s5 USING (scenario)
      GROUP BY scenario
    ),
    eff AS (
      SELECT c.ch AS channel,
             f.conv_ppm AS conv_full_ppm,
             w.conv_ppm AS conv_without_ppm,
             greatest(f.conv_ppm - w.conv_ppm, 0)::BIGINT AS removal_ppm
      FROM channels c
      JOIN conv f ON f.scenario = 'FULL'
      JOIN conv w ON w.scenario = c.ch
    )
    SELECT channel, conv_full_ppm, conv_without_ppm, removal_ppm,
           (removal_ppm * 10000 // (SELECT sum(removal_ppm) FROM eff))::BIGINT
             AS attribution_bp
    FROM eff ORDER BY channel
    """
    ),
    tags=("attribution", "markov", "removal-effect", "iterative"),
)
def markov_removal_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov removal-effect attribution — the data-driven multi-touch
    model: build the first-order channel transition graph from user-day
    paths (truncated at first conversion; START source, CONV/LOSS
    absorbers), then for each channel ask "how much conversion mass
    survives if this channel's inbound edges are redirected to LOSS?".
    Attribution share = normalized removal effect. Absorption runs as a
    BOUNDED {steps}-step integer mass walk in ppm (each step floors
    mass·p/10⁶ — the q159/q314 iterative-graph discipline), and ALL
    scenarios (FULL + one per channel) walk simultaneously as one
    scenario-keyed state table; the oracle unrolls the identical five
    steps in SQL, so the driver hash-match proves the distributed
    iteration equals the closed-form derivation.

    Scale posture: the heavy work is one pass over events into per-(user,
    day) sequences (partitioned lead/row_number windows), collapsing to a
    transition-count grid that is |channels|²-bounded; the walk iterates
    on a ≤ (channels+3)·scenarios-row state — driver-loop DataFrame
    algebra over broadcast-sized grids, rows never iterate.""".format(
        steps=_MK_STEPS
    )
    ev = table(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("day"), "ts", "event_id", "event_type"
    )
    fp = (
        ev.filter(F.col("event_type") == _MK_CONV)
        .groupBy("user_id", "day")
        .agg(F.min("ts").alias("fts"))
    )
    kept = (
        ev.join(fp, ["user_id", "day"], "left")
        .filter(
            (F.col("event_type") != _MK_CONV)
            & (F.col("fts").isNull() | (F.col("ts") < F.col("fts")))
        )
        .withColumn("converted", F.col("fts").isNotNull())
    )
    wseq = W.partitionBy("user_id", "day").orderBy("ts", "event_id")
    seq = kept.select(
        "user_id",
        "day",
        "event_type",
        "converted",
        F.lead("event_type").over(wseq).alias("nxt"),
        F.row_number().over(wseq).alias("rn"),
    )
    trans = (
        seq.select(
            F.col("event_type").alias("src"),
            F.coalesce(
                F.col("nxt"),
                F.when(F.col("converted"), F.lit("CONV")).otherwise(F.lit("LOSS")),
            ).alias("dst"),
        )
        .unionByName(
            seq.filter(F.col("rn") == 1).select(
                F.lit("START").alias("src"), F.col("event_type").alias("dst")
            )
        )
        .unionByName(
            fp.join(
                seq.select("user_id", "day").distinct(), ["user_id", "day"], "left_anti"
            ).select(F.lit("START").alias("src"), F.lit("CONV").alias("dst"))
        )
    )
    tcnt = trans.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("c"))
    wsrc = W.partitionBy("src")
    tprob = tcnt.select(
        "src",
        "dst",
        F.expr(f"c * {_MK_PPM}")
        .cast("bigint")
        .alias("cn"),
        F.sum("c").over(wsrc).alias("tot"),
    ).select(
        "src", "dst", F.expr("cn div tot").cast("bigint").alias("p")
    )
    # the barrier truncates the event-window lineage: scen/sedge/eff
    # each re-reference this grid several times, and without the barrier
    # every reference re-runs the whole path-extraction chain (measured
    # 89 s → ~3 s at sf0.01). ~|channels|² rows — driver-scale.
    tprob = materialize(tprob)
    channels = (
        tprob.filter(F.col("src") != "START").select(F.col("src").alias("ch")).distinct()
    )
    scen = F.broadcast(
        channels.select(F.col("ch").alias("scenario")).unionByName(
            spark.createDataFrame([("FULL",)], ["scenario"])
        )
    )
    sedge0 = scen.join(tprob, F.col("src") != F.col("scenario")).select(
        "scenario",
        "src",
        F.when(F.col("dst") == F.col("scenario"), F.lit("LOSS"))
        .otherwise(F.col("dst"))
        .alias("dst"),
        "p",
    )
    sedge = materialize(
        sedge0.groupBy("scenario", "src", "dst")
        .agg(F.sum("p").cast("bigint").alias("p"))
        .unionByName(
            scen.select(
                "scenario",
                F.lit("CONV").alias("src"),
                F.lit("CONV").alias("dst"),
                F.lit(_MK_PPM).cast("bigint").alias("p"),
            )
        )
    )
    state = scen.select(
        "scenario", F.lit("START").alias("node"), F.lit(_MK_PPM).cast("bigint").alias("mass")
    )
    for _ in range(_MK_STEPS):
        state = (
            state.alias("st")
            .join(
                sedge.alias("ed"),
                (F.col("ed.scenario") == F.col("st.scenario"))
                & (F.col("ed.src") == F.col("st.node")),
            )
            .groupBy(
                F.col("ed.scenario").alias("scenario"), F.col("ed.dst").alias("node")
            )
            .agg(
                F.sum(F.expr(f"st.mass * ed.p div {_MK_PPM}"))
                .cast("bigint")
                .alias("mass")
            )
        )
    conv = (
        scen.join(
            state.filter(F.col("node") == "CONV").select("scenario", "mass"),
            "scenario",
            "left",
        )
        .select(
            "scenario", F.coalesce(F.col("mass"), F.lit(0)).cast("bigint").alias("conv_ppm")
        )
    )
    eff = materialize(
        channels.join(
            conv.filter(F.col("scenario") == "FULL").select(
                F.col("conv_ppm").alias("conv_full_ppm")
            )
        )
        .join(
            conv.select(
                F.col("scenario").alias("ch"), F.col("conv_ppm").alias("conv_without_ppm")
            ),
            "ch",
        )
        .select(
            F.col("ch").alias("channel"),
            "conv_full_ppm",
            "conv_without_ppm",
            F.greatest(F.col("conv_full_ppm") - F.col("conv_without_ppm"), F.lit(0))
            .cast("bigint")
            .alias("removal_ppm"),
        )
    )
    totre = F.broadcast(eff.agg(F.sum("removal_ppm").alias("tot_re")))
    return (
        eff.crossJoin(totre)
        .select(
            "channel",
            "conv_full_ppm",
            "conv_without_ppm",
            "removal_ppm",
            F.expr("removal_ppm * 10000 div tot_re").cast("bigint").alias(
                "attribution_bp"
            ),
        )
        .orderBy("channel")
    )


# ---- q516: funnel with per-step Wilson intervals -------------------------------
# every operand widens to DOUBLE explicitly: a bare `x + 1.9208` is
# DECIMAL arithmetic in DuckDB (the q454/q493 literal trap)
_FW_WILSON_LO = (
    "CAST(floor(1000000.0 * ((CAST(x AS DOUBLE) + 1.9208) / (CAST(n AS DOUBLE) + 3.8416)"
    " - 1.96 * sqrt((x * (n - x)) / CAST(n AS DOUBLE) + 0.9604)"
    "   / (CAST(n AS DOUBLE) + 3.8416))) AS BIGINT)"
)
_FW_WILSON_HI = (
    "CAST(floor(1000000.0 * ((CAST(x AS DOUBLE) + 1.9208) / (CAST(n AS DOUBLE) + 3.8416)"
    " + 1.96 * sqrt((x * (n - x)) / CAST(n AS DOUBLE) + 0.9604)"
    "   / (CAST(n AS DOUBLE) + 3.8416))) AS BIGINT)"
)


@query(
    "q516_funnel_wilson",
    oracle=f"""
    WITH per_user AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'view' THEN ts END) AS t_v,
             min(CASE WHEN event_type = 'click' THEN ts END) AS t_c,
             min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_p
      FROM events GROUP BY user_id
    ),
    reach AS (
      SELECT count(*)::BIGINT AS n_users,
             sum(CASE WHEN t_v IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS s1,
             sum(CASE WHEN t_v IS NOT NULL AND t_c > t_v
                      THEN 1 ELSE 0 END)::BIGINT AS s2,
             sum(CASE WHEN t_v IS NOT NULL AND t_c > t_v AND t_p > t_c
                      THEN 1 ELSE 0 END)::BIGINT AS s3
      FROM per_user
    ),
    steps AS (
      SELECT 1 AS step, 'any -> view' AS transition, n_users AS n, s1 AS x
      FROM reach
      UNION ALL SELECT 2, 'view -> click', s1, s2 FROM reach
      UNION ALL SELECT 3, 'click -> purchase', s2, s3 FROM reach
    )
    SELECT step::BIGINT AS step, transition, n AS n_denom, x AS n_conv,
           (x * 10000 // n)::BIGINT AS rate_bp,
           {_FW_WILSON_LO} AS wilson_lo_mu,
           {_FW_WILSON_HI} AS wilson_hi_mu
    FROM steps ORDER BY step
    """,
    tags=("funnel", "wilson", "uncertainty", "composite"),
)
def funnel_wilson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel with per-step Wilson intervals — the uncertainty-aware
    funnel report: first-occurrence ordering (first view before first
    click before first purchase — the strict simplified funnel,
    documented; q132 matches arbitrary subsequences) gives per-step
    reach, and each step's conversion gets the 95% Wilson bound (q249's
    formula) — so a dashboard can say whether step-2's dip is signal or
    small-sample noise. Composite of the q132-family reach semantics
    and q249's interval, emitted as the single artifact PMs consume.

    Determinism: reach counts are exact integers from one hash-agg; the
    Wilson bounds use the shared floor(x*1e6) quantization (the r7
    round() hazard discipline) around one IEEE sqrt on exact integers.

    Scale posture (100 TB): ONE per-user hash-agg (map-side combined,
    three conditional mins), one 1-row reduction, a 3-row projection."""
    per_user = (
        table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.min(F.expr("CASE WHEN event_type = 'view' THEN ts END")).alias("t_v"),
            F.min(F.expr("CASE WHEN event_type = 'click' THEN ts END")).alias("t_c"),
            F.min(F.expr("CASE WHEN event_type = 'purchase' THEN ts END")).alias(
                "t_p"
            ),
        )
    )
    reach = per_user.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum(F.expr("CASE WHEN t_v IS NOT NULL THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("s1"),
        F.sum(F.expr("CASE WHEN t_v IS NOT NULL AND t_c > t_v THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("s2"),
        F.sum(
            F.expr(
                "CASE WHEN t_v IS NOT NULL AND t_c > t_v AND t_p > t_c THEN 1 ELSE 0 END"
            )
        )
        .cast("bigint")
        .alias("s3"),
    )
    steps = reach.select(
        F.expr(
            "stack(3, CAST(1 AS BIGINT), 'any -> view', n_users, s1,"
            " CAST(2 AS BIGINT), 'view -> click', s1, s2,"
            " CAST(3 AS BIGINT), 'click -> purchase', s2, s3)"
            " AS (step, transition, n, x)"
        )
    )
    return steps.select(
        "step",
        "transition",
        F.col("n").alias("n_denom"),
        F.col("x").alias("n_conv"),
        F.expr("x * 10000 div n").cast("bigint").alias("rate_bp"),
        F.expr(_FW_WILSON_LO).alias("wilson_lo_mu"),
        F.expr(_FW_WILSON_HI).alias("wilson_hi_mu"),
    ).orderBy("step")
