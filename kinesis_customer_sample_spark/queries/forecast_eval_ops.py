"""Forecast-evaluation & demand wave (round 7, SURVEY.md §2B): the five
time-series scorecard operators a forecasting platform layers on top of
its smoothers (q206/q297/q283) — MASE/sMAPE scale-free forecast scoring,
Croston's intermittent-demand method, the full ACF lag profile (q323's
lag-1 generalized to a lag grid), lead–lag cross-correlation scanning,
and maximum drawdown. No counterpart in the reference snapshot (its
pipeline stops at real-time counts, docs/user-guide.md:58-145); mandated
by the expanded §2B time-series surface.

Cross-engine determinism (registry parity rules, applied strictly):
- every series value is an exact integer (event counts / cents / demand
  units) aggregated in codegen; day/week positions are integer indexes
  from a fixed anchor (datediff div), never float epochs;
- MASE is the single rational (S_f·C_n)/(C_f·S_n) over four integer
  sums — one double division at the end, rounded in-query;
- sMAPE is summed in integer micro-units per term (2·|f−y|·10⁶ div
  (f+y)) so no float ever enters an aggregate;
- ACF / cross-correlation use the n·Σxy − Σx·Σy integer expansion;
  the only non-rational op is the final correctly-rounded IEEE sqrt;
- Croston's recursion is a fixed SEQUENCE of IEEE-double ops replayed
  by the oracle's recursive CTE (the q297 Holt discipline) — a hash
  match proves bit-exact state replication.

Scale posture (100 TB):
- the raw-table pass is always one codegen hash-agg to a (key, period)
  grid that is orders of magnitude smaller than the fact table; all
  window/join algebra happens on the grid;
- lag joins are integer equi-joins on (key, period+k) — shuffle-bounded
  by the grid, broadcastable lag dimensions;
- Croston's sequential recursion runs in the sorted-key fold
  (`operators/sorted_fold.py`: repartition by key + sortWithinPartitions
  + one mapInPandas pass): O(rows) Python, no per-group pandas tax,
  arbitrarily many keys;
- drawdown windows are partitioned per segment over the bounded day
  grid — never a `No Partition Defined` window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from kinesis_customer_sample_spark.catalog import table
from kinesis_customer_sample_spark.operators.sorted_fold import sorted_key_fold
from kinesis_customer_sample_spark.registry import query

# q440: seasonal-naive horizon (days) for the MASE numerator
_SEASON = 7
# q441: Croston smoothing constant and the demand brand under study
_CR_ALPHA = 0.2
_CR_BRAND = "Brand#1"
# q441/q444: Monday anchor for integer week indexes (1994-12-26 is a
# Monday preceding the orders epoch) and day anchor for order days
_WEEK_ANCHOR = "1994-12-26"
_DAY_ANCHOR = "1995-01-01"
# q442: ACF lag grid
_ACF_MAX_LAG = 7
# q443: symmetric lead/lag scan half-width
_XC_MAX_LAG = 3


def _daily_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, d, y): integer day index from the events epoch and the
    exact integer daily event count — the one full-data pass shared by
    q440/q442/q443; everything downstream is grid algebra."""
    return (
        table(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            F.datediff(F.date_trunc("day", "ts"), F.lit("2024-01-01")).alias("d"),
        )
        .agg(F.count(F.lit(1)).alias("y"))
    )


_DUCK_DAILY = """
    SELECT event_type,
           date_diff('day', DATE '2024-01-01', date_trunc('day', ts))::BIGINT AS d,
           count(*)::BIGINT AS y
    FROM events GROUP BY 1, 2
"""


@query(
    "q440_mase_smape_scorecard",
    oracle=f"""
    WITH daily AS ({_DUCK_DAILY}),
    naive AS (
      SELECT a.event_type,
             sum(abs(a.y - b.y))::BIGINT AS s_n, count(*)::BIGINT AS c_n
      FROM daily a JOIN daily b
        ON b.event_type = a.event_type AND b.d = a.d - 1
      GROUP BY 1
    ),
    seas AS (
      SELECT a.event_type,
             sum(abs(a.y - b.y))::BIGINT AS s_f, count(*)::BIGINT AS c_f,
             sum(CASE WHEN a.y + b.y = 0 THEN 0
                      ELSE (2000000 * abs(a.y - b.y)) // (a.y + b.y)
                 END)::BIGINT AS smape_micro
      FROM daily a JOIN daily b
        ON b.event_type = a.event_type AND b.d = a.d - {_SEASON}
      GROUP BY 1
    )
    SELECT s.event_type, s.c_f AS n_eval,
           CAST(floor(CAST(s.s_f AS DOUBLE) * n.c_n
                      / (CAST(s.c_f AS DOUBLE) * n.s_n) * 1e6) AS BIGINT)
             AS mase_mu,
           (s.smape_micro // s.c_f)::BIGINT AS smape_mu
    FROM seas s JOIN naive n ON n.event_type = s.event_type
    ORDER BY s.event_type
    """,
    tags=("timeseries", "forecast-eval", "mase", "smape"),
)
def mase_smape_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-free forecast scorecard: score the seasonal-naive forecast
    f_t = y_{t-7} on the daily event-count series per type with MASE
    (MAE of the forecast over the in-sample MAE of the one-step naive
    walk — the Hyndman & Koehler scale-free standard) and sMAPE (mean
    of 2|f−y|/(f+y)).

    Determinism: counts are integers; MASE is the single quotient
    (S_f·C_n)/(C_f·S_n) of four exact integer sums, floor-quantized to
    µ via the shared double expression (the all-integer µ form would
    overflow int64 at large SF); sMAPE accumulates integer micro-units
    per term (2·10⁶·|f−y| div (f+y)) so the aggregate never sums
    floats.

    Scale: one codegen hash-agg to the (type, day) grid; both lag
    alignments are integer equi-joins on the grid (day−1 / day−7), so
    cost is grid-bounded after the single fact pass."""
    daily = _daily_counts(spark, sf_dir)
    a, b = daily.alias("a"), daily.alias("b")
    naive = (
        a.join(
            b,
            (F.col("b.event_type") == F.col("a.event_type"))
            & (F.col("b.d") == F.col("a.d") - 1),
        )
        .groupBy(F.col("a.event_type").alias("event_type"))
        .agg(
            F.sum(F.abs(F.col("a.y") - F.col("b.y"))).alias("s_n"),
            F.count(F.lit(1)).alias("c_n"),
        )
    )
    seas = (
        a.join(
            b,
            (F.col("b.event_type") == F.col("a.event_type"))
            & (F.col("b.d") == F.col("a.d") - _SEASON),
        )
        .groupBy(F.col("a.event_type").alias("event_type"))
        .agg(
            F.sum(F.abs(F.col("a.y") - F.col("b.y"))).alias("s_f"),
            F.count(F.lit(1)).alias("c_f"),
            F.sum(
                F.when(F.col("a.y") + F.col("b.y") == 0, F.lit(0)).otherwise(
                    F.expr("(2000000 * abs(a.y - b.y)) div (a.y + b.y)")
                )
            ).alias("smape_micro"),
        )
    )
    return (
        seas.join(naive, "event_type")
        .select(
            "event_type",
            F.col("c_f").alias("n_eval"),
            # floor-µ via the shared double expression: the integer form
            # s_f*c_n*10^6 overflows int64 at large SF (r8 review); the
            # double sequence is identical in both engines
            F.expr(
                "CAST(floor(CAST(s_f AS DOUBLE) * c_n"
                " / (CAST(c_f AS DOUBLE) * s_n) * 1e6) AS BIGINT)"
            ).alias("mase_mu"),
            F.expr("CAST(smape_micro div c_f AS BIGINT)").alias("smape_mu"),
        )
        .orderBy("event_type")
    )


@query(
    "q441_croston_intermittent",
    oracle=f"""
    WITH RECURSIVE weekly AS (
      SELECT l.l_partkey AS pk,
             date_diff('day', DATE '{_WEEK_ANCHOR}',
                       date_trunc('week', l.l_shipdate)) // 7 AS w,
             sum(CAST(round(l.l_quantity) AS BIGINT)) AS q
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      WHERE p.p_brand = '{_CR_BRAND}'
      GROUP BY 1, 2
    ),
    occ AS (
      SELECT pk, q,
             row_number() OVER (PARTITION BY pk ORDER BY w) AS t,
             w - lag(w) OVER (PARTITION BY pk ORDER BY w) AS gap
      FROM weekly
    ),
    nn AS (SELECT pk, max(t) AS n FROM occ GROUP BY pk),
    rec AS (
      SELECT pk, 1 AS t, CAST(q AS DOUBLE) AS z, CAST(1.0 AS DOUBLE) AS p
      FROM occ WHERE t = 1
      UNION ALL
      SELECT r.pk, r.t + 1,
             {_CR_ALPHA} * o.q + {1 - _CR_ALPHA} * r.z AS z,
             {_CR_ALPHA} * o.gap + {1 - _CR_ALPHA} * r.p AS p
      FROM rec r JOIN occ o ON o.pk = r.pk AND o.t = r.t + 1
    )
    SELECT r.pk AS partkey, nn.n AS n_demands,
           CAST(floor(r.z * 1e6) AS BIGINT) AS size_level_mu,
           CAST(floor(r.p * 1e6) AS BIGINT) AS interval_level_mu,
           CAST(floor(r.z / r.p * 1e6) AS BIGINT) AS forecast_mu
    FROM rec r JOIN nn ON nn.pk = r.pk AND r.t = nn.n
    ORDER BY partkey
    """,
    tags=("timeseries", "croston", "intermittent-demand", "mapInPandas"),
)
def croston_intermittent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Croston's method for intermittent demand: per part (one brand's
    assortment), weekly demand is zero most weeks; at each nonzero
    occurrence SES-update the demand size z ← αq + (1−α)z and the
    inter-demand interval p ← αI + (1−α)p (α={a}); the demand-rate
    forecast is z/p. Init: z₁ = first demand, p₁ = 1.

    Determinism: weeks are integer indexes from a Monday anchor
    (datediff div 7 — both engines truncate `week` to Monday); demand
    units are integer; the recursion is a fixed IEEE-double op sequence
    replayed by the oracle's recursive CTE (q297 discipline).

    Scale: one codegen hash-agg to the (part, week) demand grid; the
    inherently-sequential smoothing runs in the sorted-key fold —
    repartition by part, sortWithinPartitions by (part, week), ONE
    mapInPandas pass: O(rows) Python for arbitrarily many parts, no
    per-group pandas tax.""".format(
        a=_CR_ALPHA
    )
    li = table(spark, sf_dir, "lineitem")
    pt = table(spark, sf_dir, "part").filter(F.col("p_brand") == _CR_BRAND)
    weekly = (
        li.join(F.broadcast(pt), li.l_partkey == pt.p_partkey)
        .groupBy(
            F.col("l_partkey").alias("pk"),
            F.expr(
                f"datediff(date_trunc('week', l_shipdate), '{_WEEK_ANCHOR}') div 7"
            ).alias("w"),
        )
        .agg(F.sum(F.expr("CAST(round(l_quantity) AS BIGINT)")).alias("q"))
    )
    out = croston_over(weekly)
    # floor-µ outputs (SCALE.md round-on-quotient ban): the recursion
    # doubles are engine-identical; quantize by floor, never round
    return out.select(
        "partkey",
        "n_demands",
        F.floor(F.col("size_level") * 1e6).cast("bigint").alias("size_level_mu"),
        F.floor(F.col("interval_level") * 1e6)
        .cast("bigint")
        .alias("interval_level_mu"),
        F.floor(F.col("forecast") * 1e6).cast("bigint").alias("forecast_mu"),
    ).orderBy("partkey")


def croston_over(weekly: DataFrame) -> DataFrame:
    """Croston recursion over a (pk, w, q) demand-occurrence grid, run by
    the sorted-key fold; exposed for the scale smoke."""
    alpha, beta = _CR_ALPHA, 1 - _CR_ALPHA

    def croston(pk, rows):
        w0, q0 = rows[0]
        z, p, last_w = float(int(q0)), 1.0, int(w0)
        for w, q in rows[1:]:
            w, q = int(w), int(q)
            z = alpha * q + beta * z
            p = alpha * (w - last_w) + beta * p
            last_w = w
        return int(pk), len(rows), z, p, z / p

    return sorted_key_fold(
        weekly,
        "pk",
        "w",
        croston,
        "partkey bigint, n_demands bigint, size_level double, "
        "interval_level double, forecast double",
    )


_PEARSON_NUM = "CAST(n * sxy - sx * sy AS DOUBLE)"
_PEARSON_DEN = (
    "(sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) * "
    "sqrt(CAST(n * syy - sy * sy AS DOUBLE)))"
)


@query(
    "q442_acf_profile",
    oracle=f"""
    WITH daily AS ({_DUCK_DAILY}),
    lags AS (SELECT unnest(range(1, {_ACF_MAX_LAG} + 1)) AS lag),
    pairs AS (
      SELECT a.event_type, l.lag, a.y AS x, b.y AS yv
      FROM daily a
      CROSS JOIN lags l
      JOIN daily b ON b.event_type = a.event_type AND b.d = a.d + l.lag
    ),
    s AS (
      SELECT event_type, lag, count(*)::BIGINT AS n,
             sum(x)::BIGINT AS sx, sum(yv)::BIGINT AS sy,
             sum(x * x)::BIGINT AS sxx, sum(yv * yv)::BIGINT AS syy,
             sum(x * yv)::BIGINT AS sxy
      FROM pairs GROUP BY 1, 2
    )
    SELECT event_type, lag, n AS n_pairs,
           CAST(floor({_PEARSON_NUM.replace('sy * sy', 'sy * sy')} /
                 {_PEARSON_DEN} * 1e6) AS BIGINT) AS acf_mu
    FROM s
    ORDER BY event_type, lag
    """,
    tags=("timeseries", "acf", "autocorrelation"),
)
def acf_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample autocorrelation profile, lags 1..{k}: q323's lag-1
    statistic generalized to the full lag grid — per event type, the
    Pearson correlation of (y_t, y_{{t+k}}) over all aligned day pairs
    (the 'cross-correlation form' of the ACF, each lag normalized on
    its own pair set).

    Determinism: counts are integers; correlation uses the exact
    n·Σxy − Σx·Σy integer expansion; the only non-rational op is the
    correctly-rounded IEEE sqrt, identical in both engines.

    Scale: one codegen hash-agg to the (type, day) grid, then a
    broadcast 7-row lag dimension × grid equi-join on (type, d+lag) —
    pair volume is |grid|·K, never fact-table-sized.""".format(k=_ACF_MAX_LAG)
    daily = _daily_counts(spark, sf_dir)
    lags = spark.range(1, _ACF_MAX_LAG + 1).select(F.col("id").alias("lag"))
    pairs = (
        daily.alias("a")
        .crossJoin(F.broadcast(lags))
        .join(
            daily.alias("b"),
            (F.col("b.event_type") == F.col("a.event_type"))
            & (F.col("b.d") == F.col("a.d") + F.col("lag")),
        )
        .select(
            F.col("a.event_type").alias("event_type"),
            "lag",
            F.col("a.y").alias("x"),
            F.col("b.y").alias("yv"),
        )
    )
    s = pairs.groupBy("event_type", "lag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("yv").alias("sy"),
        F.sum(F.expr("x * x")).alias("sxx"),
        F.sum(F.expr("yv * yv")).alias("syy"),
        F.sum(F.expr("x * yv")).alias("sxy"),
    )
    return s.select(
        "event_type",
        "lag",
        F.col("n").alias("n_pairs"),
        F.floor(F.expr(f"{_PEARSON_NUM} / {_PEARSON_DEN}") * 1e6)
        .cast("bigint")
        .alias("acf_mu"),
    ).orderBy("event_type", "lag")


@query(
    "q443_leadlag_crosscorr",
    oracle=f"""
    WITH daily AS ({_DUCK_DAILY}),
    lags AS (SELECT unnest(range(-{_XC_MAX_LAG}, {_XC_MAX_LAG} + 1)) AS lag),
    pairs AS (
      SELECT a.event_type AS ta, b.event_type AS tb, l.lag,
             a.y AS x, b.y AS yv
      FROM daily a
      CROSS JOIN lags l
      JOIN daily b ON b.event_type > a.event_type AND b.d = a.d + l.lag
    ),
    s AS (
      SELECT ta, tb, lag, count(*)::BIGINT AS n,
             sum(x)::BIGINT AS sx, sum(yv)::BIGINT AS sy,
             sum(x * x)::BIGINT AS sxx, sum(yv * yv)::BIGINT AS syy,
             sum(x * yv)::BIGINT AS sxy
      FROM pairs GROUP BY 1, 2, 3
    ),
    r AS (
      SELECT ta, tb, lag, n,
             {_PEARSON_NUM} / {_PEARSON_DEN} AS r
      FROM s
    ),
    best AS (
      SELECT ta, tb, lag, n, r,
             row_number() OVER (PARTITION BY ta, tb
                                ORDER BY abs(r) DESC, lag) AS rn
      FROM r
    )
    SELECT ta AS type_a, tb AS type_b, lag AS best_lag,
           n AS n_pairs, CAST(floor(r * 1e6) AS BIGINT) AS r_mu
    FROM best WHERE rn = 1
    ORDER BY type_a, type_b
    """,
    tags=("timeseries", "cross-correlation", "lead-lag"),
)
def leadlag_crosscorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lead–lag scan: for every ordered pair of event types, correlate
    A_t against B_{{t+ℓ}} for ℓ ∈ [−{k}, {k}] and keep the lag with the
    strongest |r| — does B lead A, lag it, or move simultaneously?
    (Ties break toward the smallest lag.)

    Determinism: integer sums + the n·Σxy − Σx·Σy expansion make every
    pre-round r the identical IEEE double in both engines, so the
    |r|-argmax (a comparison of identical doubles) picks the same lag.

    Scale: grid × broadcast 7-row lag dim × grid — the type-pair join
    is on the aggregated day grid (|types|²·days·K rows), never the
    fact table; the argmax is a partitioned window over ≤(2K+1) rows
    per pair.""".format(k=_XC_MAX_LAG)
    daily = _daily_counts(spark, sf_dir)
    lags = spark.range(-_XC_MAX_LAG, _XC_MAX_LAG + 1).select(
        F.col("id").alias("lag")
    )
    pairs = (
        daily.alias("a")
        .crossJoin(F.broadcast(lags))
        .join(
            daily.alias("b"),
            (F.col("b.event_type") > F.col("a.event_type"))
            & (F.col("b.d") == F.col("a.d") + F.col("lag")),
        )
        .select(
            F.col("a.event_type").alias("ta"),
            F.col("b.event_type").alias("tb"),
            "lag",
            F.col("a.y").alias("x"),
            F.col("b.y").alias("yv"),
        )
    )
    s = pairs.groupBy("ta", "tb", "lag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("yv").alias("sy"),
        F.sum(F.expr("x * x")).alias("sxx"),
        F.sum(F.expr("yv * yv")).alias("syy"),
        F.sum(F.expr("x * yv")).alias("sxy"),
    )
    r = s.withColumn("r", F.expr(f"{_PEARSON_NUM} / {_PEARSON_DEN}"))
    w = W.partitionBy("ta", "tb").orderBy(F.abs(F.col("r")).desc(), F.col("lag"))
    return (
        r.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("ta").alias("type_a"),
            F.col("tb").alias("type_b"),
            F.col("lag").alias("best_lag"),
            F.col("n").alias("n_pairs"),
            F.floor(F.col("r") * 1e6).cast("bigint").alias("r_mu"),
        )
        .orderBy("type_a", "type_b")
    )


@query(
    "q444_max_drawdown",
    oracle=f"""
    WITH daily AS (
      SELECT c.c_mktsegment AS seg,
             date_diff('day', DATE '{_DAY_ANCHOR}',
                       date_trunc('day', o.o_orderdate))::BIGINT AS d,
             sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS cents
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY 1, 2
    ),
    curve AS (
      SELECT seg, d,
             sum(cents) OVER (PARTITION BY seg ORDER BY d) AS cum
      FROM daily
    ),
    dd AS (
      SELECT seg, d, cum,
             max(cum) OVER (PARTITION BY seg ORDER BY d) AS peak,
             max(cum) OVER (PARTITION BY seg ORDER BY d) - cum AS draw
      FROM curve
    ),
    best AS (
      SELECT seg, d, peak, draw,
             row_number() OVER (PARTITION BY seg
                                ORDER BY draw DESC, d) AS rn,
             count(*) OVER (PARTITION BY seg) AS n_days
      FROM dd
    )
    SELECT seg AS segment, n_days,
           DATE '{_DAY_ANCHOR}' + CAST(d AS INTEGER) AS trough_day,
           peak::BIGINT AS peak_cents, draw::BIGINT AS max_drawdown_cents
    FROM best WHERE rn = 1
    ORDER BY segment
    """,
    tags=("timeseries", "drawdown", "window"),
)
def max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown of the cumulative daily order-revenue curve per
    market segment: running peak minus running cumulative, maximized
    over days (ties → earliest trough day). The classic
    risk-of-decline statistic, entirely in exact integer cents.

    Determinism: integer cents end to end — cumsum, running max,
    drawdown, and the (draw DESC, day ASC) argmax are all integer
    orderings; the trough day reconstructs from the integer day index.

    Scale: one codegen hash-agg to the (segment, day) grid; both
    windows and the argmax are partitioned per segment over the bounded
    day grid — no global window, no shuffle beyond the 5-key grid."""
    daily = (
        table(spark, sf_dir, "orders")
        .join(
            F.broadcast(
                table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
            ),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy(
            F.col("c_mktsegment").alias("seg"),
            F.datediff(F.date_trunc("day", "o_orderdate"), F.lit(_DAY_ANCHOR))
            .cast("long")
            .alias("d"),
        )
        .agg(F.sum(F.expr("CAST(round(o_totalprice * 100) AS BIGINT)")).alias("cents"))
    )
    w_ord = W.partitionBy("seg").orderBy("d")
    curve = (
        daily.withColumn("cum", F.sum("cents").over(w_ord))
        .withColumn("peak", F.expr("max(cum) OVER (PARTITION BY seg ORDER BY d)"))
        .withColumn("draw", F.col("peak") - F.col("cum"))
    )
    w_best = W.partitionBy("seg").orderBy(F.col("draw").desc(), F.col("d"))
    w_all = W.partitionBy("seg")
    return (
        curve.withColumn("rn", F.row_number().over(w_best))
        .withColumn("n_days", F.count(F.lit(1)).over(w_all))
        .filter(F.col("rn") == 1)
        .select(
            F.col("seg").alias("segment"),
            "n_days",
            F.date_add(F.lit(_DAY_ANCHOR).cast("date"), F.col("d").cast("int")).alias(
                "trough_day"
            ),
            F.col("peak").alias("peak_cents"),
            F.col("draw").alias("max_drawdown_cents"),
        )
        .orderBy("segment")
    )


# q460: expanding-window folds — train through day E, test the next 7 days
_WF_FOLDS = (9, 16, 23)


@query(
    "q460_walk_forward_backtest",
    oracle=f"""
    WITH daily AS ({_DUCK_DAILY}),
    folds AS (SELECT unnest([{", ".join(str(e) for e in _WF_FOLDS)}]) AS e),
    train_naive AS (
      SELECT f.e, a.event_type,
             sum(abs(a.y - b.y))::BIGINT AS s_n, count(*)::BIGINT AS c_n
      FROM folds f
      JOIN daily a ON a.d <= f.e
      JOIN daily b ON b.event_type = a.event_type AND b.d = a.d - 1
      GROUP BY 1, 2
    ),
    test AS (
      SELECT f.e, a.event_type,
             sum(abs(a.y - b.y))::BIGINT AS s_f, count(*)::BIGINT AS c_f
      FROM folds f
      JOIN daily a ON a.d > f.e AND a.d <= f.e + {_SEASON}
      JOIN daily b ON b.event_type = a.event_type AND b.d = a.d - {_SEASON}
      GROUP BY 1, 2
    )
    SELECT t.event_type, t.e AS train_end_day,
           n.c_n + 1 AS train_days, t.c_f AS n_eval,
           CAST(floor(CAST(t.s_f AS DOUBLE) * n.c_n
                      / (CAST(t.c_f AS DOUBLE) * n.s_n) * 1e6) AS BIGINT)
             AS mase_mu
    FROM test t JOIN train_naive n
      ON n.e = t.e AND n.event_type = t.event_type
    ORDER BY t.event_type, t.e
    """,
    tags=("timeseries", "forecast-eval", "walk-forward", "backtest"),
)
def walk_forward_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Walk-forward (expanding-window) backtest of the seasonal-naive
    forecaster: three folds train through day E ∈ {folds}, score the
    NEXT {h} days with MASE whose denominator is the in-TRAIN naive
    MAE only — the leakage-safe evaluation protocol (q354's embargo
    discipline applied to time series): with a {h}-day horizon, every
    y_(d−{h}) forecast source lies inside the training window by
    construction.

    Determinism: q440's integer-rational MASE per (fold, type) — four
    integer sums, emitted as the exact integer rational in µ-units
    (truncating div on non-negative operands, both engines).

    Scale: the fold dimension is a broadcast 3-row table against the
    aggregated (type, day) grid; each fold's train/test alignment is
    an integer range + equi join on the grid — the fact table is
    scanned once for the shared daily hash-agg.""".format(
        folds=list(_WF_FOLDS), h=_SEASON
    )
    daily = _daily_counts(spark, sf_dir)
    folds = spark.createDataFrame([(e,) for e in _WF_FOLDS], "e int")
    a, b = daily.alias("a"), daily.alias("b")
    train_naive = (
        F.broadcast(folds)
        .join(a, F.col("a.d") <= F.col("e"))
        .join(
            b,
            (F.col("b.event_type") == F.col("a.event_type"))
            & (F.col("b.d") == F.col("a.d") - 1),
        )
        .groupBy("e", F.col("a.event_type").alias("event_type"))
        .agg(
            F.sum(F.abs(F.col("a.y") - F.col("b.y"))).alias("s_n"),
            F.count(F.lit(1)).alias("c_n"),
        )
    )
    test = (
        F.broadcast(folds)
        .join(a, (F.col("a.d") > F.col("e")) & (F.col("a.d") <= F.col("e") + _SEASON))
        .join(
            b,
            (F.col("b.event_type") == F.col("a.event_type"))
            & (F.col("b.d") == F.col("a.d") - _SEASON),
        )
        .groupBy("e", F.col("a.event_type").alias("event_type"))
        .agg(
            F.sum(F.abs(F.col("a.y") - F.col("b.y"))).alias("s_f"),
            F.count(F.lit(1)).alias("c_f"),
        )
    )
    return (
        test.join(train_naive, ["e", "event_type"])
        .select(
            "event_type",
            F.col("e").cast("int").alias("train_end_day"),
            (F.col("c_n") + 1).alias("train_days"),
            F.col("c_f").alias("n_eval"),
            # floor-µ via the shared double expression (int64-safe at any
            # SF; identical IEEE sequence both engines)
            F.expr(
                "CAST(floor(CAST(s_f AS DOUBLE) * c_n"
                " / (CAST(c_f AS DOUBLE) * s_n) * 1e6) AS BIGINT)"
            ).alias("mase_mu"),
        )
        .orderBy("event_type", "train_end_day")
    )


# ---- q475: newsvendor service-level stock quantile ----------------------
_NV_SERVICE_BP = 8000  # 80% cycle-service-level target, basis points


@query(
    "q475_newsvendor_stock",
    oracle=f"""
    WITH demand AS (
      SELECT p.p_brand, date_trunc('day', l.l_shipdate) AS day,
             CAST(round(sum(l.l_quantity)) AS BIGINT) AS d
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      GROUP BY 1, 2
    ),
    ranked AS (
      SELECT p_brand, d,
             row_number() OVER (PARTITION BY p_brand ORDER BY d, day) AS rk,
             count(*) OVER (PARTITION BY p_brand) AS n
      FROM demand
    ),
    stock AS (
      SELECT p_brand, min(d)::BIGINT AS stock_level, any_value(n)::BIGINT AS n_days
      FROM ranked
      WHERE rk * 10000 >= {_NV_SERVICE_BP} * n
      GROUP BY p_brand
    )
    SELECT s.p_brand, s.n_days, s.stock_level,
           sum(dm.d)::BIGINT AS total_demand,
           sum(least(dm.d, s.stock_level))::BIGINT AS total_filled,
           (sum(least(dm.d, s.stock_level)) * 10000 // sum(dm.d))::BIGINT
             AS fill_rate_bp,
           (sum(CASE WHEN dm.d <= s.stock_level THEN 1 ELSE 0 END) * 10000
              // s.n_days)::BIGINT AS cycle_service_bp
    FROM stock s JOIN demand dm ON dm.p_brand = s.p_brand
    GROUP BY s.p_brand, s.n_days, s.stock_level
    ORDER BY s.p_brand
    """,
    tags=("demand", "newsvendor", "quantile", "inventory"),
)
def newsvendor_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newsvendor stocking decision per brand: the critical-ratio answer
    'stock the β-quantile of daily demand' at β = 80% cycle service
    level, evaluated as the DISCRETE empirical quantile (smallest demand
    whose rank covers β·n — percentile_disc semantics, no
    interpolation), then audited in-sample: attained unit fill rate
    Σmin(d, S)/Σd and cycle service Σ[d ≤ S]/n. The audit columns are
    what an inventory platform actually monitors — the quantile alone
    says nothing about how much demand the stock actually clears.

    Determinism: demand is an exact integer-unit aggregate; quantile
    selection is integer-rank arithmetic (rk·10⁴ ≥ β_bp·n); both audit
    rates are exact integer basis-point divisions (div truncation,
    identical both engines). No float exists anywhere.

    Scale posture: one codegen hash-agg to the (brand, day) grid; the
    rank window partitions per brand over the bounded day grid; the
    audit re-join is brand-keyed against the same grid. At 100 TB the
    grid is |brands|·|days| rows — dimension-sized, never fact-sized."""
    demand = (
        table(spark, sf_dir, "lineitem")
        .join(
            F.broadcast(table(spark, sf_dir, "part").select("p_partkey", "p_brand")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy("p_brand", F.date_trunc("day", "l_shipdate").alias("day"))
        .agg(F.round(F.sum("l_quantity")).cast("bigint").alias("d"))
    )
    ranked = demand.select(
        "p_brand",
        "d",
        F.row_number().over(W.partitionBy("p_brand").orderBy("d", "day")).alias("rk"),
        F.count(F.lit(1)).over(W.partitionBy("p_brand")).alias("n"),
    )
    stock = (
        ranked.filter(F.col("rk") * 10000 >= _NV_SERVICE_BP * F.col("n"))
        .groupBy("p_brand")
        .agg(
            F.min("d").cast("bigint").alias("stock_level"),
            F.first("n").cast("bigint").alias("n_days"),
        )
    )
    return (
        stock.join(demand, "p_brand")
        .groupBy("p_brand", "n_days", "stock_level")
        .agg(
            F.sum("d").cast("bigint").alias("total_demand"),
            F.sum(F.least("d", "stock_level")).cast("bigint").alias("total_filled"),
            F.expr("sum(least(d, stock_level)) * 10000 div sum(d)")
            .cast("bigint")
            .alias("fill_rate_bp"),
            F.expr(
                "sum(CASE WHEN d <= stock_level THEN 1 ELSE 0 END) * 10000 div first(n_days)"
            )
            .cast("bigint")
            .alias("cycle_service_bp"),
        )
        .orderBy("p_brand")
    )


# ---- q486: Theta-method forecast -----------------------------------------
_TH_H = 7        # forecast horizon, days
_TH_W = 20       # truncated-SES window (alpha = 1/2, binary weights)


@query(
    "q486_theta_forecast",
    oracle=f"""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day, count(*)::BIGINT AS y
      FROM events GROUP BY 1, 2
    ),
    idx AS (
      SELECT event_type, day, y,
             row_number() OVER (PARTITION BY event_type ORDER BY day) AS t,
             row_number() OVER (PARTITION BY event_type ORDER BY day DESC)
               AS rn_desc
      FROM daily
    ),
    ols AS (
      SELECT event_type,
             count(*)::BIGINT AS n,
             sum(t)::BIGINT AS st, sum(y)::BIGINT AS sy,
             sum(t * y)::BIGINT AS sty, sum(t * t)::BIGINT AS stt
      FROM idx GROUP BY event_type
    ),
    fit AS (
      SELECT event_type, n,
             ((n * sty - st * sy) * 1000000 // (n * stt - st * st))::BIGINT
               AS b_mu,
             ((sy * 1000000
               - ((n * sty - st * sy) * 1000000 // (n * stt - st * st)) * st)
              // n)::BIGINT AS a_mu
      FROM ols
    ),
    z AS (
      SELECT i.event_type, i.rn_desc,
             2 * i.y * 1000000 - (f.a_mu + f.b_mu * i.t) AS z_mu,
             f.n, f.a_mu, f.b_mu,
             CASE WHEN f.n < {_TH_W} THEN f.n ELSE {_TH_W} END AS s
      FROM idx i JOIN fit f ON f.event_type = i.event_type
    ),
    ses AS (
      SELECT event_type, any_value(n) AS n_days,
             any_value(a_mu) AS a_mu, any_value(b_mu) AS b_mu,
             any_value(s) AS s,
             sum(CASE WHEN rn_desc <= s
                      THEN z_mu * (1::BIGINT << (s - rn_desc)) ELSE 0 END)::BIGINT
               AS num
      FROM z GROUP BY event_type
    )
    SELECT event_type, n_days, a_mu, b_mu,
           (num // ((1::BIGINT << s) - 1))::BIGINT AS ses2_mu,
           ((a_mu + b_mu * (n_days + {_TH_H})
             + num // ((1::BIGINT << s) - 1)) // 2)::BIGINT AS forecast_mu
    FROM ses ORDER BY event_type
    """,
    tags=("forecast", "theta", "ses", "m3"),
)
def theta_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-method forecast (the M3-competition winner) per series: the
    h-step forecast is the average of (a) the OLS linear trend
    extrapolated to T+h — the theta=0 line — and (b) simple exponential
    smoothing of the theta=2 line z_t = 2*y_t - (a + b*t), which doubles
    local curvature around the trend. With alpha = 1/2 the SES weights
    are exact powers of two, so the level collapses to the CLOSED-FORM
    windowed sum sum_k z_{{T-k}} * 2^(s-1-k) / (2^s - 1) over the last
    s <= 20 observations — no recursion, no mapInPandas, pure integer
    arithmetic (the truncation discards weight < 1e-6 of the level;
    documented, identical both engines).

    Determinism: t indices and daily counts are integers; OLS a, b come
    from the integer sufficient-statistics rationals (q228) floored to
    mu-units; z, the binary-weighted numerator (|z|~1e10 x 2^19 x 20 ~
    1e17, int64-safe) and every division are exact integer ops.

    Scale posture (100 TB): one hash-agg to the (series, day) grid; two
    rank windows PARTITIONED BY series on the grid; OLS and the SES
    numerator are each one further grid-level hash-agg. Each series'
    forecast is one row of integer algebra — no iteration anywhere."""
    daily = (
        table(spark, sf_dir, "events")
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.count(F.lit(1)).cast("long").alias("y"))
    )
    idx = daily.select(
        "event_type",
        "day",
        "y",
        F.row_number().over(W.partitionBy("event_type").orderBy("day")).alias("t"),
        F.row_number()
        .over(W.partitionBy("event_type").orderBy(F.col("day").desc()))
        .alias("rn_desc"),
    )
    ols = idx.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("t").cast("bigint").alias("st"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.expr("t * y")).cast("bigint").alias("sty"),
        F.sum(F.expr("t * t")).cast("bigint").alias("stt"),
    )
    fit = ols.select(
        "event_type",
        "n",
        F.expr("(n * sty - st * sy) * 1000000 div (n * stt - st * st)")
        .cast("bigint")
        .alias("b_mu"),
        F.expr(
            "(sy * 1000000 - ((n * sty - st * sy) * 1000000 div (n * stt - st * st)) * st) div n"
        )
        .cast("bigint")
        .alias("a_mu"),
    )
    z = idx.join(F.broadcast(fit), "event_type").select(
        "event_type",
        "rn_desc",
        F.expr("2 * y * 1000000 - (a_mu + b_mu * t)").alias("z_mu"),
        "n",
        "a_mu",
        "b_mu",
        F.expr(f"CASE WHEN n < {_TH_W} THEN n ELSE {_TH_W} END").alias("s"),
    )
    ses = z.groupBy("event_type").agg(
        F.first("n").alias("n_days"),
        F.first("a_mu").alias("a_mu"),
        F.first("b_mu").alias("b_mu"),
        F.first("s").alias("s"),
        F.sum(
            F.expr(
                f"CASE WHEN rn_desc <= s THEN z_mu * (CAST(1 AS BIGINT) << (s - rn_desc)) ELSE 0 END"
            )
        )
        .cast("bigint")
        .alias("num"),
    )
    return ses.select(
        "event_type",
        "n_days",
        "a_mu",
        "b_mu",
        F.expr("num div ((CAST(1 AS BIGINT) << s) - 1)").cast("bigint").alias("ses2_mu"),
        F.expr(
            f"(a_mu + b_mu * (n_days + {_TH_H}) + num div ((CAST(1 AS BIGINT) << s) - 1)) div 2"
        )
        .cast("bigint")
        .alias("forecast_mu"),
    ).orderBy("event_type")
