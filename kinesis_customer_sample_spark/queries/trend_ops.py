"""Trend & agreement analytics, round-4 wave (SURVEY.md §2B): Holt linear
exponential smoothing (the trend-aware successor of q206's EWMA), a
recency-decayed engagement score (the classic feature-store "time-decayed
count" feature), and Cohen's kappa inter-rater agreement (the evaluation
statistic for q63-style model-vs-metadata label audits).

Cross-engine determinism (registry parity rules):
- q297: the Holt recursion is a fixed SEQUENCE of IEEE-double ops; both
  engines start from identical doubles (integer day-cents / 100.0) and
  execute textually identical update expressions, so every intermediate
  state is bit-identical; smoothing constants are dyadic (0.5, 0.25) so
  the blend multiplications are exact scalings.
- q298: each (user, day-lag) contributes an INTEGER micro-score
  round(cents · w · 1e6); the decay weight w = 2^-(d/7) is factored as an
  exact power of two times one of seven shared literal constants
  (0.5^(k/7), k<7), so w is bit-identical across engines WITHOUT relying
  on cross-libm pow(0.5, d/7.0) agreement; the final score is one exact
  integer sum and one division.
- q299: kappa is computed as (N·agree − S) / (N² − S) — a single division
  of exact integers (S = Σ row-marginal · col-marginal) — never as
  po/pe fractions.

Scale posture (100 TB):
- q297 aggregates events to per-(user, day) integer partials in codegen
  (the only full-data pass), then runs the O(days) recursion per user via
  the sorted-key fold (repartition-by-user + partition-local sort + one
  mapInPandas pass) — O(rows) Python cost, no global window, no driver
  loop.
- q298/q299 are pure two-level hash aggregations; the kappa marginals
  join is |labels|² at most — broadcast-sized by construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from kinesis_customer_sample_spark.catalog import table
from kinesis_customer_sample_spark.operators.sorted_fold import sorted_key_fold
from kinesis_customer_sample_spark.queries.text_analysis import lang_id_heuristic
from kinesis_customer_sample_spark.registry import REGISTRY as _REGISTRY
from kinesis_customer_sample_spark.registry import query
from kinesis_customer_sample_spark.scope import materialize

_ALPHA, _ONE_M_ALPHA = 0.5, 0.5  # level blend (dyadic → exact scaling)
_BETA, _ONE_M_BETA = 0.25, 0.75  # trend blend (dyadic → exact scaling)
_H = 7.0  # forecast horizon (days ahead)

_CENTS = "CAST(round(value * 100.0) AS BIGINT)"


@query(
    "q297_holt_linear_trend",
    oracle=f"""
    WITH RECURSIVE obs AS (
      SELECT user_id,
             row_number() OVER (PARTITION BY user_id ORDER BY day) AS t,
             CAST(cents AS DOUBLE) / 100.0 AS y
      FROM (
        SELECT user_id, date_trunc('day', ts) AS day,
               sum({_CENTS}) AS cents
        FROM events
        GROUP BY user_id, date_trunc('day', ts)
      )
    ),
    nn AS (SELECT user_id, max(t) AS n FROM obs GROUP BY user_id),
    rec AS (
      SELECT o1.user_id, 1 AS t,
             o1.y AS l, o2.y - o1.y AS b, CAST(0.0 AS DOUBLE) AS sse
      FROM obs o1
      JOIN obs o2 ON o2.user_id = o1.user_id AND o2.t = 2
      WHERE o1.t = 1
      UNION ALL
      SELECT r.user_id, r.t + 1,
             {_ALPHA} * o.y + {_ONE_M_ALPHA} * (r.l + r.b) AS l,
             {_BETA} * (({_ALPHA} * o.y + {_ONE_M_ALPHA} * (r.l + r.b)) - r.l)
               + {_ONE_M_BETA} * r.b AS b,
             r.sse + (o.y - (r.l + r.b)) * (o.y - (r.l + r.b)) AS sse
      FROM rec r
      JOIN obs o ON o.user_id = r.user_id AND o.t = r.t + 1
    )
    SELECT r.user_id::BIGINT AS user_id,
           nn.n::BIGINT AS n_days,
           round(r.l, 6) AS level,
           round(r.b, 6) AS trend,
           round(r.l + {_H} * r.b, 6) AS forecast7,
           round(r.sse, 6) AS sse
    FROM rec r
    JOIN nn ON nn.user_id = r.user_id AND r.t = nn.n
    """,
    tags=("timeseries", "holt", "smoothing", "mapInPandas", "secondary-sort"),
)
def holt_linear_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear-trend exponential smoothing per user over the daily
    spend series: l_t = αy_t + (1−α)(l+b), b_t = β(l_t−l) + (1−β)b, with
    the textbook init l₁=y₁, b₁=y₂−y₁, plus the in-sample one-step SSE
    and the 7-step-ahead forecast l+7b. The per-day aggregation (the only
    full-data pass) is exact integer cents in codegen; the linear
    recursion — inherently sequential per key — runs in the sorted-key
    fold (`operators/sorted_fold.py`): repartition by user,
    sortWithinPartitions by (user, day), then ONE `mapInPandas` pass —
    O(rows) Python, no per-group applyInPandas tax. The oracle
    replays the identical IEEE op sequence via a recursive CTE marching
    the day index, so a hash match proves bit-exact state replication."""
    daily = (
        table(spark, sf_dir, "events")
        .groupBy("user_id", F.date_trunc("day", "ts").alias("day"))
        .agg(F.sum(F.expr(_CENTS)).alias("cents"))
    )

    def holt(uid, rows):
        if len(rows) < 2:  # no trend from a single point
            return None
        ys = [float(c) / 100.0 for _, c in rows]
        l, b, sse = ys[0], ys[1] - ys[0], 0.0
        for y in ys[1:]:
            p = l + b
            l_new = _ALPHA * y + _ONE_M_ALPHA * p
            b = _BETA * (l_new - l) + _ONE_M_BETA * b
            sse = sse + (y - p) * (y - p)
            l = l_new
        return int(uid), len(ys), l, b, l + _H * b, sse

    out = sorted_key_fold(
        daily,
        "user_id",
        "day",
        holt,
        "user_id bigint, n_days bigint, level double, trend double, "
        "forecast7 double, sse double",
    )
    return out.select(
        "user_id",
        "n_days",
        F.round("level", 6).alias("level"),
        F.round("trend", 6).alias("trend"),
        F.round("forecast7", 6).alias("forecast7"),
        F.round("sse", 6).alias("sse"),
    )


def _decay_w(d: str) -> str:
    """Decay weight 0.5^(d/7) factored engine-portably: an exact power of
    two (integer exponent) times one of seven shared literal constants —
    identical text in both dialects, no cross-libm pow(frac) reliance."""
    ladder = " ".join(f"WHEN {k} THEN {0.5 ** (k / 7)!r}" for k in range(7))
    return (
        f"(pow(2.0, -CAST(CAST(({d} - ({d} % 7)) / 7 AS BIGINT) AS DOUBLE))"
        f" * (CASE {d} % 7 {ladder} END))"
    )


@query(
    "q298_decayed_engagement",
    oracle=f"""
    WITH anchor AS (
      SELECT max(date_trunc('day', ts)) AS a FROM events
    ),
    perday AS (
      SELECT user_id,
             date_diff('day', date_trunc('day', ts), (SELECT a FROM anchor))
               AS d,
             sum({_CENTS}) AS cents,
             count(*) AS n
      FROM events
      GROUP BY user_id, date_diff('day', date_trunc('day', ts),
                                  (SELECT a FROM anchor))
    )
    SELECT user_id::BIGINT AS user_id,
           sum(n)::BIGINT AS n_events,
           min(d)::BIGINT AS days_since_last,
           round(sum(CAST(round(CAST(cents AS DOUBLE) * {_decay_w("d")}
                                * 1000000.0) AS BIGINT)) / 1000000.0, 6)
             AS score
    FROM perday
    GROUP BY user_id
    """,
    tags=("timeseries", "decay", "feature-store", "aggregation"),
)
def decayed_engagement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency-decayed engagement score — the feature-store staple: each
    user's spend is weighted by 2^(−age_days/7) (7-day half-life) relative
    to the corpus's last active day and summed. Order-independence is
    engineered, not hoped for: per-(user, day-lag) cents are exact
    integers, each day contributes round(cents·w·1e6) — an INTEGER
    micro-score — and the per-user sum of integers is associative, so any
    shuffle/combine order yields the same bits. One codegen aggregation
    pass; the anchor day is a broadcast scalar."""
    ev = table(spark, sf_dir, "events").select(
        "user_id",
        F.date_trunc("day", "ts").alias("day"),
        F.expr(_CENTS).alias("cents"),
    )
    anchor = ev.agg(F.max("day").alias("a"))
    perday = (
        ev.crossJoin(F.broadcast(anchor))
        .select("user_id", F.datediff("a", "day").alias("d"), "cents")
        .groupBy("user_id", "d")
        .agg(F.sum("cents").alias("cents"), F.count("*").alias("n"))
    )
    term = (
        f"CAST(round(CAST(cents AS DOUBLE) * {_decay_w('d')} * 1000000.0) AS BIGINT)"
    )
    return (
        perday.groupBy("user_id")
        .agg(
            F.sum("n").cast("bigint").alias("n_events"),
            F.min("d").cast("bigint").alias("days_since_last"),
            F.round(F.sum(F.expr(term)) / 1000000.0, 6).alias("score"),
        )
        .select(
            F.col("user_id").cast("bigint").alias("user_id"),
            "n_events",
            "days_since_last",
            "score",
        )
    )


_Q63_ORACLE = _REGISTRY["q63_lang_id_heuristic"].oracle


@query(
    "q299_cohens_kappa",
    oracle=f"""
    WITH pred AS ({_Q63_ORACLE}),
    cm AS (
      SELECT lang, pred_lang, count(*) AS n FROM pred GROUP BY lang, pred_lang
    ),
    tot AS (
      SELECT sum(n) AS nn,
             sum(CASE WHEN lang = pred_lang THEN n ELSE 0 END) AS agree
      FROM cm
    ),
    r AS (SELECT lang AS lab, sum(n) AS rn FROM cm GROUP BY lang),
    c AS (SELECT pred_lang AS lab, sum(n) AS cn FROM cm GROUP BY pred_lang),
    s AS (
      SELECT coalesce(sum(r.rn * c.cn), 0) AS s
      FROM r JOIN c ON c.lab = r.lab
    )
    SELECT nn::BIGINT AS n_docs,
           agree::BIGINT AS n_agree,
           s::BIGINT AS s_expected,
           round(CAST(nn * agree - s AS DOUBLE)
                 / CAST(nullif(nn * nn - s, 0) AS DOUBLE), 6) AS kappa
    FROM tot, s
    """,
    tags=("stats", "agreement", "kappa", "evaluation"),
)
def cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between the metadata language label and q63's
    heuristic prediction — chance-corrected agreement, the statistic an
    annotation-quality audit reports where raw accuracy (q167) misleads
    under skewed label distributions. Identity used: kappa = (po−pe)/(1−pe)
    = (N·agree − S)/(N² − S) with S = Σ_label row_marginal·col_marginal —
    all integers until ONE final division, so both engines divide the
    same two exact numbers. Composes q63's full pipeline (its oracle is
    embedded verbatim, the q167 pattern, so definitions can never
    drift)."""
    pred = lang_id_heuristic(spark, sf_dir)
    # materialized: cm (|langs|² rows, bounded) feeds THREE consumers
    # (totals, row marginals, col marginals) in one plan — without it the
    # full lang-ID scan re-runs per consumer (measured ~2.5× on the bench)
    cm = materialize(
        pred.groupBy("lang", "pred_lang")
        .agg(F.count("*").alias("n"))
    )
    tot = cm.agg(
        F.sum("n").alias("nn"),
        F.sum(F.when(F.col("lang") == F.col("pred_lang"), F.col("n")).otherwise(0)).alias(
            "agree"
        ),
    )
    r = cm.groupBy(F.col("lang").alias("lab")).agg(F.sum("n").alias("rn"))
    c = cm.groupBy(F.col("pred_lang").alias("lab")).agg(F.sum("n").alias("cn"))
    s = (
        r.join(F.broadcast(c), "lab")
        .agg(F.coalesce(F.sum(F.col("rn") * F.col("cn")), F.lit(0)).alias("s"))
    )
    return (
        tot.crossJoin(F.broadcast(s))
        .select(
            F.col("nn").cast("bigint").alias("n_docs"),
            F.col("agree").cast("bigint").alias("n_agree"),
            F.col("s").cast("bigint").alias("s_expected"),
            F.round(
                (F.col("nn") * F.col("agree") - F.col("s")).cast("double")
                / F.nullif((F.col("nn") * F.col("nn") - F.col("s")), F.lit(0)).cast(
                    "double"
                ),
                6,
            ).alias("kappa"),
        )
    )


@query(
    "q329_weekday_seasonal_adjust",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day, count(*)::BIGINT AS x
      FROM events GROUP BY 1, 2
    ),
    season AS (
      -- isodow (1=Mon..7=Sun) matches Spark's weekday()+1; the engines'
      -- default dayofweek numberings disagree by one
      SELECT event_type, isodow(day) AS wd,
             (sum(x) // count(*))::BIGINT AS seasonal_mean,
             count(*)::BIGINT AS n_obs
      FROM daily GROUP BY 1, 2
    )
    SELECT d.event_type, d.day,
           isodow(d.day)::BIGINT AS weekday,
           d.x AS n_events,
           s.seasonal_mean,
           (d.x - s.seasonal_mean)::BIGINT AS residual
    FROM daily d
    JOIN season s
      ON d.event_type = s.event_type AND isodow(d.day) = s.wd
    """,
    tags=("timeseries", "seasonal", "decomposition"),
)
def weekday_seasonal_adjust(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekday seasonal decomposition — the adjustment step that turns a
    raw daily series into the deseasonalized residual every anomaly
    monitor and forecaster actually watches (q201 flags seasonal
    anomalies, q283 backtests seasonal-naive forecasts; this EMITS the
    decomposition itself): per (series, weekday) the seasonal component
    is the truncating integer mean of daily volumes, and each day's
    residual is volume minus its weekday's mean — additive
    decomposition, exact integers end to end.

    Scale posture: one daily pre-agg (map-side partial), one 7-key-
    per-series seasonal agg, and a broadcast-scale join back (the
    seasonal table is series×7 rows). Nothing shuffles twice."""
    daily = (
        table(spark, sf_dir, "events")
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.count(F.lit(1)).cast("long").alias("x"))
    )
    season = daily.groupBy(
        F.col("event_type").alias("s_type"),
        (F.weekday("day") + 1).alias("wd"),  # ISO 1=Mon..7=Sun
    ).agg(
        F.expr("sum(x) div count(1)").cast("long").alias("seasonal_mean"),
        F.count(F.lit(1)).cast("long").alias("n_obs"),
    )
    return (
        daily.withColumn("weekday", F.weekday("day") + 1)
        .join(
            F.broadcast(season),
            (F.col("event_type") == F.col("s_type")) & (F.col("weekday") == F.col("wd")),
        )
        .select(
            "event_type",
            "day",
            F.col("weekday").cast("long").alias("weekday"),
            F.col("x").alias("n_events"),
            "seasonal_mean",
            (F.col("x") - F.col("seasonal_mean")).cast("long").alias("residual"),
        )
    )


# trending dials: half-life in days (decay = integer halving per elapsed
# half-life — exact in both engines, no exp())
_TREND_HALF_LIFE_D = 7
_TREND_TOPK = 10


@query(
    "q401_trending_leaderboard",
    oracle=f"""
    WITH anchor AS (SELECT max(ts) AS mx FROM events),
    scored AS (
      SELECT user_id,
             CAST(round(value * 100) AS BIGINT)
               // (1::BIGINT << least(62,
                    (date_diff('day', ts, (SELECT mx FROM anchor))
                     // {_TREND_HALF_LIFE_D})::BIGINT)) AS decayed_c,
             CAST(round(value * 100) AS BIGINT) AS raw_c
      FROM events
    )
    SELECT user_id,
           sum(decayed_c)::BIGINT AS trend_score_c,
           sum(raw_c)::BIGINT     AS lifetime_c,
           count(*)::BIGINT       AS n_events
    FROM scored GROUP BY 1
    ORDER BY trend_score_c DESC, user_id
    LIMIT {_TREND_TOPK}
    """,
    tags=("trend", "leaderboard", "decay", "top-k"),
)
def trending_leaderboard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trending leaderboard with half-life decay — the freshness-aware
    ranking every "top right now" surface runs: each event's value is
    halved once per elapsed {_TREND_HALF_LIFE_D}-day half-life
    (integer right-shift by whole half-lives — the EXACT, engine-stable
    discretization of exponential decay; no exp() ever runs), summed
    per user, top-{_TREND_TOPK} taken. Lifetime totals ride along so
    the output shows WHY a smaller-lifetime user out-trends a whale.

    Scale posture (100 TB): decay is a pure map against a broadcast
    1-row anchor, ONE map-side-combined agg to the user grain, and the
    leaderboard is TakeOrderedAndProject — never a global sort. The
    shift clamps at 62 so ancient events decay to zero instead of
    overflowing the shift."""
    ev = table(spark, sf_dir, "events")
    anchor = F.broadcast(ev.agg(F.max("ts").alias("mx")))
    scored = ev.crossJoin(anchor).select(
        "user_id",
        F.expr(
            f"CAST(round(value * 100) AS BIGINT) "
            f"div shiftleft(CAST(1 AS BIGINT), "
            f"least(62, CAST(datediff(mx, ts) div {_TREND_HALF_LIFE_D} AS INT)))"
        ).alias("decayed_c"),
        F.round(F.col("value") * 100).cast("bigint").alias("raw_c"),
    )
    return (
        scored.groupBy("user_id")
        .agg(
            F.sum("decayed_c").alias("trend_score_c"),
            F.sum("raw_c").alias("lifetime_c"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy(F.desc("trend_score_c"), "user_id")
        .limit(_TREND_TOPK)
    )


# q463 Holt-Winters additive: dyadic blends (exact IEEE scaling), weekly
# season, dense 30-day grid from the events epoch
_HW_ALPHA, _HW_1MA = 0.5, 0.5
_HW_BETA, _HW_1MB = 0.25, 0.75
_HW_GAMMA, _HW_1MG = 0.25, 0.75
_HW_M = 7
_HW_DAYS = 30


def _hw_s_cols(update: bool) -> str:
    """The seven seasonal state columns of the recursive CTE; when
    `update`, rotate in the new value at phase (t+1) mod 7."""
    cols = []
    for j in range(_HW_M):
        if update:
            cols.append(
                f"CASE WHEN (r.t + 1) % {_HW_M} = {j} "
                f"THEN {_HW_GAMMA} * (o.y - ({_HW_ALPHA} * (o.y - r.s{j}) "
                f"+ {_HW_1MA} * (r.l + r.b))) + {_HW_1MG} * r.s{j} "
                f"ELSE r.s{j} END AS s{j}"
            )
        else:
            cols.append(f"s{j}")
    return ", ".join(cols)


@query(
    "q463_holt_winters_additive",
    oracle=f"""
    WITH RECURSIVE spend AS (
      SELECT user_id,
             date_diff('day', DATE '2024-01-01', date_trunc('day', ts)) AS t,
             sum({_CENTS}) AS cents
      FROM events GROUP BY 1, 2
    ),
    grid AS (
      SELECT u.user_id, d.t,
             CAST(coalesce(s.cents, 0) AS DOUBLE) / 100.0 AS y
      FROM (SELECT DISTINCT user_id FROM spend) u
      CROSS JOIN (SELECT unnest(range(0, {_HW_DAYS})) AS t) d
      LEFT JOIN spend s ON s.user_id = u.user_id AND s.t = d.t
    ),
    init AS (
      SELECT user_id,
             sum(CASE WHEN t < {_HW_M} THEN y ELSE 0 END) / {_HW_M} AS l0,
             (sum(CASE WHEN t >= {_HW_M} AND t < {2 * _HW_M} THEN y ELSE 0 END)
              - sum(CASE WHEN t < {_HW_M} THEN y ELSE 0 END))
               / {_HW_M * _HW_M} AS b0
      FROM grid WHERE t < {2 * _HW_M} GROUP BY user_id
    ),
    s_init AS (
      SELECT g.user_id,
             {", ".join(f"max(CASE WHEN g.t = {j} THEN g.y - i.l0 END) AS s{j}"
                        for j in range(_HW_M))}
      FROM grid g JOIN init i ON i.user_id = g.user_id
      WHERE g.t < {_HW_M}
      GROUP BY g.user_id
    ),
    rec AS (
      SELECT i.user_id, {_HW_M - 1} AS t, i.l0 AS l, i.b0 AS b,
             {", ".join(f"s.s{j}" for j in range(_HW_M))}
      FROM init i JOIN s_init s ON s.user_id = i.user_id
      UNION ALL
      SELECT r.user_id, r.t + 1,
             {_HW_ALPHA} * (o.y - CASE
               {" ".join(f"WHEN (r.t + 1) % {_HW_M} = {j} THEN r.s{j}"
                         for j in range(_HW_M))} END)
               + {_HW_1MA} * (r.l + r.b) AS l,
             {_HW_BETA} * (({_HW_ALPHA} * (o.y - CASE
               {" ".join(f"WHEN (r.t + 1) % {_HW_M} = {j} THEN r.s{j}"
                         for j in range(_HW_M))} END)
               + {_HW_1MA} * (r.l + r.b)) - r.l) + {_HW_1MB} * r.b AS b,
             {_hw_s_cols(True)}
      FROM rec r
      JOIN grid o ON o.user_id = r.user_id AND o.t = r.t + 1
      WHERE r.t + 1 < {_HW_DAYS}
    )
    SELECT r.user_id::BIGINT AS user_id,
           CAST(floor(r.l * 1e6) AS BIGINT) AS level_mu,
           CAST(floor(r.b * 1e6) AS BIGINT) AS trend_mu,
           CAST(floor((r.l + r.b + CASE
             {" ".join(f"WHEN {_HW_DAYS} % {_HW_M} = {j} THEN r.s{j}"
                       for j in range(_HW_M))} END) * 1e6) AS BIGINT)
             AS next_day_forecast_mu
    FROM rec r WHERE r.t = {_HW_DAYS - 1}
    ORDER BY user_id
    """,
    tags=("timeseries", "holt-winters", "seasonal", "mapInPandas"),
)
def holt_winters_additive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt-Winters ADDITIVE triple exponential smoothing per user over
    the dense 30-day spend grid (missing days = 0 spend) with weekly
    seasonality m=7: l ← α(y−s₋₇)+(1−α)(l+b), b ← β(Δl)+(1−β)b,
    s ← γ(y−l_new)+(1−γ)s₋₇, textbook two-week init (l₀ = week-1 mean,
    b₀ = (week-2 mean − week-1 mean)/7, s_j = y_j − l₀). Completes the
    smoother family: q206 EWMA (level), q297 Holt (level+trend), and
    now level+trend+season. Emits the final state and the next-day
    forecast l + b + s_phase.

    Determinism: ALL smoothing constants are dyadic rationals (1/2,
    1/4), so every recursion step is exact-scaling IEEE arithmetic; the
    oracle's recursive CTE carries the 7 seasonal states as rotating
    columns and replays the identical op sequence — a hash match
    proves bit-exact state replication (the q297 discipline with 9
    state variables instead of 2).

    Scale: the dense (user, day) grid is one hash-agg + a broadcast
    30-row day dim; the inherently-sequential recursion runs in the
    sorted-key fold (q297's) — O(rows) Python, arbitrarily many users."""
    spend = (
        table(spark, sf_dir, "events")
        .groupBy(
            "user_id",
            F.datediff(F.date_trunc("day", "ts"), F.lit("2024-01-01")).alias("t"),
        )
        .agg(F.sum(F.expr(_CENTS)).alias("cents"))
    )
    users = spend.select("user_id").distinct()
    days = spark.range(_HW_DAYS).select(F.col("id").cast("int").alias("t"))
    grid = (
        users.crossJoin(F.broadcast(days))
        .join(spend, ["user_id", "t"], "left")
        .select(
            "user_id",
            "t",
            (F.coalesce(F.col("cents"), F.lit(0)).cast("double") / 100.0).alias("y"),
        )
    )

    m, days_n = _HW_M, _HW_DAYS
    al, oma = _HW_ALPHA, _HW_1MA
    be, omb = _HW_BETA, _HW_1MB
    ga, omg = _HW_GAMMA, _HW_1MG

    def hw(uid, rows):
        if len(rows) != days_n:
            return None
        ys = [float(y) for _, y in rows]
        l = sum(ys[:m]) / m
        b = (sum(ys[m : 2 * m]) - sum(ys[:m])) / (m * m)
        s = [ys[j] - l for j in range(m)]
        for t in range(m, days_n):
            y = ys[t]
            ph = t % m
            l_new = al * (y - s[ph]) + oma * (l + b)
            b = be * (l_new - l) + omb * b
            s[ph] = ga * (y - l_new) + omg * s[ph]
            l = l_new
        return int(uid), l, b, l + b + s[days_n % m]

    out = sorted_key_fold(
        grid,
        "user_id",
        "t",
        hw,
        "user_id bigint, level double, trend double, next_day_forecast double",
    )
    # floor-µ outputs (SCALE.md round-on-quotient ban): the recursion
    # doubles are engine-identical; quantize by floor, never round
    return out.select(
        "user_id",
        F.floor(F.col("level") * 1e6).cast("bigint").alias("level_mu"),
        F.floor(F.col("trend") * 1e6).cast("bigint").alias("trend_mu"),
        F.floor(F.col("next_day_forecast") * 1e6)
        .cast("bigint")
        .alias("next_day_forecast_mu"),
    ).orderBy("user_id")


# ---- q474: Kalman local-level filter ------------------------------------
_KAL_Q = 25.0   # process noise variance (level random walk)
_KAL_R = 400.0  # observation noise variance


def kalman_over(daily: DataFrame) -> DataFrame:
    """Per-key 1-D Kalman local-level recursion over (event_type, day, y)
    rows — the recursion of q474, run by the sorted-key fold and shared
    with the scale smokes."""
    q, r = _KAL_Q, _KAL_R

    def kalman(et, rows):
        ys = [float(y) for _, y in rows]
        l, p, k, sse = ys[0], r, 0.0, 0.0
        for y in ys[1:]:
            k = (p + q) / ((p + q) + r)
            l_new = l + ((p + q) / ((p + q) + r)) * (y - l)
            sse = sse + (y - l) * (y - l)
            p_new = (1.0 - ((p + q) / ((p + q) + r))) * (p + q)
            l, p = l_new, p_new
        return str(et), len(ys), l, k, p, sse

    return sorted_key_fold(
        daily,
        "event_type",
        "day",
        kalman,
        "event_type string, n_days bigint, level double, "
        "kalman_gain double, pvar double, innov_sse double",
    )


@query(
    "q474_kalman_local_level",
    oracle=f"""
    WITH RECURSIVE obs AS (
      SELECT event_type,
             row_number() OVER (PARTITION BY event_type ORDER BY day) AS t,
             CAST(y AS DOUBLE) AS y
      FROM (
        SELECT event_type, date_trunc('day', ts) AS day,
               count(*)::BIGINT AS y
        FROM events GROUP BY 1, 2
      )
    ),
    nn AS (SELECT event_type, max(t) AS n FROM obs GROUP BY event_type),
    rec AS (
      SELECT event_type, 1 AS t, y AS l,
             CAST({_KAL_R} AS DOUBLE) AS p,
             CAST(0.0 AS DOUBLE) AS k,
             CAST(0.0 AS DOUBLE) AS sse
      FROM obs WHERE t = 1
      UNION ALL
      SELECT r.event_type, r.t + 1,
             r.l + ((r.p + {_KAL_Q}) / ((r.p + {_KAL_Q}) + {_KAL_R}))
                 * (o.y - r.l) AS l,
             (1.0 - ((r.p + {_KAL_Q}) / ((r.p + {_KAL_Q}) + {_KAL_R})))
                 * (r.p + {_KAL_Q}) AS p,
             (r.p + {_KAL_Q}) / ((r.p + {_KAL_Q}) + {_KAL_R}) AS k,
             r.sse + (o.y - r.l) * (o.y - r.l) AS sse
      FROM rec r
      JOIN obs o ON o.event_type = r.event_type AND o.t = r.t + 1
    )
    SELECT r.event_type, nn.n::BIGINT AS n_days,
           CAST(floor(r.l * 1e6) AS BIGINT) AS level_mu,
           CAST(floor(r.k * 1e6) AS BIGINT) AS kalman_gain_mu,
           CAST(floor(r.p * 1e6) AS BIGINT) AS pvar_mu,
           CAST(floor(r.sse * 1e6) AS BIGINT) AS innov_sse_mu
    FROM rec r JOIN nn ON nn.event_type = r.event_type AND r.t = nn.n
    ORDER BY r.event_type
    """,
    tags=("timeseries", "kalman", "smoothing", "mapInPandas", "secondary-sort"),
)
def kalman_local_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-D Kalman filter, local-level model, per event type's daily count
    series: predict P⁻ = P + Q; gain K = P⁻/(P⁻+R); update
    l += K·(y − l), P = (1−K)·P⁻ — the optimal (MMSE) recursive
    smoother that q206's EWMA approximates with a FIXED gain; here the
    gain adapts (large under high uncertainty, converging to the
    steady-state Riccati value) and the posterior variance P is part of
    the output, giving calibrated uncertainty for the q164/q201 anomaly
    thresholds. Innovation SSE doubles as the model-fit score.

    Determinism: the daily series is an exact integer count; the
    recursion is a fixed SEQUENCE of IEEE-double ops (the gain's
    rational is recomputed textually identically wherever it appears)
    replayed by the oracle's recursive CTE marching t — the q297
    discipline; a hash match proves bit-exact state replication.

    Scale posture: one codegen hash-agg to the (type, day) grid, then
    the inherently-sequential per-key recursion in the sorted-key fold
    (q297's: repartition-by-key + sortWithinPartitions + ONE mapInPandas
    pass, O(rows) Python, not per-group applyInPandas)."""
    daily = (
        table(spark, sf_dir, "events")
        .groupBy("event_type", F.date_trunc("day", "ts").alias("day"))
        .agg(F.count(F.lit(1)).alias("y"))
    )
    out = kalman_over(daily)
    # floor-µ outputs (SCALE.md round-on-quotient ban)
    return out.select(
        "event_type",
        "n_days",
        F.floor(F.col("level") * 1e6).cast("bigint").alias("level_mu"),
        F.floor(F.col("kalman_gain") * 1e6).cast("bigint").alias("kalman_gain_mu"),
        F.floor(F.col("pvar") * 1e6).cast("bigint").alias("pvar_mu"),
        F.floor(F.col("innov_sse") * 1e6).cast("bigint").alias("innov_sse_mu"),
    ).orderBy("event_type")


# ---- q479: classical additive decomposition (MA-7 trend) -----------------


def classical_detrended(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day detrended/seasonal components of the classical additive
    decomposition — the reusable core of q479, shared with the q496
    SPC-on-residuals capstone and the q520 strength indices. Returns
    (event_type, day, wd, y_mu, detr_mu, n_obs, seasonal_mu) for every
    day with a FULL centered MA-7 window."""
    daily = (
        table(spark, sf_dir, "events")
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.count(F.lit(1)).cast("long").alias("x"))
    )
    w7 = W.partitionBy("event_type").orderBy("day").rowsBetween(-3, 3)
    tr = daily.select(
        "event_type",
        "day",
        "x",
        F.sum("x").over(w7).alias("sum7"),
        F.count(F.lit(1)).over(w7).alias("cnt7"),
    )
    detr = tr.filter(F.col("cnt7") == 7).select(
        "event_type",
        "day",
        (F.weekday("day") + 1).alias("wd"),  # ISO 1=Mon..7=Sun (q329 pattern)
        F.expr("x * 1000000").alias("y_mu"),
        F.expr("x * 1000000 - (sum7 * 1000000 div 7)").alias("detr_mu"),
    )
    sraw = detr.groupBy("event_type", "wd").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_obs"),
        F.expr("sum(detr_mu) div count(1)").alias("s_raw_mu"),
    )
    adj = sraw.groupBy("event_type").agg(
        F.expr("sum(s_raw_mu) div 7").alias("adj_mu")
    )
    seas = sraw.join(F.broadcast(adj), "event_type").select(
        "event_type",
        "wd",
        "n_obs",
        (F.col("s_raw_mu") - F.col("adj_mu")).cast("bigint").alias("seasonal_mu"),
    )
    return detr.join(F.broadcast(seas), ["event_type", "wd"])


@query(
    "q479_classical_decomposition",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day, count(*)::BIGINT AS x
      FROM events GROUP BY 1, 2
    ),
    tr AS (
      SELECT event_type, day, x,
             sum(x) OVER w AS sum7, count(*) OVER w AS cnt7
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ),
    detr AS (
      SELECT event_type, day, isodow(day) AS wd,
             x * 1000000 - (sum7 * 1000000 // 7) AS detr_mu
      FROM tr WHERE cnt7 = 7
    ),
    sraw AS (
      SELECT event_type, wd,
             count(*)::BIGINT AS n_obs,
             CAST(sum(detr_mu) AS BIGINT) // count(*) AS s_raw_mu
      FROM detr GROUP BY 1, 2
    ),
    adj AS (
      SELECT event_type, CAST(sum(s_raw_mu) AS BIGINT) // 7 AS adj_mu
      FROM sraw GROUP BY event_type
    ),
    seas AS (
      SELECT s.event_type, s.wd, s.n_obs,
             (s.s_raw_mu - a.adj_mu)::BIGINT AS seasonal_mu
      FROM sraw s JOIN adj a ON a.event_type = s.event_type
    )
    SELECT d.event_type, se.wd::BIGINT AS weekday, se.n_obs, se.seasonal_mu,
           (sum(abs(d.detr_mu - se.seasonal_mu)) // count(*))::BIGINT
             AS mean_abs_resid_mu
    FROM detr d
    JOIN seas se ON se.event_type = d.event_type AND se.wd = d.wd
    GROUP BY d.event_type, se.wd, se.n_obs, se.seasonal_mu
    ORDER BY d.event_type, weekday
    """,
    tags=("timeseries", "decomposition", "moving-average", "seasonal"),
)
def classical_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive decomposition — the textbook y = trend +
    seasonal + residual split: trend is the CENTERED 7-term moving
    average (only full windows), the weekday seasonal index is the mean
    of the detrended series per ISO weekday, RE-CENTERED so the seven
    indices sum to ~0 (the classical normalization), and the residual is
    what remains. q329 publishes raw weekday means; this is the full
    algorithm whose seasonal indices are trend-free — a level shift or
    drift in the series cannot leak into them. Emits the (series,
    weekday) index table plus the mean |residual| — the fit quality an
    anomaly monitor thresholds against.

    Determinism: daily counts are exact integers; the MA is kept as the
    exact rational sum7*1e6 div 7 (truncating integer div, identical
    both engines); detrended values, seasonal means, the centering
    adjustment and residuals are all int64 mu-units with div truncation
    toward zero at every step. No float exists anywhere.

    Scale posture (100 TB): one map-side-combined hash-agg to the
    (series, day) grid; the MA window and everything after run on that
    bounded grid PARTITIONED BY series (|series|*|days| rows, never
    fact-sized); seasonal tables are |series|*7 rows, joined back
    broadcast-sized. Exactly one fact-scan shuffle in the whole plan."""
    return (
        classical_detrended(spark, sf_dir)
        .groupBy("event_type", "wd", "n_obs", "seasonal_mu")
        .agg(
            F.expr("sum(abs(detr_mu - seasonal_mu)) div count(1)")
            .cast("bigint")
            .alias("mean_abs_resid_mu")
        )
        .select(
            "event_type",
            F.col("wd").cast("bigint").alias("weekday"),
            "n_obs",
            "seasonal_mu",
            "mean_abs_resid_mu",
        )
        .orderBy("event_type", "weekday")
    )


# ---- q496: SPC-on-residuals capstone (q479 ∘ q480) -------------------------


@query(
    "q496_spc_residual_capstone",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day, count(*)::BIGINT AS x
      FROM events GROUP BY 1, 2
    ),
    tr AS (
      SELECT event_type, day, x,
             sum(x) OVER w AS sum7, count(*) OVER w AS cnt7
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ),
    detr AS (
      SELECT event_type, day, isodow(day) AS wd,
             x * 1000000 - (sum7 * 1000000 // 7) AS detr_mu
      FROM tr WHERE cnt7 = 7
    ),
    sraw AS (
      SELECT event_type, wd,
             CAST(sum(detr_mu) AS BIGINT) // count(*) AS s_raw_mu
      FROM detr GROUP BY 1, 2
    ),
    adj AS (
      SELECT event_type, CAST(sum(s_raw_mu) AS BIGINT) // 7 AS adj_mu
      FROM sraw GROUP BY event_type
    ),
    resid AS (
      SELECT d.event_type, d.day,
             d.detr_mu - (s.s_raw_mu - a.adj_mu) AS r_mu
      FROM detr d
      JOIN sraw s ON s.event_type = d.event_type AND s.wd = d.wd
      JOIN adj a ON a.event_type = d.event_type
    ),
    lim AS (
      SELECT event_type, count(*)::BIGINT AS n,
             (sum(r_mu) // count(*))::BIGINT AS mu_mu,
             CAST(floor(sqrt(
               (CAST(count(*) AS DOUBLE) * sum(CAST(r_mu AS DOUBLE) * r_mu)
                - CAST(sum(r_mu) AS DOUBLE) * sum(r_mu))) / count(*))
               AS BIGINT) AS sigma_mu
      FROM resid GROUP BY event_type
    ),
    dev AS (
      SELECT r.event_type, r.day, r.r_mu - l.mu_mu AS dev_mu, l.sigma_mu, l.n
      FROM resid r JOIN lim l ON l.event_type = r.event_type
    ),
    flags AS (
      SELECT event_type, n, sigma_mu,
             CASE WHEN abs(dev_mu) > 3 * sigma_mu THEN 1 ELSE 0 END AS r1,
             CASE WHEN count(*) OVER w8 = 8 AND
                  (sum(CASE WHEN dev_mu > 0 THEN 1 ELSE 0 END) OVER w8 = 8
                   OR sum(CASE WHEN dev_mu < 0 THEN 1 ELSE 0 END) OVER w8 = 8)
                  THEN 1 ELSE 0 END AS r4
      FROM dev
      WINDOW w8 AS (PARTITION BY event_type ORDER BY day
                    ROWS BETWEEN 7 PRECEDING AND CURRENT ROW)
    )
    SELECT event_type, any_value(n)::BIGINT AS n_days,
           any_value(sigma_mu)::BIGINT AS resid_sigma_mu,
           sum(r1)::BIGINT AS rule1_days,
           sum(r4)::BIGINT AS rule4_days
    FROM flags GROUP BY event_type ORDER BY event_type
    """,
    tags=("timeseries", "spc", "capstone", "deseasonalized"),
)
def spc_residual_capstone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPC-on-residuals capstone — q480's control-chart rules applied to
    q479's DESEASONALIZED residuals (the q400/q458 composition
    discipline: the capstone calls the registered decomposition
    builder, so chart and decomposition can never drift apart). Raw
    daily series trip 3-sigma rules on every weekend; after removing
    the MA-7 trend and the weekday index, what remains SHOULD be noise
    — a rule-1 spike here is a genuine anomaly, and a rule-4 run is a
    level shift the trend hasn't absorbed yet. This is how production
    monitors actually deploy SPC on seasonal traffic.

    Determinism: residuals are exact integer mu-units from the shared
    builder; the center/sigma are integer moments (one IEEE sqrt,
    floored); band tests and run windows are pure int64 (the q480
    discipline).

    Scale posture (100 TB): everything downstream of the one fact
    hash-agg lives on the bounded (series, day) grid with windows
    PARTITIONED BY series; limits join back broadcast-sized."""
    resid = classical_detrended(spark, sf_dir).select(
        "event_type",
        "day",
        (F.col("detr_mu") - F.col("seasonal_mu")).alias("r_mu"),
    )
    lim = resid.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.expr("sum(r_mu) div count(1)").cast("bigint").alias("mu_mu"),
        F.expr(
            "CAST(floor(sqrt((CAST(count(1) AS DOUBLE) * sum(CAST(r_mu AS DOUBLE) * r_mu)"
            " - CAST(sum(r_mu) AS DOUBLE) * sum(r_mu))) / count(1)) AS BIGINT)"
        ).alias("sigma_mu"),
    )
    dev = resid.join(F.broadcast(lim), "event_type").select(
        "event_type",
        "day",
        (F.col("r_mu") - F.col("mu_mu")).alias("dev_mu"),
        "sigma_mu",
        "n",
    )
    w8 = W.partitionBy("event_type").orderBy("day").rowsBetween(-7, 0)
    flags = dev.select(
        "event_type",
        "n",
        "sigma_mu",
        F.expr("CASE WHEN abs(dev_mu) > 3 * sigma_mu THEN 1 ELSE 0 END").alias("r1"),
        F.when(
            (F.count(F.lit(1)).over(w8) == 8)
            & (
                (F.sum(F.expr("CASE WHEN dev_mu > 0 THEN 1 ELSE 0 END")).over(w8) == 8)
                | (F.sum(F.expr("CASE WHEN dev_mu < 0 THEN 1 ELSE 0 END")).over(w8) == 8)
            ),
            1,
        )
        .otherwise(0)
        .alias("r4"),
    )
    return (
        flags.groupBy("event_type")
        .agg(
            F.first("n").cast("bigint").alias("n_days"),
            F.first("sigma_mu").cast("bigint").alias("resid_sigma_mu"),
            F.sum("r1").cast("bigint").alias("rule1_days"),
            F.sum("r4").cast("bigint").alias("rule4_days"),
        )
        .orderBy("event_type")
    )


# ---- q520: seasonal- and trend-strength indices ---------------------------------


@query(
    "q520_decomposition_strength",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day, count(*)::BIGINT AS x
      FROM events GROUP BY 1, 2
    ),
    tr AS (
      SELECT event_type, day, x,
             sum(x) OVER w AS sum7, count(*) OVER w AS cnt7
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ),
    comp0 AS (
      SELECT event_type, day, isodow(day) AS wd,
             x * 1000000 AS y_mu,
             x * 1000000 - (sum7 * 1000000 // 7) AS detr_mu
      FROM tr WHERE cnt7 = 7
    ),
    sraw AS (
      SELECT event_type, wd,
             CAST(sum(detr_mu) AS BIGINT) // count(*) AS s_raw_mu
      FROM comp0 GROUP BY 1, 2
    ),
    adj AS (
      SELECT event_type, CAST(sum(s_raw_mu) AS BIGINT) // 7 AS adj_mu
      FROM sraw GROUP BY event_type
    ),
    comp AS (
      SELECT c.event_type,
             c.detr_mu - (s.s_raw_mu - a.adj_mu) AS r_mu,
             c.detr_mu AS sr_mu,
             c.y_mu - (s.s_raw_mu - a.adj_mu) AS tr_mu
      FROM comp0 c
      JOIN sraw s ON s.event_type = c.event_type AND s.wd = c.wd
      JOIN adj a ON a.event_type = c.event_type
    ),
    mom AS (
      SELECT event_type, count(*)::BIGINT AS n,
             sum(r_mu)::BIGINT AS s_r, sum(r_mu::HUGEINT * r_mu) AS ss_r,
             sum(sr_mu)::BIGINT AS s_sr, sum(sr_mu::HUGEINT * sr_mu) AS ss_sr,
             sum(tr_mu)::BIGINT AS s_tr, sum(tr_mu::HUGEINT * tr_mu) AS ss_tr
      FROM comp GROUP BY event_type
    )
    SELECT event_type, n,
           CAST(floor(greatest(0.0,
             1.0 - (CAST(n AS DOUBLE) * ss_r - CAST(s_r AS DOUBLE) * s_r)
                   / (CAST(n AS DOUBLE) * ss_sr - CAST(s_sr AS DOUBLE) * s_sr))
             * 1e6) AS BIGINT) AS seasonal_strength_mu,
           CAST(floor(greatest(0.0,
             1.0 - (CAST(n AS DOUBLE) * ss_r - CAST(s_r AS DOUBLE) * s_r)
                   / (CAST(n AS DOUBLE) * ss_tr - CAST(s_tr AS DOUBLE) * s_tr))
             * 1e6) AS BIGINT) AS trend_strength_mu
    FROM mom ORDER BY event_type
    """,
    tags=("timeseries", "decomposition", "strength", "stl"),
)
def decomposition_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal- and trend-strength indices (Hyndman's STL features):
    F_seasonal = max(0, 1 - Var(R)/Var(S+R)) and F_trend = max(0,
    1 - Var(R)/Var(T+R)) over q479's classical decomposition — the two
    numbers that summarize a whole decomposition plot, and the standard
    features a forecast-model router (seasonal-naive vs Holt vs
    Holt-Winters — q283/q297/q463) branches on. Closes the
    decomposition family: q479 emits the components, q496 control-charts
    the residuals, this scores the decomposition itself.

    Determinism: all three component series are exact integer mu-units
    (the shared classical_detrended builder — the same frame q479/q496
    consume, so the decomposition can never drift between the three);
    variance numerators n*Sxx - Sx^2 accumulate squares in
    HUGEINT/DECIMAL(38,0); each strength is one shared double
    expression over those integers with the greatest(0, .) clamp,
    floor-quantized to integer µ (round-on-quotient banned).

    Scale posture (100 TB): identical to q479 — bounded (series, day)
    grid windows, broadcast seasonal joins, one moment hash-agg per
    series."""
    comp = classical_detrended(spark, sf_dir).select(
        "event_type",
        (F.col("detr_mu") - F.col("seasonal_mu")).alias("r_mu"),
        F.col("detr_mu").alias("sr_mu"),
        (F.col("y_mu") - F.col("seasonal_mu")).alias("tr_mu"),
    )
    mom = comp.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("r_mu").cast("bigint").alias("s_r"),
        F.sum(F.expr("CAST(r_mu AS DECIMAL(38,0)) * r_mu")).alias("ss_r"),
        F.sum("sr_mu").cast("bigint").alias("s_sr"),
        F.sum(F.expr("CAST(sr_mu AS DECIMAL(38,0)) * sr_mu")).alias("ss_sr"),
        F.sum("tr_mu").cast("bigint").alias("s_tr"),
        F.sum(F.expr("CAST(tr_mu AS DECIMAL(38,0)) * tr_mu")).alias("ss_tr"),
    )
    return mom.select(
        "event_type",
        "n",
        # floor-µ, not round(x, 6): both strengths are float quotients
        # (round-on-quotient outputs banned, SCALE.md q288 post-mortem)
        F.expr(
            "CAST(floor(greatest(0.0, 1.0 - (CAST(n AS DOUBLE) * ss_r - CAST(s_r AS DOUBLE) * s_r)"
            " / (CAST(n AS DOUBLE) * ss_sr - CAST(s_sr AS DOUBLE) * s_sr))"
            " * 1e6) AS BIGINT)"
        ).alias("seasonal_strength_mu"),
        F.expr(
            "CAST(floor(greatest(0.0, 1.0 - (CAST(n AS DOUBLE) * ss_r - CAST(s_r AS DOUBLE) * s_r)"
            " / (CAST(n AS DOUBLE) * ss_tr - CAST(s_tr AS DOUBLE) * s_tr))"
            " * 1e6) AS BIGINT)"
        ).alias("trend_strength_mu"),
    ).orderBy("event_type")
