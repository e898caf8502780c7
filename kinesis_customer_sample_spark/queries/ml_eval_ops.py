"""Model-evaluation & survival statistics — round-3 wave (SURVEY.md §2B):
AUC-ROC for a linear scorer over the embedding corpus, and the
Kaplan–Meier product-limit survival curve with right-censoring. Together
with q279 (calibration) these form the offline-eval layer a model/data
platform runs after every training cycle.

Cross-engine determinism:
- AUC is a pure RANK statistic, so the scorer needs no sigmoid and no
  float dot products: scores are exact integer dot products of
  milli-unit-quantized vectors, and AUC = U/(n1·n2) reuses q259's
  all-integer tied-rank identity (2R1 = Σ cnt1·(2·c_before+cnt+1)).
- Kaplan–Meier's running product turns into a cumulative sum of
  per-day log terms floored into integer micro-nats (the q151 pattern);
  only the final exp/round is floating point.

Scale posture (100 TB):
- q281's score grid cumulates with the two-level bucket-window shape
  (never a global ordered window over n scores).
- q282's event-time grid is CALENDAR-bounded (≤ days-in-window rows by
  construction after the per-day agg), so its one ordered cumsum runs
  over a provably tiny input — the same bounded-grid argument as q262's
  per-key hourly timeline; the heavy work (per-user durations, risk-set
  counts) is hash-aggs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from kinesis_customer_sample_spark.catalog import table
from kinesis_customer_sample_spark.registry import query
from kinesis_customer_sample_spark.scope import materialize

_AUC_POS_LABEL = 0
_AUC_BUCKET = 10_000_000  # score-grid cumsum bucket width

_KM_OBS_END = "2024-01-30"  # observation cutoff (censoring time)
_KM_CONV_CENTS = 15_000  # "event" = first purchase of at least $150


@query(
    "q281_auc_roc",
    oracle=f"""
    WITH w AS (
      SELECT [CAST(round(x * 1000) AS BIGINT) FOR x IN embedding] AS wv
      FROM embeddings WHERE vec_id = 0
    ),
    scored AS (
      SELECT (e.label = {_AUC_POS_LABEL}) AS y,
             list_sum([CAST(round(e.embedding[i + 1] * 1000) AS BIGINT) * wv[i + 1]
                       FOR i IN range(64)]) AS s
      FROM embeddings e CROSS JOIN w
      WHERE e.vec_id != 0
    ),
    g AS (
      SELECT s, sum(CASE WHEN y THEN 1 ELSE 0 END) AS cnt1,
             count(*) AS cnt
      FROM scored GROUP BY s
    ),
    c AS (
      SELECT cnt1, cnt,
             coalesce(sum(cnt) OVER (ORDER BY s
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS c_before
      FROM g
    ),
    agg AS (
      SELECT sum(cnt1 * (2 * c_before + cnt + 1))::BIGINT AS two_r1,
             sum(cnt1)::BIGINT AS n1, sum(cnt - cnt1)::BIGINT AS n2
      FROM c
    )
    SELECT n1 AS n_pos, n2 AS n_neg,
           round((two_r1 - n1 * (n1 + 1))::DOUBLE / 2 / (n1 * n2), 6) AS auc,
           round((two_r1 - n1 * (n1 + 1))::DOUBLE / (n1 * n2) - 1, 6) AS gini
    FROM agg
    """,
    tags=("ml-eval", "auc", "rank-statistic"),
)
def auc_roc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AUC-ROC of a linear scorer (weights = vec 0, a stand-in for any
    served model's logits) against the label-{pos} one-vs-rest task. AUC
    is computed EXACTLY as the tied-rank Mann–Whitney statistic
    U/(n⁺·n⁻) — no sampling, no trapezoid approximation over thresholded
    points — with the same all-integer tied-rank identity as q259 (scores
    are integer dot products of milli-quantized vectors, so ties are
    honest and cross-engine identical). The score-grid cumsum uses the
    two-level bucket-window shape; the scorer itself is one map-side
    zip_with per row against the broadcast weight vector."""
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.expr("transform(embedding, x -> CAST(round(x * 1000) AS BIGINT))").alias(
            "qi"
        ),
    )
    wvec = F.broadcast(
        e.filter(F.col("vec_id") == 0).select(F.col("qi").alias("wv"))
    )
    scored = (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(wvec)
        .select(
            (F.col("label") == _AUC_POS_LABEL).alias("y"),
            F.expr(
                "aggregate(zip_with(qi, wv, (x, w) -> x * w), "
                "CAST(0 AS BIGINT), (a, v) -> a + v)"
            ).alias("s"),
        )
    )
    g = scored.groupBy("s").agg(
        F.sum(F.when(F.col("y"), 1).otherwise(0)).alias("cnt1"),
        F.count(F.lit(1)).alias("cnt"),
    )
    g = g.withColumn("bucket", F.floor(F.col("s") / _AUC_BUCKET))
    w_loc = (
        W.partitionBy("bucket")
        .orderBy("s")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    local = g.withColumn("lc", F.sum("cnt").over(w_loc))
    totals = g.groupBy("bucket").agg(F.sum("cnt").alias("t"))
    starts = (
        totals.alias("a")
        .join(totals.alias("b"), F.col("b.bucket") < F.col("a.bucket"), "left")
        .groupBy(F.col("a.bucket").alias("bucket"))
        .agg(F.coalesce(F.sum("b.t"), F.lit(0)).alias("st"))
    )
    c = local.join(F.broadcast(starts), "bucket").select(
        "cnt1",
        "cnt",
        (F.col("st") + F.col("lc") - F.col("cnt")).alias("c_before"),
    )
    agg = c.agg(
        F.sum(F.col("cnt1") * (2 * F.col("c_before") + F.col("cnt") + 1))
        .cast("bigint")
        .alias("two_r1"),
        F.sum("cnt1").cast("bigint").alias("n1"),
        F.sum(F.col("cnt") - F.col("cnt1")).cast("bigint").alias("n2"),
    )
    return agg.select(
        F.col("n1").alias("n_pos"),
        F.col("n2").alias("n_neg"),
        F.round(
            (F.col("two_r1") - F.col("n1") * (F.col("n1") + 1)).cast("double")
            / 2
            / (F.col("n1") * F.col("n2")),
            6,
        ).alias("auc"),
        F.round(
            (F.col("two_r1") - F.col("n1") * (F.col("n1") + 1)).cast("double")
            / (F.col("n1") * F.col("n2"))
            - 1,
            6,
        ).alias("gini"),
    )


@query(
    "q282_kaplan_meier",
    oracle=f"""
    WITH u AS (
      SELECT user_id, min(ts) AS start_ts,
             min(CASE WHEN event_type = 'purchase'
                       AND CAST(round(value * 100) AS BIGINT) >= {_KM_CONV_CENTS}
                      THEN ts END) AS conv_ts
      FROM events GROUP BY user_id
    ),
    durations AS (
      SELECT user_id,
             CASE WHEN conv_ts IS NOT NULL
                  THEN date_diff('day', start_ts::DATE, conv_ts::DATE)
                  ELSE date_diff('day', start_ts::DATE, DATE '{_KM_OBS_END}')
             END AS t,
             (conv_ts IS NOT NULL) AS converted
      FROM u
    ),
    byday AS (
      SELECT t, sum(CASE WHEN converted THEN 1 ELSE 0 END)::BIGINT AS d,
             sum(CASE WHEN converted THEN 0 ELSE 1 END)::BIGINT AS c
      FROM durations GROUP BY t
    ),
    risk AS (
      SELECT t, d, c,
             sum(d + c) OVER (ORDER BY t DESC)::BIGINT AS n_risk
      FROM byday
    ),
    terms AS (
      SELECT t, d, c, n_risk,
             CASE WHEN d > 0 AND d < n_risk
                  THEN floor(ln((n_risk - d)::DOUBLE / n_risk) * 1000000)::BIGINT
                  ELSE 0 END AS logterm_mu,
             CASE WHEN d >= n_risk THEN 1 ELSE 0 END AS extinct
      FROM risk
    )
    SELECT t AS day_t, n_risk, d AS d_events, c AS c_censored,
           CASE WHEN max(extinct) OVER (ORDER BY t) = 1 THEN 0.0
                ELSE round(exp(sum(logterm_mu) OVER (ORDER BY t) / 1000000.0), 6)
           END AS survival
    FROM terms
    """,
    tags=("survival", "kaplan-meier", "ml-eval"),
)
def kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan–Meier product-limit survival curve for time-to-first-big-
    purchase with RIGHT-CENSORING — the estimator q202's raw conversion
    histogram cannot replace, because users who never converted still
    carry information while under observation (they inflate the risk set
    until their censoring day). S(t) = Π_{u≤t}(1 − d_u/n_u); the product
    becomes a cumulative sum of per-day log factors floored into integer
    micro-nats, so engines agree exactly before the final exp/round. The
    risk set n_t comes from a REVERSED cumulative sum over the per-day
    (events, censored) table — no per-user-per-day fan-out. Ordered
    windows here run over the day grid, calendar-bounded (≤ observation
    window in days) after the per-day agg, so they are bounded-input by
    construction; all per-user work is hash-aggs."""
    ev = table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.min("ts").alias("start_ts"),
        F.min(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.round(F.col("value") * 100).cast("bigint") >= _KM_CONV_CENTS),
                F.col("ts"),
            )
        ).alias("conv_ts"),
    )
    durations = u.select(
        F.when(
            F.col("conv_ts").isNotNull(),
            F.datediff(F.col("conv_ts").cast("date"), F.col("start_ts").cast("date")),
        )
        .otherwise(
            F.datediff(
                F.lit(_KM_OBS_END).cast("date"), F.col("start_ts").cast("date")
            )
        )
        .alias("t"),
        F.col("conv_ts").isNotNull().alias("converted"),
    )
    byday = durations.groupBy("t").agg(
        F.sum(F.when(F.col("converted"), 1).otherwise(0)).cast("bigint").alias("d"),
        F.sum(F.when(F.col("converted"), 0).otherwise(1)).cast("bigint").alias("c"),
    )
    w_rev = W.orderBy(F.col("t").desc()).rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    w_fwd = W.orderBy("t").rowsBetween(W.unboundedPreceding, W.currentRow)
    risk = byday.withColumn(
        "n_risk", F.sum(F.col("d") + F.col("c")).over(w_rev).cast("bigint")
    )
    terms = risk.withColumn(
        "logterm_mu",
        F.when(
            (F.col("d") > 0) & (F.col("d") < F.col("n_risk")),
            F.expr(
                "CAST(floor(ln((n_risk - d) / CAST(n_risk AS DOUBLE)) * 1000000) AS BIGINT)"
            ),
        ).otherwise(F.lit(0)),
    ).withColumn(
        # extinction guard: a day where every at-risk subject has the event
        # drives S to exactly 0 (ln(0) is engine-divergent: null in Spark,
        # -inf/error elsewhere) — carry the zero forward explicitly
        "extinct",
        F.when(F.col("d") >= F.col("n_risk"), 1).otherwise(0),
    )
    return terms.select(
        F.col("t").alias("day_t"),
        "n_risk",
        F.col("d").alias("d_events"),
        F.col("c").alias("c_censored"),
        F.when(F.max("extinct").over(w_fwd) == 1, F.lit(0.0))
        .otherwise(
            F.round(F.exp(F.sum("logterm_mu").over(w_fwd) / F.lit(1000000.0)), 6)
        )
        .alias("survival"),
    )


# q420/q421 (round 7): precision-recall & calibration siblings of q281's
# rank-statistic AUC — same integer linear scorer (weights = vec 0), same
# two-level score cumsum, different evaluation geometry.
_AP_P_AT = 10  # precision@k probe depth


@query(
    "q420_average_precision",
    oracle=f"""
    WITH w AS (
      SELECT [CAST(round(x * 1000) AS BIGINT) FOR x IN embedding] AS wv
      FROM embeddings WHERE vec_id = 0
    ),
    scored AS (
      SELECT e.vec_id, (e.label = {_AUC_POS_LABEL}) AS y,
             list_sum([CAST(round(e.embedding[i + 1] * 1000) AS BIGINT) * wv[i + 1]
                       FOR i IN range(64)]) AS s
      FROM embeddings e CROSS JOIN w
      WHERE e.vec_id != 0
    ),
    ranked AS (
      SELECT y,
             row_number() OVER (ORDER BY s DESC, vec_id) AS k,
             sum(CASE WHEN y THEN 1 ELSE 0 END)
               OVER (ORDER BY s DESC, vec_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_rel
      FROM scored
    ),
    agg AS (
      SELECT count(*)::BIGINT AS n_scored,
             sum(CASE WHEN y THEN 1 ELSE 0 END)::BIGINT AS n_rel,
             sum(CASE WHEN y THEN (cum_rel * 1000000) // k ELSE 0 END)::BIGINT
               AS sum_prec_mu,
             max(CASE WHEN k <= {_AP_P_AT} THEN cum_rel ELSE 0 END)::BIGINT
               AS rel_at_k
      FROM ranked
    )
    SELECT n_scored, n_rel,
           (sum_prec_mu // n_rel)::BIGINT AS ap_mu,
           (rel_at_k * 10000 // {_AP_P_AT})::BIGINT AS p_at_{_AP_P_AT}_bp
    FROM agg
    """,
    tags=("ml-eval", "average-precision", "pr-auc", "rank-statistic"),
)
def average_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average precision (the exact area under the precision-recall
    curve at every relevant hit) of the q281 linear scorer — the metric
    that, unlike AUC, weights the TOP of the ranking, which is what
    retrieval and imbalanced-label evaluation actually care about. The
    ranking is a deterministic total order (score DESC, vec_id ASC — no
    tie ambiguity), positions and relevance prefix-counts come from the
    two-level bucket cumsum over BOTH running sums at once, and each
    precision term is the integer floor (cum_rel·10⁶) div k, so the sum
    is order-insensitive µ-units; AP = Σ/R. Precision@{at} rides the
    same pass as max(cum_rel at k ≤ {at}).

    Scale posture: identical to q281 — the only ordered structure is the
    per-(score-bucket) local window plus a triangular bucket-offset
    join; scoring is one broadcast zip_with pass. No global window, no
    second scan.""".format(at=_AP_P_AT)
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.expr("transform(embedding, x -> CAST(round(x * 1000) AS BIGINT))").alias(
            "qi"
        ),
    )
    wvec = F.broadcast(
        e.filter(F.col("vec_id") == 0).select(F.col("qi").alias("wv"))
    )
    scored = (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(wvec)
        .select(
            "vec_id",
            (F.col("label") == _AUC_POS_LABEL).alias("y"),
            F.expr(
                "aggregate(zip_with(qi, wv, (x, w) -> x * w), "
                "CAST(0 AS BIGINT), (a, v) -> a + v)"
            ).alias("s"),
        )
        .withColumn("neg", -F.col("s"))
        .withColumn("rel", F.when(F.col("y"), 1).otherwise(0))
    )
    scored = scored.withColumn("bucket", F.expr(f"neg div {_AUC_BUCKET}"))
    w_loc = (
        W.partitionBy("bucket")
        .orderBy("neg", "vec_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    local = scored.withColumn("lk", F.count(F.lit(1)).over(w_loc)).withColumn(
        "lrel", F.sum("rel").over(w_loc)
    )
    totals = scored.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("t"), F.sum("rel").alias("trel")
    )
    starts = (
        totals.alias("a")
        .join(totals.alias("b"), F.col("b.bucket") < F.col("a.bucket"), "left")
        .groupBy(F.col("a.bucket").alias("bucket"))
        .agg(
            F.coalesce(F.sum("b.t"), F.lit(0)).alias("st"),
            F.coalesce(F.sum("b.trel"), F.lit(0)).alias("strel"),
        )
    )
    ranked = local.join(F.broadcast(starts), "bucket").select(
        "y",
        (F.col("st") + F.col("lk")).alias("k"),
        (F.col("strel") + F.col("lrel")).alias("cum_rel"),
    )
    agg = ranked.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_scored"),
        F.sum(F.when(F.col("y"), 1).otherwise(0)).cast("bigint").alias("n_rel"),
        F.sum(
            F.when(F.col("y"), F.expr("(cum_rel * 1000000) div k")).otherwise(0)
        )
        .cast("bigint")
        .alias("sum_prec_mu"),
        F.max(
            F.when(F.col("k") <= _AP_P_AT, F.col("cum_rel")).otherwise(0)
        )
        .cast("bigint")
        .alias("rel_at_k"),
    )
    return agg.select(
        "n_scored",
        "n_rel",
        F.expr("sum_prec_mu div n_rel").cast("bigint").alias("ap_mu"),
        F.expr(f"rel_at_k * 10000 div {_AP_P_AT}")
        .cast("bigint")
        .alias(f"p_at_{_AP_P_AT}_bp"),
    )


@query(
    "q421_expected_calibration_error",
    oracle=f"""
    WITH w AS (
      SELECT [CAST(round(x * 1000) AS BIGINT) FOR x IN embedding] AS wv
      FROM embeddings WHERE vec_id = 0
    ),
    scored AS (
      SELECT (e.label = {_AUC_POS_LABEL}) AS y,
             list_sum([CAST(round(e.embedding[i + 1] * 1000) AS BIGINT) * wv[i + 1]
                       FOR i IN range(64)]) AS s
      FROM embeddings e CROSS JOIN w
      WHERE e.vec_id != 0
    ),
    rng AS (SELECT min(s) AS smin, max(s) AS smax FROM scored),
    conf AS (
      SELECT y,
             least(((s - smin) * 10000) // (smax - smin), 9999) AS conf_bp
      FROM scored CROSS JOIN rng
    ),
    bins AS (
      SELECT conf_bp // 1000 AS bin,
             count(*)::BIGINT AS n,
             sum(CASE WHEN y THEN 1 ELSE 0 END)::BIGINT AS pos,
             sum(conf_bp)::BIGINT AS sconf
      FROM conf GROUP BY 1
    ),
    terms AS (
      SELECT bin, n,
             n * abs((pos * 10000) // n - sconf // n) AS gap_w,
             abs((pos * 10000) // n - sconf // n) AS gap
      FROM bins
    )
    SELECT (SELECT sum(n) FROM bins)::BIGINT AS n_scored,
           (SELECT count(*) FROM bins)::BIGINT AS n_bins_used,
           (sum(gap_w) // (SELECT sum(n) FROM bins))::BIGINT AS ece_bp,
           max(gap)::BIGINT AS mce_bp
    FROM terms
    """,
    tags=("ml-eval", "calibration", "ece"),
)
def expected_calibration_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected & maximum calibration error of the q281 scorer with
    min-max-normalized confidence — the reliability summary that q279's
    calibration-bin TABLE feeds: ECE = Σ_b (n_b/N)·|acc_b − conf_b| and
    MCE = max_b of the same gap, both in integer basis points (acc and
    mean-confidence per bin are integer-floor ratios, the gap is exact
    integer |·|, and the weighted sum is integer before one final div).

    Scale posture: one scoring pass (broadcast weight vector), a 2-value
    broadcast min/max, one hash-agg to the 10-bin grid, grid algebra
    after — the bin grid is constant-size at any corpus scale."""
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.expr("transform(embedding, x -> CAST(round(x * 1000) AS BIGINT))").alias(
            "qi"
        ),
    )
    wvec = F.broadcast(
        e.filter(F.col("vec_id") == 0).select(F.col("qi").alias("wv"))
    )
    scored = (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(wvec)
        .select(
            (F.col("label") == _AUC_POS_LABEL).alias("y"),
            F.expr(
                "aggregate(zip_with(qi, wv, (x, w) -> x * w), "
                "CAST(0 AS BIGINT), (a, v) -> a + v)"
            ).alias("s"),
        )
    )
    rng = F.broadcast(scored.agg(F.min("s").alias("smin"), F.max("s").alias("smax")))
    conf = scored.crossJoin(rng).select(
        "y",
        F.least(
            F.expr("((s - smin) * 10000) div (smax - smin)"), F.lit(9999)
        ).alias("conf_bp"),
    )
    bins = conf.groupBy(F.expr("conf_bp div 1000").alias("bin")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.when(F.col("y"), 1).otherwise(0)).cast("bigint").alias("pos"),
        F.sum("conf_bp").cast("bigint").alias("sconf"),
    )
    terms = bins.select(
        "bin",
        "n",
        F.expr("n * abs((pos * 10000) div n - sconf div n)").alias("gap_w"),
        F.expr("abs((pos * 10000) div n - sconf div n)").alias("gap"),
    )
    return terms.agg(
        F.sum("n").cast("bigint").alias("n_scored"),
        F.count(F.lit(1)).cast("bigint").alias("n_bins_used"),
        F.expr("sum(gap_w) div sum(n)").cast("bigint").alias("ece_bp"),
        F.max("gap").cast("bigint").alias("mce_bp"),
    )


@query(
    "q459_nelson_aalen",
    oracle="""
    WITH u AS (
      SELECT user_id, min(ts) AS start_ts,
             min(CASE WHEN event_type = 'purchase'
                       AND CAST(round(value * 100) AS BIGINT) >= 15000
                      THEN ts END) AS conv_ts
      FROM events GROUP BY user_id
    ),
    durations AS (
      SELECT user_id,
             CASE WHEN conv_ts IS NOT NULL
                  THEN date_diff('day', start_ts::DATE, conv_ts::DATE)
                  ELSE date_diff('day', start_ts::DATE, DATE '2024-01-30')
             END AS t,
             (conv_ts IS NOT NULL) AS converted
      FROM u
    ),
    byday AS (
      SELECT t, sum(CASE WHEN converted THEN 1 ELSE 0 END)::BIGINT AS d,
             sum(CASE WHEN converted THEN 0 ELSE 1 END)::BIGINT AS c
      FROM durations GROUP BY t
    ),
    risk AS (
      SELECT t, d, c,
             sum(d + c) OVER (ORDER BY t DESC)::BIGINT AS n_risk
      FROM byday
    ),
    terms AS (
      SELECT t, d, c, n_risk,
             (d * 1000000) // n_risk AS h_mu,
             (d * 1000000000000) // (n_risk * n_risk) AS v_p
      FROM risk
    )
    SELECT t AS day_t, n_risk, d AS d_events, c AS c_censored,
           sum(h_mu) OVER (ORDER BY t)::BIGINT AS cum_hazard_mu,
           sum(v_p) OVER (ORDER BY t)::BIGINT AS var_pico
    FROM terms
    ORDER BY day_t
    """,
    tags=("survival", "nelson-aalen", "hazard"),
)
def nelson_aalen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nelson–Aalen cumulative-hazard estimator over q282's
    time-to-first-big-purchase cohort: Ĥ(t) = Σ_{t_i≤t} d_i/n_i with
    the Poisson-type variance Σ d_i/n_i² — the hazard-scale companion
    to q282's Kaplan–Meier survival curve (exp(−Ĥ) ≈ KM, and the
    increments are the raw hazard a retention model fits against).

    Determinism: each hazard increment quantizes to integer micro
    (d·10⁶ div n) and each variance increment to integer pico
    (d·10¹² div n²) BEFORE the cumulative sum, so both running sums
    are exact integer window aggregates — no float accumulates.

    Scale: identical to q282 — one per-user reduce, one per-day grid,
    and ordered windows over the bounded duration grid (the global
    ORDER BY t window is grid-sized, ≤ max-duration rows)."""
    ev = table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.min("ts").alias("start_ts"),
        F.min(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.expr("CAST(round(value * 100) AS BIGINT)") >= 15000),
                F.col("ts"),
            )
        ).alias("conv_ts"),
    )
    durations = u.select(
        F.when(
            F.col("conv_ts").isNotNull(),
            F.datediff(F.col("conv_ts").cast("date"), F.col("start_ts").cast("date")),
        )
        .otherwise(
            F.datediff(F.lit("2024-01-30").cast("date"), F.col("start_ts").cast("date"))
        )
        .alias("t"),
        F.col("conv_ts").isNotNull().alias("converted"),
    )
    byday = durations.groupBy("t").agg(
        F.sum(F.when(F.col("converted"), 1).otherwise(0)).alias("d"),
        F.sum(F.when(F.col("converted"), 0).otherwise(1)).alias("c"),
    )
    w_desc = W.orderBy(F.desc("t")).rowsBetween(W.unboundedPreceding, W.currentRow)
    risk = byday.withColumn("n_risk", F.sum(F.col("d") + F.col("c")).over(w_desc))
    terms = risk.select(
        "t",
        "d",
        "c",
        "n_risk",
        F.expr("(d * 1000000) div n_risk").alias("h_mu"),
        F.expr("(d * 1000000000000) div (n_risk * n_risk)").alias("v_p"),
    )
    w_asc = W.orderBy("t").rowsBetween(W.unboundedPreceding, W.currentRow)
    return (
        terms.withColumn(
            "cum_hazard_mu", F.sum("h_mu").over(w_asc).cast("bigint")
        )
        .withColumn("var_pico", F.sum("v_p").over(w_asc))
        .select(
            F.col("t").alias("day_t"),
            "n_risk",
            F.col("d").alias("d_events"),
            F.col("c").alias("c_censored"),
            "cum_hazard_mu",
            "var_pico",
        )
        .orderBy("day_t")
    )


# q465: popularity recommender list size
_REC_K = 10


@query(
    "q465_recsys_coverage_diversity",
    oracle=f"""
    WITH pur AS (
      SELECT c.c_mktsegment AS seg, l.l_partkey AS pk,
             count(*)::BIGINT AS n
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY 1, 2
    ),
    tot AS (SELECT sum(n)::BIGINT AS t FROM pur),
    pop AS (SELECT pk, sum(n)::BIGINT AS np FROM pur GROUP BY pk),
    recs AS (
      SELECT seg, pk, n,
             row_number() OVER (PARTITION BY seg ORDER BY n DESC, pk) AS rk
      FROM pur
    ),
    lists AS (SELECT seg, pk FROM recs WHERE rk <= {_REC_K}),
    ild AS (
      SELECT a.seg,
             count(*)::BIGINT AS n_pairs,
             sum(CASE WHEN pa.p_brand != pb.p_brand THEN 1 ELSE 0 END)::BIGINT
               AS diff_pairs
      FROM lists a JOIN lists b ON b.seg = a.seg AND b.pk > a.pk
      JOIN part pa ON pa.p_partkey = a.pk
      JOIN part pb ON pb.p_partkey = b.pk
      GROUP BY a.seg
    ),
    nov AS (
      SELECT l.seg,
             count(*)::BIGINT AS k,
             sum(CAST(floor(1000000.0 * ln(CAST(t.t AS DOUBLE))) AS BIGINT)
                 - CAST(floor(1000000.0 * ln(CAST(p.np AS DOUBLE))) AS BIGINT)
             )::BIGINT AS nov_mu_sum
      FROM lists l JOIN pop p ON p.pk = l.pk CROSS JOIN tot t
      GROUP BY l.seg
    ),
    per_seg AS (
      SELECT i.seg,
             n.k AS n_items,
             (10000 * i.diff_pairs) // i.n_pairs AS ild_bp,
             (n.nov_mu_sum // n.k)::BIGINT AS novelty_mu
      FROM ild i JOIN nov n ON n.seg = i.seg
    ),
    cov AS (
      SELECT 'ALL' AS seg,
             count(DISTINCT pk)::BIGINT AS n_items,
             (10000 * count(DISTINCT pk)) // (SELECT count(*) FROM part) AS ild_bp,
             0::BIGINT AS novelty_mu
      FROM lists
    )
    SELECT seg AS segment, n_items, ild_bp::BIGINT AS ild_bp, novelty_mu
    FROM (SELECT * FROM per_seg UNION ALL SELECT * FROM cov)
    ORDER BY segment
    """,
    tags=("recsys", "eval", "coverage", "diversity", "novelty"),
)
def recsys_coverage_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Beyond-accuracy recommender evaluation of the per-segment top-{k}
    popularity recommender: intra-list diversity (share of item pairs
    from different brands, bp), novelty (mean −ln item popularity in
    integer micro-nats — the 'inverse popularity' surprise measure),
    and, on the 'ALL' row, catalog coverage@{k} (distinct recommended
    parts over the whole catalog, bp — reusing the ild_bp column as
    documented). The metric trio every recsys ships next to its
    accuracy numbers (q341 NDCG / q420 AP).

    Determinism: counts are integers; ILD/coverage are integer bp
    divisions; novelty uses the q151 ln-of-integers micro-nat floor
    with an integer mean.

    Scale: one fact hash-agg to the (segment, part) grid; top-{k} is a
    partitioned ranked window on the grid; the pair join is k²-bounded
    per segment with broadcast part dims; popularity/total are grid
    rollups.""".format(k=_REC_K)
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    orders = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    pur = materialize(
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy(
            F.col("c_mktsegment").alias("seg"), F.col("l_partkey").alias("pk")
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = pur.agg(F.sum("n").alias("t"))
    pop = pur.groupBy("pk").agg(F.sum("n").alias("np"))
    w = W.partitionBy("seg").orderBy(F.desc("n"), "pk")
    lists = materialize(
        pur.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _REC_K)
        .select("seg", "pk")
    )
    brands = table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    ild = (
        lists.alias("a")
        .join(
            lists.alias("b"),
            (F.col("b.seg") == F.col("a.seg")) & (F.col("b.pk") > F.col("a.pk")),
        )
        .join(
            F.broadcast(brands.alias("pa")), F.col("a.pk") == F.col("pa.p_partkey")
        )
        .join(
            F.broadcast(brands.alias("pb")), F.col("b.pk") == F.col("pb.p_partkey")
        )
        .groupBy(F.col("a.seg").alias("seg"))
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum(
                F.when(F.col("pa.p_brand") != F.col("pb.p_brand"), 1).otherwise(0)
            ).alias("diff_pairs"),
        )
    )
    ln6 = "CAST(floor(1000000.0 * ln(CAST({a} AS DOUBLE))) AS BIGINT)"
    nov = (
        lists.join(pop, "pk")
        .crossJoin(F.broadcast(tot))
        .groupBy("seg")
        .agg(
            F.count(F.lit(1)).alias("k"),
            F.sum(
                F.expr(f"{ln6.format(a='t')} - {ln6.format(a='np')}")
            ).alias("nov_mu_sum"),
        )
    )
    per_seg = ild.join(nov, "seg").select(
        F.col("seg").alias("segment"),
        F.col("k").alias("n_items"),
        F.expr("(10000 * diff_pairs) div n_pairs").alias("ild_bp"),
        F.expr("CAST(nov_mu_sum div k AS BIGINT)").alias("novelty_mu"),
    )
    n_parts = table(spark, sf_dir, "part").agg(F.count(F.lit(1)).alias("npart"))
    cov = (
        lists.agg(F.countDistinct("pk").alias("nd"))
        .crossJoin(F.broadcast(n_parts))
        .select(
            F.lit("ALL").alias("segment"),
            F.col("nd").alias("n_items"),
            F.expr("(10000 * nd) div npart").alias("ild_bp"),
            F.lit(0).cast("bigint").alias("novelty_mu"),
        )
    )
    return per_seg.unionByName(cov).orderBy("segment")


# ---- q473: cluster validity — simplified silhouette + Davies-Bouldin ----
# Quantized-centroid discipline: every embedding coordinate becomes an
# exact integer µ-unit (⌊10⁶v + 0.5⌋); the per-label centroid is the
# TRUNCATED integer division of the µ-sum by n (identical div semantics
# both engines), so every point↔centroid squared distance is an EXACT
# int64 sum of 64 squared µ-diffs (|diff| ≤ ~2·10⁶ → Σ ≤ 2.6·10¹⁴,
# overflow-safe at any corpus size because the centroid is bounded by
# the value range, not the row count).


@query(
    "q473_cluster_validity",
    oracle="""
    WITH pt AS (
      SELECT vec_id, label,
             list_transform(embedding,
               v -> CAST(floor(v::DOUBLE * 1000000.0 + 0.5) AS BIGINT)) AS mu
      FROM embeddings
    ),
    expl AS (
      SELECT label, d AS dim, mu[d] AS v
      FROM pt, generate_series(1, 64) AS g(d)
    ),
    cdim AS (
      SELECT label, dim, sum(v)::BIGINT AS s, count(*)::BIGINT AS n
      FROM expl GROUP BY label, dim
    ),
    cent AS (
      SELECT label AS clabel,
             list(s // n ORDER BY dim) AS cmu,
             any_value(n) AS n
      FROM cdim GROUP BY label
    ),
    d2 AS (
      SELECT p.vec_id, p.label, c.clabel,
             list_sum(list_transform(generate_series(1, 64),
               d -> (p.mu[d] - c.cmu[d]) * (p.mu[d] - c.cmu[d])))::BIGINT AS d2
      FROM pt p CROSS JOIN cent c
    ),
    ab AS (
      SELECT vec_id, label,
             min(CASE WHEN clabel = label THEN d2 END) AS a2,
             min(CASE WHEN clabel != label THEN d2 END) AS b2
      FROM d2 GROUP BY vec_id, label
    ),
    sil AS (
      SELECT label,
             count(*)::BIGINT AS n,
             sum(CAST(floor(1000000.0 *
                   (sqrt(CAST(b2 AS DOUBLE)) - sqrt(CAST(a2 AS DOUBLE)))
                   / sqrt(CAST(greatest(a2, b2) AS DOUBLE)) + 0.5) AS BIGINT)
                )::BIGINT AS s_mu_sum,
             sum(CAST(floor(sqrt(CAST(a2 AS DOUBLE)) + 0.5) AS BIGINT))::BIGINT
               AS own_dist_mu_sum
      FROM ab GROUP BY label
    ),
    sigma AS (
      SELECT label, n, s_mu_sum,
             own_dist_mu_sum // n AS sigma_mu
      FROM sil
    ),
    db AS (
      SELECT i.label,
             max((i.sigma_mu + j.sigma_mu) / 1000000.0
                 / (sqrt(CAST(list_sum(list_transform(generate_series(1, 64),
                      d -> (ci.cmu[d] - cj.cmu[d]) * (ci.cmu[d] - cj.cmu[d])))
                      AS DOUBLE)) / 1000000.0)) AS db_raw
      FROM sigma i
      JOIN sigma j ON j.label != i.label
      JOIN cent ci ON ci.clabel = i.label
      JOIN cent cj ON cj.clabel = j.label
      GROUP BY i.label
    )
    SELECT s.label, s.n,
           CAST(floor(CAST(s.s_mu_sum AS DOUBLE) / s.n) AS BIGINT)
             AS mean_silhouette_mu,
           s.sigma_mu::BIGINT AS sigma_mu,
           CAST(floor(db.db_raw * 1000000.0) AS BIGINT) AS db_component_mu
    FROM sigma s JOIN db ON db.label = s.label
    ORDER BY s.label
    """,
    tags=("ml-eval", "clustering", "silhouette", "davies-bouldin"),
)
def cluster_validity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-validity scorecard for a labeled embedding table: the
    simplified (centroid-based) silhouette s = (b−a)/max(a,b) — a/b the
    distances to the own/nearest-other centroid — plus each cluster's
    dispersion σ and its Davies–Bouldin component max_j (σi+σj)/d(ci,cj).
    This is the evaluator a clustering pipeline (q149 k-means, q464
    DBSCAN, q153 semantic dedup) publishes: which clusters are tight,
    which pair overlaps. Simplified silhouette is O(N·k) instead of the
    O(N²) pairwise form — the only version that exists at 100 TB.

    Determinism: quantized-centroid discipline (header note) — all
    distances are exact int64 µ²-sums; sqrt is the one IEEE op (correctly
    rounded, engine-identical); per-point silhouettes and distances are
    floor-quantized to µ before the mean, so no float aggregate exists.

    Scale posture: centroids are ONE hash-agg over the exploded (label,
    dim) grid → k·64 rows, broadcast back; point scoring is a map-only
    zip_with fold against the k-row centroid array table (N·k integer
    folds, no shuffle); σ and DB run on the k-row summary. The explode
    never shuffles raw vectors — only (label, dim, int) triples."""
    pt = table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.expr(
            "transform(embedding, v -> CAST(floor(CAST(v AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT))"
        ).alias("mu"),
    )
    expl = pt.select(
        "label", F.posexplode("mu").alias("dim0", "v")
    ).select("label", (F.col("dim0") + 1).alias("dim"), "v")
    cdim = expl.groupBy("label", "dim").agg(
        F.sum("v").cast("bigint").alias("s"), F.count(F.lit(1)).cast("bigint").alias("n")
    )
    # cent is k rows but feeds THREE broadcast subtrees (point scoring +
    # both sides of the centroid-distance cross); broadcast branches don't
    # share plans, so unmaterialized each one re-ran the corpus explode +
    # grid agg (16-scan / 6-SMJ plan). The barrier pins the k rows once
    # (guide §1.2).
    cent = materialize(
        cdim.select(
            F.col("label").alias("clabel"),
            "dim",
            F.expr("s div n").alias("c"),
            "n",
        )
        .groupBy("clabel")
        .agg(
            F.expr("transform(array_sort(collect_list(struct(dim, c))), x -> x.c)").alias("cmu"),
            F.first("n").alias("n"),
        )
    )
    d2 = pt.crossJoin(F.broadcast(cent.select("clabel", "cmu"))).select(
        "vec_id",
        "label",
        "clabel",
        F.expr(
            "aggregate(zip_with(mu, cmu, (x, y) -> (x - y) * (x - y)), "
            "CAST(0 AS BIGINT), (acc, v) -> acc + v)"
        ).alias("d2"),
    )
    ab = d2.groupBy("vec_id", "label").agg(
        F.min(F.expr("CASE WHEN clabel = label THEN d2 END")).alias("a2"),
        F.min(F.expr("CASE WHEN clabel != label THEN d2 END")).alias("b2"),
    )
    sil = ab.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(
            F.expr(
                "CAST(floor(1000000.0 * (sqrt(CAST(b2 AS DOUBLE)) - sqrt(CAST(a2 AS DOUBLE)))"
                " / sqrt(CAST(greatest(a2, b2) AS DOUBLE)) + 0.5) AS BIGINT)"
            )
        )
        .cast("bigint")
        .alias("s_mu_sum"),
        F.sum(F.expr("CAST(floor(sqrt(CAST(a2 AS DOUBLE)) + 0.5) AS BIGINT)"))
        .cast("bigint")
        .alias("own_dist_mu_sum"),
    )
    # sigma: k rows referenced three times (both DB-join sides + the final
    # join); each unmaterialized reference re-ran the whole N·k scoring
    # chain — same barrier as cent above.
    sigma = materialize(
        sil.select(
            "label", "n", "s_mu_sum", F.expr("own_dist_mu_sum div n").alias("sigma_mu")
        )
    )
    cent_b = F.broadcast(cent.select("clabel", "cmu"))
    cdist = (
        cent_b.alias("ci")
        .crossJoin(cent_b.alias("cj"))
        .filter(F.col("ci.clabel") != F.col("cj.clabel"))
        .select(
            F.col("ci.clabel").alias("li"),
            F.col("cj.clabel").alias("lj"),
            F.expr(
                "sqrt(CAST(aggregate(zip_with(ci.cmu, cj.cmu, (x, y) -> (x - y) * (x - y)), "
                "CAST(0 AS BIGINT), (acc, v) -> acc + v) AS DOUBLE)) / 1000000.0"
            ).alias("cd"),
        )
    )
    # checkpointed RDDs carry no size stats — hint the k-row sides or the
    # planner sort-merges 5-row joins
    db = (
        sigma.alias("i")
        .join(F.broadcast(cdist), F.col("i.label") == F.col("li"))
        .join(
            F.broadcast(
                sigma.select(
                    F.col("label").alias("lj"), F.col("sigma_mu").alias("sigma_mu_j")
                )
            ),
            "lj",
        )
        .groupBy(F.col("i.label").alias("label"))
        .agg(
            F.max(
                F.expr("(sigma_mu + sigma_mu_j) / 1000000.0 / cd")
            ).alias("db_raw")
        )
    )
    return (
        sigma.join(F.broadcast(db), "label")
        .select(
            "label",
            "n",
            # floor-µ outputs (SCALE.md discipline) — the earlier
            # round(x/10^k, 6) shapes were the banned round-on-quotient
            # class; s_mu_sum/n is already µ-scaled so floor(÷n) IS µ
            F.expr("CAST(floor(CAST(s_mu_sum AS DOUBLE) / n) AS BIGINT)").alias(
                "mean_silhouette_mu"
            ),
            F.col("sigma_mu").cast("bigint").alias("sigma_mu"),
            F.expr("CAST(floor(db_raw * 1000000.0) AS BIGINT)").alias(
                "db_component_mu"
            ),
        )
        .orderBy("label")
    )


# ---- q484: Qini uplift curve ----------------------------------------------
from kinesis_customer_sample_spark.functions import tok_hash_expr as _tok_hash


@query(
    "q484_qini_uplift_curve",
    oracle=f"""
    WITH per_user AS (
      SELECT user_id,
             user_id % 10 AS cohort,
             ({_tok_hash("'up-' || user_id::VARCHAR", dialect="duckdb")}) % 2
               AS treated,
             count(*)::BIGINT AS score,
             max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT
               AS converted
      FROM events GROUP BY user_id
    ),
    grid AS (
      SELECT cohort, score,
             sum(CASE WHEN treated = 1 THEN 1 ELSE 0 END)::BIGINT AS n_t,
             sum(CASE WHEN treated = 0 THEN 1 ELSE 0 END)::BIGINT AS n_c,
             sum(CASE WHEN treated = 1 THEN converted ELSE 0 END)::BIGINT AS conv_t,
             sum(CASE WHEN treated = 0 THEN converted ELSE 0 END)::BIGINT AS conv_c
      FROM per_user GROUP BY cohort, score
    ),
    cum AS (
      SELECT cohort, score,
             sum(n_t) OVER w::BIGINT AS n_t_cum,
             sum(n_c) OVER w::BIGINT AS n_c_cum,
             sum(conv_t) OVER w::BIGINT AS conv_t_cum,
             sum(conv_c) OVER w::BIGINT AS conv_c_cum
      FROM grid
      WINDOW w AS (PARTITION BY cohort ORDER BY score DESC)
    )
    SELECT cohort::BIGINT AS cohort, score, n_t_cum, n_c_cum,
           conv_t_cum, conv_c_cum,
           CASE WHEN n_c_cum = 0 THEN 0 ELSE
             CAST((1000 * (conv_t_cum::HUGEINT * n_c_cum
                           - conv_c_cum::HUGEINT * n_t_cum)) // n_c_cum
                  AS BIGINT) END AS qini_milli
    FROM cum ORDER BY cohort, score DESC
    """,
    tags=("ml-eval", "uplift", "qini", "causal"),
)
def qini_uplift_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Qini uplift curve — the evaluation standard for targeting models:
    rank users by the model's score (here: activity volume, the
    deterministic stand-in), sweep the targeting threshold from the top
    down, and at each threshold report the INCREMENTAL conversions
    Qini(t) = conv_t - conv_c * N_t/N_c. A model that just predicts
    conversion (not uplift) produces a flat-to-falling curve; the area
    under this curve is the Qini coefficient. Treatment is q261's
    deterministic hash arm, so the curve needs no assignment table.
    Stratified per cohort — uplift analyses always report segment
    curves next to the pooled one.

    Determinism: per-user score/conversion/arm are exact integers; the
    curve lives on the (cohort, score) grid with integer cumulative
    window sums; the Qini value is one integer cross-multiplication in
    128-bit (DECIMAL(38,0) / HUGEINT — conv*N products pass int64 near
    1e9 users per stratum) with a truncating division and the n_c=0
    guard as the shared 0 sentinel.

    Scale posture (100 TB): one per-user hash-agg (map-side combined),
    one grid hash-agg, then windows PARTITIONED BY cohort over the
    bounded (cohort x distinct-score) grid — the q92 two-level pattern;
    no per-user window, no global sort."""
    per_user = (
        table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("score"),
            F.max(
                F.expr("CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END")
            )
            .cast("bigint")
            .alias("converted"),
        )
        .select(
            (F.col("user_id") % 10).alias("cohort"),
            F.expr(
                f"({_tok_hash(chr(39) + 'up-' + chr(39) + ' || CAST(user_id AS STRING)', dialect='spark')}) % 2"
            ).alias("treated"),
            "score",
            "converted",
        )
    )
    grid = per_user.groupBy("cohort", "score").agg(
        F.sum(F.expr("CASE WHEN treated = 1 THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("n_t"),
        F.sum(F.expr("CASE WHEN treated = 0 THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("n_c"),
        F.sum(F.expr("CASE WHEN treated = 1 THEN converted ELSE 0 END"))
        .cast("bigint")
        .alias("conv_t"),
        F.sum(F.expr("CASE WHEN treated = 0 THEN converted ELSE 0 END"))
        .cast("bigint")
        .alias("conv_c"),
    )
    w = W.partitionBy("cohort").orderBy(F.col("score").desc())
    cum = grid.select(
        "cohort",
        "score",
        F.sum("n_t").over(w).cast("bigint").alias("n_t_cum"),
        F.sum("n_c").over(w).cast("bigint").alias("n_c_cum"),
        F.sum("conv_t").over(w).cast("bigint").alias("conv_t_cum"),
        F.sum("conv_c").over(w).cast("bigint").alias("conv_c_cum"),
    )
    return cum.select(
        F.col("cohort").cast("bigint").alias("cohort"),
        "score",
        "n_t_cum",
        "n_c_cum",
        "conv_t_cum",
        "conv_c_cum",
        F.expr(
            "CASE WHEN n_c_cum = 0 THEN 0 ELSE "
            "CAST((1000 * (CAST(conv_t_cum AS DECIMAL(38,0)) * n_c_cum"
            "              - CAST(conv_c_cum AS DECIMAL(38,0)) * n_t_cum))"
            " div n_c_cum AS BIGINT) END"
        ).alias("qini_milli"),
    ).orderBy("cohort", F.col("score").desc())


# ---- q491: log-rank test (two-group survival comparison) -------------------


@query(
    "q491_logrank_test",
    oracle=f"""
    WITH u AS (
      SELECT user_id,
             ({_tok_hash("'ab-' || user_id::VARCHAR", dialect="duckdb")}) % 2 AS g,
             min(ts) AS start_ts,
             min(CASE WHEN event_type = 'purchase'
                       AND CAST(round(value * 100) AS BIGINT) >= {_KM_CONV_CENTS}
                      THEN ts END) AS conv_ts
      FROM events GROUP BY user_id
    ),
    durations AS (
      SELECT g,
             CASE WHEN conv_ts IS NOT NULL
                  THEN date_diff('day', start_ts::DATE, conv_ts::DATE)
                  ELSE date_diff('day', start_ts::DATE, DATE '{_KM_OBS_END}')
             END AS t,
             (conv_ts IS NOT NULL) AS converted
      FROM u
    ),
    byday AS (
      SELECT t,
             sum(CASE WHEN g = 1 AND converted THEN 1 ELSE 0 END)::BIGINT AS d1,
             sum(CASE WHEN g = 0 AND converted THEN 1 ELSE 0 END)::BIGINT AS d0,
             sum(CASE WHEN g = 1 THEN 1 ELSE 0 END)::BIGINT AS leave1,
             sum(CASE WHEN g = 0 THEN 1 ELSE 0 END)::BIGINT AS leave0
      FROM durations GROUP BY t
    ),
    risk AS (
      SELECT t, d1, d0,
             sum(leave1) OVER (ORDER BY t DESC)::BIGINT AS n1,
             sum(leave0) OVER (ORDER BY t DESC)::BIGINT AS n0
      FROM byday
    ),
    terms AS (
      SELECT t, d1, d0, n1, n0,
             (d1 + d0) AS d, (n1 + n0) AS n,
             ((d1 + d0) * n1 * 1000000 // (n1 + n0))::BIGINT AS e1_mu,
             CASE WHEN n1 + n0 > 1 THEN
               CAST((CAST(d1 + d0 AS HUGEINT) * n1 * n0
                     * (n1 + n0 - d1 - d0) * 1000000)
                    // (CAST(n1 + n0 AS HUGEINT) * (n1 + n0) * (n1 + n0 - 1))
                    AS BIGINT)
             ELSE 0 END AS v_mu
      FROM risk WHERE d1 + d0 > 0
    ),
    sums AS (
      SELECT count(*)::BIGINT AS n_event_days,
             sum(d1)::BIGINT AS o1,
             sum(e1_mu)::BIGINT AS e1_mu_sum,
             sum(v_mu)::BIGINT AS v_mu_sum
      FROM terms
    )
    SELECT n_event_days, o1, e1_mu_sum, v_mu_sum,
           CAST(floor(least(greatest(
                 (CAST(o1 * 1000000 - e1_mu_sum AS DOUBLE) / 1000000.0)
                 * (CAST(o1 * 1000000 - e1_mu_sum AS DOUBLE) / 1000000.0)
                 / (CAST(v_mu_sum AS DOUBLE) / 1000000.0) * 1e6,
                 -9.0e18), 9.0e18)) AS BIGINT) AS chi2_mu,
           CASE WHEN (CAST(o1 * 1000000 - e1_mu_sum AS DOUBLE) / 1000000.0)
                     * (CAST(o1 * 1000000 - e1_mu_sum AS DOUBLE) / 1000000.0)
                     / (CAST(v_mu_sum AS DOUBLE) / 1000000.0) > 3.841459
                THEN 1 ELSE 0 END AS reject_h0
    FROM sums
    """,
    tags=("survival", "logrank", "hypothesis-test", "ml-eval"),
)
def logrank_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-rank (Mantel-Cox) test — THE standard comparison of two
    survival curves: does the hash-assigned treatment arm reach the
    first-big-purchase event at a different rate than control, honoring
    right-censoring? At every event day the observed arm-1 events are
    compared with the hypergeometric expectation d*n1/n given the
    at-risk sets, and chi2 = (O-E)^2/V with the standard variance. This
    is the inferential companion to q282/q384's Kaplan-Meier CURVES and
    q459's Nelson-Aalen hazard — those estimate, this one tests.

    Determinism: risk sets come from reversed integer cumsums per arm
    (the q282 shape); per-day E and V are floor-quantized integer
    micro-units (V's 4-integer product runs in HUGEINT/DECIMAL(38,0) —
    d*n1*n0*(n-d)*1e6 passes int64 at ~1e5 users); O, sums of E_mu and
    V_mu are exact int64; chi2 is one shared double expression.

    Scale posture (100 TB): one per-user hash-agg, one per-day hash-agg,
    two reversed cumsums over the bounded day grid, one global
    reduction. No per-user windows, no joins beyond the grid."""
    ev = table(spark, sf_dir, "events")
    arm = f"({_tok_hash(chr(39) + 'ab-' + chr(39) + ' || CAST(user_id AS STRING)', dialect='spark')}) % 2"
    u = ev.groupBy("user_id").agg(
        F.min("ts").alias("start_ts"),
        F.min(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.round(F.col("value") * 100).cast("bigint") >= _KM_CONV_CENTS),
                F.col("ts"),
            )
        ).alias("conv_ts"),
    ).select(F.expr(arm).alias("g"), "start_ts", "conv_ts")
    durations = u.select(
        "g",
        F.when(
            F.col("conv_ts").isNotNull(),
            F.datediff(F.col("conv_ts").cast("date"), F.col("start_ts").cast("date")),
        )
        .otherwise(
            F.datediff(F.lit(_KM_OBS_END).cast("date"), F.col("start_ts").cast("date"))
        )
        .alias("t"),
        F.col("conv_ts").isNotNull().alias("converted"),
    )
    byday = durations.groupBy("t").agg(
        F.sum(F.expr("CASE WHEN g = 1 AND converted THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("d1"),
        F.sum(F.expr("CASE WHEN g = 0 AND converted THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("d0"),
        F.sum(F.expr("CASE WHEN g = 1 THEN 1 ELSE 0 END")).cast("bigint").alias("leave1"),
        F.sum(F.expr("CASE WHEN g = 0 THEN 1 ELSE 0 END")).cast("bigint").alias("leave0"),
    )
    w_rev = W.orderBy(F.col("t").desc()).rowsBetween(W.unboundedPreceding, W.currentRow)
    risk = byday.select(
        "t",
        "d1",
        "d0",
        F.sum("leave1").over(w_rev).cast("bigint").alias("n1"),
        F.sum("leave0").over(w_rev).cast("bigint").alias("n0"),
    )
    terms = risk.filter(F.expr("d1 + d0 > 0")).select(
        "d1",
        F.expr("(d1 + d0) * n1 * 1000000 div (n1 + n0)").cast("bigint").alias("e1_mu"),
        F.expr(
            "CASE WHEN n1 + n0 > 1 THEN "
            "CAST((CAST(d1 + d0 AS DECIMAL(38,0)) * n1 * n0 "
            "      * (n1 + n0 - d1 - d0) * 1000000) "
            "     div (CAST(n1 + n0 AS DECIMAL(38,0)) * (n1 + n0) * (n1 + n0 - 1)) "
            "     AS BIGINT) ELSE 0 END"
        ).alias("v_mu"),
    )
    sums = terms.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_event_days"),
        F.sum("d1").cast("bigint").alias("o1"),
        F.sum("e1_mu").cast("bigint").alias("e1_mu_sum"),
        F.sum("v_mu").cast("bigint").alias("v_mu_sum"),
    )
    chi2 = (
        "(CAST(o1 * 1000000 - e1_mu_sum AS DOUBLE) / 1000000.0)"
        " * (CAST(o1 * 1000000 - e1_mu_sum AS DOUBLE) / 1000000.0)"
        " / (CAST(v_mu_sum AS DOUBLE) / 1000000.0)"
    )
    return sums.select(
        "n_event_days",
        "o1",
        "e1_mu_sum",
        "v_mu_sum",
        # floor-µ output, clamped before the cast (degenerate variance
        # sends the quotient past int64: DuckDB errors, Spark saturates)
        F.expr(
            f"CAST(floor(least(greatest({chi2} * 1e6, -9.0e18), 9.0e18))"
            " AS BIGINT)"
        ).alias("chi2_mu"),
        F.expr(f"CASE WHEN {chi2} > 3.841459 THEN 1 ELSE 0 END").alias("reject_h0"),
    )


# ---- q498: k-fold cross-validated decision stump ---------------------------
_CV_FOLDS = 5
_CV_THRESHOLDS = tuple(range(100, 260, 10))  # stump candidates on n_chars


@query(
    "q498_cv_stump_eval",
    oracle=f"""
    WITH base AS (
      SELECT doc_id % {_CV_FOLDS} AS fold, n_chars,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
      FROM documents
    ),
    grid AS (
      SELECT fold, n_chars, y, count(*)::BIGINT AS c
      FROM base GROUP BY 1, 2, 3
    ),
    th AS (SELECT unnest([{", ".join(str(t) for t in _CV_THRESHOLDS)}]) AS t),
    cell AS (
      -- per (fold, threshold): rows correct under "predict y=1 iff
      -- n_chars >= t" that belong to this fold
      SELECT g.fold, th.t,
             sum(g.c)::BIGINT AS n,
             sum(CASE WHEN (CASE WHEN g.n_chars >= th.t THEN 1 ELSE 0 END) = g.y
                      THEN g.c ELSE 0 END)::BIGINT AS ok
      FROM grid g CROSS JOIN th GROUP BY 1, 2
    ),
    tot AS (
      SELECT t, sum(n)::BIGINT AS n_all, sum(ok)::BIGINT AS ok_all
      FROM cell GROUP BY t
    ),
    train AS (
      SELECT c.fold, c.t,
             (o.n_all - c.n) AS n_train, (o.ok_all - c.ok) AS ok_train,
             c.n AS n_test, c.ok AS ok_test,
             row_number() OVER (
               PARTITION BY c.fold
               ORDER BY (o.ok_all - c.ok) * 1000000 // (o.n_all - c.n) DESC, c.t
             ) AS rk
      FROM cell c JOIN tot o ON o.t = c.t
    )
    SELECT fold::BIGINT AS fold, t::BIGINT AS chosen_threshold,
           (ok_train * 10000 // n_train)::BIGINT AS train_acc_bp,
           (ok_test * 10000 // n_test)::BIGINT AS test_acc_bp,
           n_test
    FROM train WHERE rk = 1 ORDER BY fold
    """,
    tags=("ml-eval", "cross-validation", "stump", "leakage-safe"),
)
def cv_stump_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-fold cross-validated decision stump — the leakage-safe model-
    evaluation PROTOCOL, demonstrated end to end: for each fold, train
    (pick the accuracy-maximizing threshold on the OTHER folds only)
    and evaluate on the held-out fold. The train-vs-test accuracy gap
    per fold is the overfitting evidence; q394 trains the same stump on
    everything (in-sample), q342 target-encodes out-of-fold — this one
    completes the CV triad by selecting a HYPERPARAMETER out-of-fold.

    Determinism: folds are doc_id % 5 (exact); the threshold grid is a
    shared literal; per-(fold, threshold) counts are exact integers;
    train stats come from the total-minus-fold identity (no second
    scan); the argmax uses integer micro-accuracy with the smaller-
    threshold tiebreak. No float anywhere.

    Scale posture (100 TB): one hash-agg to the (fold, n_chars, label)
    grid; the x16-threshold fan-out runs on that bounded grid, never on
    rows; train selection is a window over 16 rows per fold."""
    base = table(spark, sf_dir, "documents").select(
        (F.col("doc_id") % _CV_FOLDS).alias("fold"),
        "n_chars",
        F.expr("CASE WHEN lang = 'en' THEN 1 ELSE 0 END").alias("y"),
    )
    grid = base.groupBy("fold", "n_chars", "y").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    th = spark.createDataFrame(
        [(t,) for t in _CV_THRESHOLDS], "t int"
    )
    cell = (
        grid.crossJoin(F.broadcast(th))
        .groupBy("fold", "t")
        .agg(
            F.sum("c").cast("bigint").alias("n"),
            F.sum(
                F.expr(
                    "CASE WHEN (CASE WHEN n_chars >= t THEN 1 ELSE 0 END) = y "
                    "THEN c ELSE 0 END"
                )
            )
            .cast("bigint")
            .alias("ok"),
        )
    )
    tot = cell.groupBy("t").agg(
        F.sum("n").cast("bigint").alias("n_all"),
        F.sum("ok").cast("bigint").alias("ok_all"),
    )
    train = cell.join(F.broadcast(tot), "t").select(
        "fold",
        "t",
        (F.col("n_all") - F.col("n")).alias("n_train"),
        (F.col("ok_all") - F.col("ok")).alias("ok_train"),
        F.col("n").alias("n_test"),
        F.col("ok").alias("ok_test"),
        F.row_number()
        .over(
            W.partitionBy("fold").orderBy(
                F.expr("(ok_all - ok) * 1000000 div (n_all - n)").desc(), "t"
            )
        )
        .alias("rk"),
    )
    return (
        train.filter(F.col("rk") == 1)
        .select(
            F.col("fold").cast("bigint").alias("fold"),
            F.col("t").cast("bigint").alias("chosen_threshold"),
            F.expr("ok_train * 10000 div n_train").cast("bigint").alias("train_acc_bp"),
            F.expr("ok_test * 10000 div n_test").cast("bigint").alias("test_acc_bp"),
            "n_test",
        )
        .orderBy("fold")
    )


# ---- q503: point-biserial univariate feature screen --------------------------
_PB_POS_LABEL = 0
_PB_TOPK = 10
_PB_R = (
    # r_pb = (s1/n1 - s0/n0) / sigma * sqrt(n1*n0)/n,
    # sigma^2 = (n*sq - (s1+s0)^2)/n^2 — one shared double expression
    "((CAST(s1 AS DOUBLE) / n1 - CAST(s0 AS DOUBLE) / n0)"
    " / sqrt((CAST(n1 + n0 AS DOUBLE) * sq"
    "         - (CAST(s1 AS DOUBLE) + s0) * (CAST(s1 AS DOUBLE) + s0))"
    "        / (CAST(n1 + n0 AS DOUBLE) * (n1 + n0)))"
    " * sqrt(CAST(n1 AS DOUBLE) * n0) / (n1 + n0))"
)


@query(
    "q503_point_biserial_screen",
    oracle=f"""
    WITH expl AS (
      SELECT CASE WHEN label = {_PB_POS_LABEL} THEN 1 ELSE 0 END AS y,
             unnest(range(1, 65)) AS dim,
             unnest([CAST(floor(1000000.0 * CAST(x AS DOUBLE)) AS BIGINT)
                     for x in embedding]) AS qv
      FROM embeddings
    ),
    per_dim AS (
      SELECT dim,
             sum(y)::BIGINT AS n1, sum(1 - y)::BIGINT AS n0,
             sum(CASE WHEN y = 1 THEN qv ELSE 0 END)::BIGINT AS s1,
             sum(CASE WHEN y = 0 THEN qv ELSE 0 END)::BIGINT AS s0,
             sum(qv * qv)::BIGINT AS sq
      FROM expl GROUP BY dim
    ),
    scored AS (
      SELECT dim::BIGINT AS dim, n1, n0,
             CAST(floor(({_PB_R}) * 1e6) AS BIGINT) AS r_pb_mu,
             row_number() OVER (
               ORDER BY CAST(floor(abs({_PB_R}) * 1e6) AS BIGINT) DESC, dim)
               AS rank
      FROM per_dim
    )
    SELECT rank::BIGINT AS rank, dim, n1, n0, r_pb_mu
    FROM scored WHERE rank <= {_PB_TOPK} ORDER BY rank
    """,
    tags=("ml-eval", "feature-screen", "point-biserial", "univariate"),
)
def point_biserial_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-biserial univariate feature screen — the first pass of every
    feature-selection pipeline: for each of the 64 embedding dimensions,
    the correlation between the (quantized) feature and the binary
    label, ranked by |r|. Its square is the per-feature share of label
    variance explained, and the top-k list is what q394's stump / q456's
    logistic regression should be fed first. Complements q365's
    information gain (which needs binning) with the parametric screen
    that needs none.

    Determinism: features quantize to floor-mu integers (float32->double
    exact); each dimension's five sufficient statistics are exact int64
    hash-agg outputs; r is one shared double expression; ranking orders
    by the ROUNDED r with the dim tiebreak, so the top-k set cannot
    diverge cross-engine. sq <= 64-dim bound (~4e12 per row-dim; 1e9
    rows -> ~4e21 needs DECIMAL — documented, q311's note).

    Scale posture (100 TB): one posexplode to (row, dim) pairs feeding
    ONE map-side-combined hash-agg with 64 output rows; the screen
    itself is a 64-row window. Nothing but integers ever shuffles."""
    expl = table(spark, sf_dir, "embeddings").select(
        F.expr(f"CASE WHEN label = {_PB_POS_LABEL} THEN 1 ELSE 0 END").alias("y"),
        F.posexplode("embedding").alias("dim0", "v"),
    ).select(
        "y",
        (F.col("dim0") + 1).cast("bigint").alias("dim"),
        F.expr("CAST(floor(1000000.0 * CAST(v AS DOUBLE)) AS BIGINT)").alias("qv"),
    )
    per_dim = expl.groupBy("dim").agg(
        F.sum("y").cast("bigint").alias("n1"),
        F.sum(F.expr("1 - y")).cast("bigint").alias("n0"),
        F.sum(F.expr("CASE WHEN y = 1 THEN qv ELSE 0 END")).cast("bigint").alias("s1"),
        F.sum(F.expr("CASE WHEN y = 0 THEN qv ELSE 0 END")).cast("bigint").alias("s0"),
        F.sum(F.expr("qv * qv")).cast("bigint").alias("sq"),
    )
    scored = per_dim.select(
        "dim",
        "n1",
        "n0",
        # floor-µ output (SCALE.md round-on-quotient ban)
        F.expr(f"CAST(floor(({_PB_R}) * 1e6) AS BIGINT)").alias("r_pb_mu"),
        # rank on floor(|r|·10⁶), not |floor(r·10⁶)|: flooring the signed
        # value first would bias ties toward negative correlations
        F.expr(f"CAST(floor(abs({_PB_R}) * 1e6) AS BIGINT)").alias("abs_mu"),
    ).select(
        "dim",
        "n1",
        "n0",
        "r_pb_mu",
        F.row_number()
        .over(W.orderBy(F.col("abs_mu").desc(), "dim"))
        .cast("bigint")
        .alias("rank"),
    )
    return (
        scored.filter(F.col("rank") <= _PB_TOPK)
        .select("rank", "dim", "n1", "n0", "r_pb_mu")
        .orderBy("rank")
    )


# ---- q504: precision-recall curve + best-F1 threshold ------------------------
_PR_K = 20


@query(
    "q504_pr_curve_f1",
    oracle=f"""
    WITH w AS (
      SELECT [CAST(round(x * 1000) AS BIGINT) FOR x IN embedding] AS wv
      FROM embeddings WHERE vec_id = 0
    ),
    scored AS (
      SELECT CASE WHEN e.label = {_AUC_POS_LABEL} THEN 1 ELSE 0 END AS y,
             list_sum([CAST(round(e.embedding[i + 1] * 1000) AS BIGINT) * wv[i + 1]
                       FOR i IN range(64)]) AS s
      FROM embeddings e CROSS JOIN w
      WHERE e.vec_id != 0
    ),
    bounds AS (
      SELECT min(s) AS smin, max(s) - min(s) + 1 AS span,
             sum(y)::BIGINT AS n_pos
      FROM scored
    ),
    binned AS (
      SELECT least((s - b.smin) * {_PR_K} // b.span, {_PR_K} - 1) AS ck,
             sum(y)::BIGINT AS pos, count(*)::BIGINT AS n
      FROM scored CROSS JOIN bounds b
      GROUP BY 1
    ),
    grid AS (SELECT unnest(range(0, {_PR_K}))::BIGINT AS k),
    cum AS (
      SELECT g.k,
             coalesce(sum(CASE WHEN bn.ck >= g.k THEN bn.pos END), 0)::BIGINT AS tp,
             coalesce(sum(CASE WHEN bn.ck >= g.k THEN bn.n - bn.pos END), 0)::BIGINT
               AS fp
      FROM grid g LEFT JOIN binned bn ON bn.ck >= g.k
      GROUP BY g.k
    ),
    pr AS (
      SELECT c.k, (b.smin + c.k * b.span // {_PR_K})::BIGINT AS threshold,
             c.tp, c.fp, (b.n_pos - c.tp)::BIGINT AS fn,
             CASE WHEN c.tp + c.fp = 0 THEN -1
                  ELSE (c.tp * 10000 // (c.tp + c.fp)) END AS precision_bp,
             (c.tp * 10000 // b.n_pos)::BIGINT AS recall_bp,
             CASE WHEN c.tp = 0 THEN 0
                  ELSE (2 * c.tp * 10000 // (2 * c.tp + c.fp + b.n_pos - c.tp)) END
               AS f1_bp
      FROM cum c CROSS JOIN bounds b
    )
    SELECT k, threshold, tp, fp, fn, precision_bp, recall_bp, f1_bp,
           CASE WHEN row_number() OVER (ORDER BY f1_bp DESC, k) = 1
                THEN 1 ELSE 0 END AS is_best_f1
    FROM pr ORDER BY k
    """,
    tags=("ml-eval", "precision-recall", "f1", "threshold"),
)
def pr_curve_f1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision-recall curve + best-F1 operating point — the
    threshold-tuning report that turns q281's ranking quality (AUC) into
    a DEPLOYABLE decision: sweep 20 key-range thresholds over the linear
    scorer (q281's integer dot product), report TP/FP/FN, precision,
    recall and F1 at each, and flag the F1-maximizing threshold. q420's
    average precision integrates this curve; this emits the curve itself
    plus the argmax a serving config actually needs.

    Determinism: scores are exact integer dot products; checkpoint
    assignment is the q490 key-range integer ceil; cumulative TP/FP are
    integer sums over the 20-row grid; precision/recall/F1 are exact
    integer basis points (F1 = 2TP/(2TP+FP+FN) — single truncating
    division, no float at all); the best flag uses the (f1, k) total
    order.

    Scale posture (100 TB): one map-side scorer pass + hash-agg to the
    <= 20-bin histogram; the curve algebra runs entirely on the 20-row
    grid. The scorer is the q281 broadcast zip_with — no shuffle carries
    anything fact-sized but the integer (bin, counts) rows."""
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.expr("transform(embedding, x -> CAST(round(x * 1000) AS BIGINT))").alias(
            "qi"
        ),
    )
    wvec = F.broadcast(
        e.filter(F.col("vec_id") == 0).select(F.col("qi").alias("wv"))
    )
    scored = (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(wvec)
        .select(
            F.expr(f"CASE WHEN label = {_AUC_POS_LABEL} THEN 1 ELSE 0 END").alias("y"),
            F.expr(
                "aggregate(zip_with(qi, wv, (x, w) -> x * w), "
                "CAST(0 AS BIGINT), (a, v) -> a + v)"
            ).alias("s"),
        )
    )
    bounds = F.broadcast(
        scored.agg(
            F.min("s").alias("smin"),
            (F.max("s") - F.min("s") + 1).alias("span"),
            F.sum("y").cast("bigint").alias("n_pos"),
        )
    )
    binned = (
        scored.crossJoin(bounds)
        .groupBy(
            F.expr(f"least((s - smin) * {_PR_K} div span, {_PR_K} - 1)").alias("ck")
        )
        .agg(
            F.sum("y").cast("bigint").alias("pos"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
        )
    )
    grid = spark.range(0, _PR_K).select(F.col("id").cast("bigint").alias("k"))
    cum = (
        grid.join(F.broadcast(binned), F.col("ck") >= F.col("k"), "left")
        .groupBy("k")
        .agg(
            F.coalesce(F.sum("pos"), F.lit(0)).cast("bigint").alias("tp"),
            F.coalesce(F.sum(F.expr("n - pos")), F.lit(0)).cast("bigint").alias("fp"),
        )
    )
    pr = cum.crossJoin(bounds).select(
        "k",
        F.expr(f"smin + k * span div {_PR_K}").cast("bigint").alias("threshold"),
        "tp",
        "fp",
        (F.col("n_pos") - F.col("tp")).cast("bigint").alias("fn"),
        F.expr(
            "CASE WHEN tp + fp = 0 THEN -1 ELSE tp * 10000 div (tp + fp) END"
        ).alias("precision_bp"),
        F.expr("tp * 10000 div n_pos").cast("bigint").alias("recall_bp"),
        F.expr(
            "CASE WHEN tp = 0 THEN 0 "
            "ELSE 2 * tp * 10000 div (2 * tp + fp + n_pos - tp) END"
        ).alias("f1_bp"),
    )
    return pr.select(
        "k",
        "threshold",
        "tp",
        "fp",
        "fn",
        "precision_bp",
        "recall_bp",
        "f1_bp",
        F.expr(
            "CASE WHEN row_number() OVER (ORDER BY f1_bp DESC, k) = 1 "
            "THEN 1 ELSE 0 END"
        ).alias("is_best_f1"),
    ).orderBy("k")


# ---- q505: disparate-impact (four-fifths rule) audit --------------------------
_DI_THRESHOLD = 0  # decision boundary on the integer score (sign decision)
_DI_FOUR_FIFTHS_BP = 8000


@query(
    "q505_disparate_impact_audit",
    oracle=f"""
    WITH w AS (
      SELECT [CAST(round(x * 1000) AS BIGINT) FOR x IN embedding] AS wv
      FROM embeddings WHERE vec_id = 0
    ),
    scored AS (
      SELECT e.label AS grp,
             CASE WHEN list_sum(
               [CAST(round(e.embedding[i + 1] * 1000) AS BIGINT) * wv[i + 1]
                FOR i IN range(64)]) >= {_DI_THRESHOLD} THEN 1 ELSE 0 END AS pos
      FROM embeddings e CROSS JOIN w
      WHERE e.vec_id != 0
    ),
    rates AS (
      SELECT grp, count(*)::BIGINT AS n, sum(pos)::BIGINT AS n_pos,
             (sum(pos) * 10000 // count(*))::BIGINT AS pos_rate_bp
      FROM scored GROUP BY grp
    ),
    mx AS (SELECT max(pos_rate_bp) AS max_rate_bp FROM rates)
    SELECT r.grp::BIGINT AS grp, r.n, r.n_pos, r.pos_rate_bp,
           m.max_rate_bp::BIGINT AS max_rate_bp,
           (r.pos_rate_bp * 10000 // m.max_rate_bp)::BIGINT AS impact_ratio_bp,
           CASE WHEN r.pos_rate_bp * 10000 // m.max_rate_bp
                     < {_DI_FOUR_FIFTHS_BP} THEN 1 ELSE 0 END
             AS four_fifths_violation
    FROM rates r CROSS JOIN mx m
    ORDER BY grp
    """,
    tags=("ml-eval", "fairness", "disparate-impact", "governance"),
)
def disparate_impact_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Disparate-impact audit (the EEOC four-fifths rule) — the model-
    governance report every deployed classifier owes its review board:
    per group (the embedding cluster label standing in for the protected
    attribute), the scorer's positive-decision rate, each group's ratio
    to the most-favored group, and the four-fifths flag (ratio < 80%).
    The scorer and decision boundary are q281/q504's integer linear
    scorer at threshold 0, so this composes directly with the AUC and
    the PR operating point into one eval package.

    Determinism: decisions are exact integer comparisons on integer dot
    products; rates and ratios are exact integer basis points with the
    (rate*1e4 div max_rate) cross-division. No float exists.

    Scale posture (100 TB): the scorer is the broadcast zip_with
    map pass; rates are one hash-agg to |groups| rows; the max is a
    global window over that |groups|-row aggregate (bounded input — the
    q503/q504 grid-window precedent), NOT a re-derived broadcast
    aggregate: the broadcast shape re-computed the rates subtree and
    ran the corpus-sized scorer pass TWICE (the round-15 scan census
    measured four scans; `test_q505_single_corpus_scan` now pins the
    corpus pass to 1 — two file scans total, the second being the
    pushdown-pruned 1-row weight fetch)."""
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.expr("transform(embedding, x -> CAST(round(x * 1000) AS BIGINT))").alias(
            "qi"
        ),
    )
    wvec = F.broadcast(
        e.filter(F.col("vec_id") == 0).select(F.col("qi").alias("wv"))
    )
    scored = (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(wvec)
        .select(
            F.col("label").alias("grp"),
            F.expr(
                "CASE WHEN aggregate(zip_with(qi, wv, (x, w) -> x * w), "
                f"CAST(0 AS BIGINT), (a, v) -> a + v) >= {_DI_THRESHOLD} "
                "THEN 1 ELSE 0 END"
            ).alias("pos"),
        )
    )
    rates = scored.groupBy("grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("pos").cast("bigint").alias("n_pos"),
        F.expr("sum(pos) * 10000 div count(1)").cast("bigint").alias("pos_rate_bp"),
    )
    # max over the bounded |groups|-row aggregate via a global window —
    # a broadcast agg here would re-derive rates and re-run the
    # corpus-sized scorer pass a second time
    return (
        rates.withColumn(
            "max_rate_bp", F.max("pos_rate_bp").over(W.partitionBy())
        )
        .select(
            F.col("grp").cast("bigint").alias("grp"),
            "n",
            "n_pos",
            "pos_rate_bp",
            F.col("max_rate_bp").cast("bigint").alias("max_rate_bp"),
            F.expr("pos_rate_bp * 10000 div max_rate_bp")
            .cast("bigint")
            .alias("impact_ratio_bp"),
            F.expr(
                f"CASE WHEN pos_rate_bp * 10000 div max_rate_bp < {_DI_FOUR_FIFTHS_BP} "
                "THEN 1 ELSE 0 END"
            ).alias("four_fifths_violation"),
        )
        .orderBy("grp")
    )
