"""Multi-objective dominance and per-key model fitting — round-3 wave
(SURVEY.md §2B): the 2-D skyline (Pareto front) operator and exact
integer-sufficient-statistics OLS trend fitting per key.

Scale posture (100 TB):
- q227: the skyline sweep is ONE partitioned window over the distinct
  points of each group, ordered (price asc, qty desc): a point survives
  iff its qty strictly exceeds the running max over all
  previously-swept (i.e. no-worse-priced) points — the classic O(n log n)
  2-D skyline, with the n log n inside Spark's partitioned sort instead
  of a quadratic dominance join. The oracle is the quadratic NOT EXISTS
  dominance definition itself, so the sweep is checked against the
  textbook semantics, not against another sweep.
- q228: OLS per key needs only the five sufficient statistics
  (n, Σx, Σy, Σxy, Σx²) — all exact int64 here (x = minutes from the
  user's first event, y = integer cents), accumulated by ordinary
  map-side-combined hash aggregation. The slope/r² become floats only in
  the final one-division projection, so results are engine-exact and the
  shuffle carries five numbers per key whatever the series length.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from kinesis_customer_sample_spark.catalog import table
from kinesis_customer_sample_spark.registry import query
from kinesis_customer_sample_spark.queries.text_analysis import _DUCK_TOKS
from kinesis_customer_sample_spark.scope import materialize


@query(
    "q227_skyline_pareto_front",
    oracle="""
    WITH pts AS (
      SELECT DISTINCT p_type,
             CAST(round(p_retailprice * 100) AS BIGINT) AS price_cents,
             CAST(p_size AS BIGINT) AS size
      FROM part
    )
    SELECT p_type, price_cents, size
    FROM pts a
    WHERE NOT EXISTS (
      SELECT 1 FROM pts b
      WHERE b.p_type = a.p_type
        AND b.price_cents <= a.price_cents AND b.size >= a.size
        AND (b.price_cents < a.price_cents OR b.size > a.size)
    )
    """,
    tags=("analytics", "skyline", "dominance"),
)
def skyline_pareto_front(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline per part type: the Pareto front of (minimize retail
    price, maximize size) — no other part of the same type is both
    cheaper-or-equal and larger-or-equal with one strict. Implemented as
    the O(n log n) sweep: distinct points, window ordered
    (price asc, size desc) within the type, keep a point iff its size
    strictly beats the running max over everything swept before it
    (equal-price larger-size rows sort first, so they dominate correctly;
    exact duplicates are collapsed by the distinct). The oracle is the
    quadratic NOT EXISTS dominance test — the independent semantics, not
    a second sweep."""
    pts = (
        table(spark, sf_dir, "part")
        .select(
            "p_type",
            F.expr("CAST(round(p_retailprice * 100) AS BIGINT)").alias("price_cents"),
            F.col("p_size").cast("bigint").alias("size"),
        )
        .distinct()
    )
    w = (
        W.partitionBy("p_type")
        .orderBy(F.asc("price_cents"), F.desc("size"))
        .rowsBetween(W.unboundedPreceding, -1)
    )
    return (
        pts.withColumn("best_prev_size", F.max("size").over(w))
        .filter(
            F.col("best_prev_size").isNull() | (F.col("size") > F.col("best_prev_size"))
        )
        .select("p_type", "price_cents", "size")
    )


@query(
    "q228_groupwise_ols_trend",
    oracle="""
    WITH xy AS (
      SELECT user_id,
             (epoch_us(ts) - min(epoch_us(ts)) OVER (PARTITION BY user_id))
               // 60000000 AS x,
             CAST(round(value * 100) AS BIGINT) AS y
      FROM events
    ),
    stats AS (
      SELECT user_id,
             count(*)::BIGINT  AS n,
             sum(x)::BIGINT    AS sx,
             sum(y)::BIGINT    AS sy,
             sum(x * y)::BIGINT AS sxy,
             sum(x * x)::BIGINT AS sxx
      FROM xy GROUP BY user_id
    )
    SELECT user_id, n,
           round(CAST(n * sxy - sx * sy AS DOUBLE)
                 / CAST(n * sxx - sx * sx AS DOUBLE), 8) AS slope_cents_per_min,
           round(CAST(sy AS DOUBLE) / n
                 - (CAST(n * sxy - sx * sy AS DOUBLE)
                    / CAST(n * sxx - sx * sx AS DOUBLE)) * (CAST(sx AS DOUBLE) / n),
                 4) AS intercept_cents
    FROM stats
    WHERE n >= 2 AND n * sxx - sx * sx != 0
    """,
    tags=("analytics", "regression", "trend"),
)
def groupwise_ols_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user OLS trend of spend over time: slope (cents per minute
    since the user's first event) and intercept from the five exact
    integer sufficient statistics (n, Σx, Σy, Σxy, Σx²) — x is integer
    minutes, y integer cents, so every sum is exact int64 and floats
    appear only in the final division (identical FP sequence both
    engines). Degenerate keys (one observation, or zero time variance)
    are excluded. Shuffle payload: five numbers per key, any series
    length."""
    ev = table(spark, sf_dir, "events")
    wmin = W.partitionBy("user_id")
    xy = ev.select(
        "user_id",
        F.expr(
            "(unix_micros(CAST(ts AS TIMESTAMP)) - "
            "min(unix_micros(CAST(ts AS TIMESTAMP))) OVER "
            "(PARTITION BY user_id)) div 60000000"
        ).alias("x"),
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("y"),
    )
    stats = xy.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    slope = num.cast("double") / den.cast("double")
    return (
        stats.filter((F.col("n") >= 2) & (den != 0))
        .select(
            "user_id",
            "n",
            F.round(slope, 8).alias("slope_cents_per_min"),
            F.round(
                F.col("sy").cast("double") / F.col("n")
                - slope * (F.col("sx").cast("double") / F.col("n")),
                4,
            ).alias("intercept_cents"),
        )
    )


_ISO_SCORE = (
    "least(999, 60 + 120 * size(filter(toks, t -> t IN ('the', 'a'))))"
)
_ISO_SCORE_DUCK = (
    "least(999, 60 + 120 * len(list_filter(toks, t -> t IN ('the', 'a'))))"
)


@query(
    "q304_isotonic_calibration",
    oracle=f"""
    WITH scored AS (
      SELECT (lang = 'en') AS y, {_ISO_SCORE_DUCK} AS p_milli
      FROM (SELECT lang, {_DUCK_TOKS} AS toks FROM documents)
    ),
    lv AS (
      SELECT p_milli, count(*) AS n,
             sum(CASE WHEN y THEN 1 ELSE 0 END) AS pos
      FROM scored GROUP BY p_milli
    ),
    idx AS (
      SELECT p_milli, n, pos,
             row_number() OVER (ORDER BY p_milli) AS i
      FROM lv
    ),
    pre AS (
      SELECT a.i AS i, sum(b.n) AS pn, sum(b.pos) AS pk
      FROM idx a JOIN idx b ON b.i <= a.i GROUP BY a.i
      UNION ALL SELECT 0, 0, 0
    ),
    pairs AS (
      SELECT lo.i + 1 AS j, hi.i AS k,
             CAST(hi.pk - lo.pk AS DOUBLE)
               / CAST(hi.pn - lo.pn AS DOUBLE) AS avgr
      FROM pre lo JOIN pre hi ON hi.i > lo.i
    ),
    mins AS (
      SELECT x.i, p.j, min(p.avgr) AS m
      FROM idx x JOIN pairs p ON p.j <= x.i AND p.k >= x.i
      GROUP BY x.i, p.j
    ),
    fit AS (SELECT i, max(m) AS fit FROM mins GROUP BY i)
    SELECT idx.p_milli::BIGINT AS p_milli,
           idx.n::BIGINT AS n,
           idx.pos::BIGINT AS n_pos,
           round(fit.fit, 6) AS iso_rate
    FROM idx JOIN fit USING (i)
    """,
    tags=("ml-eval", "calibration", "isotonic", "pav"),
)
def isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic calibration (the PAV fit q279's reliability table stops
    short of): map the q279 score's distinct levels to the best-fitting
    MONOTONE probability curve. Computed via the exact minimax identity
    iso_i = max_{j≤i} min_{k≥i} mean(y over levels j..k) — equivalent to
    pool-adjacent-violators but closed-form, so the inherently-sequential
    pooling loop becomes three joins over the LEVEL table and the oracle
    can state it directly. Every interval mean is one division of exact
    integer prefix-sum differences, so min/max comparisons see identical
    doubles in both engines. Scale: the only corpus-sized pass is the
    per-level (n, positives) aggregation; levels are bounded by score
    design (≤9 here, ≤1000 for any milli-score), so the triangular
    interval joins are dimension-table work — the global row_number
    window rides on that same bounded table, never on data-scale rows."""
    from kinesis_customer_sample_spark.queries.text_analysis import _SPARK_TOKS

    scored = (
        table(spark, sf_dir, "documents")
        .withColumn("toks", F.expr(_SPARK_TOKS))
        .select(
            (F.col("lang") == "en").alias("y"),
            F.expr(_ISO_SCORE).alias("p_milli"),
        )
    )
    lv = scored.groupBy("p_milli").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("y"), 1).otherwise(0)).alias("pos"),
    )
    idx = materialize(  # bounded level table, reused by three joins
        lv.withColumn("i", F.row_number().over(W.orderBy("p_milli")))
    )
    a, b = idx.alias("a"), idx.alias("b")
    # every join below pairs the bounded level table with itself — hint
    # broadcast explicitly, or the non-equi joins fall back to a
    # shuffle CartesianProduct (measured: a 1089-task stage for 9 rows)
    pre = materialize(
        a.join(F.broadcast(b), F.col("b.i") <= F.col("a.i"))
        .groupBy(F.col("a.i").alias("i"))
        .agg(F.sum("b.n").alias("pn"), F.sum("b.pos").alias("pk"))
        .unionByName(
            idx.sparkSession.createDataFrame([(0, 0, 0)], "i int, pn bigint, pk bigint")
        )
    )
    lo, hi = pre.alias("lo"), pre.alias("hi")
    pairs = lo.join(F.broadcast(hi), F.col("hi.i") > F.col("lo.i")).select(
        (F.col("lo.i") + 1).alias("j"),
        F.col("hi.i").alias("k"),
        (
            (F.col("hi.pk") - F.col("lo.pk")).cast("double")
            / (F.col("hi.pn") - F.col("lo.pn")).cast("double")
        ).alias("avgr"),
    )
    x, p = idx.alias("x"), pairs.alias("p")
    mins = (
        x.join(
            F.broadcast(p),
            (F.col("p.j") <= F.col("x.i")) & (F.col("p.k") >= F.col("x.i")),
        )
        .groupBy(F.col("x.i").alias("i"), F.col("p.j").alias("j"))
        .agg(F.min("avgr").alias("m"))
    )
    fit = mins.groupBy("i").agg(F.max("m").alias("fit"))
    return (
        idx.join(F.broadcast(fit), "i")
        .select(
            F.col("p_milli").cast("bigint").alias("p_milli"),
            F.col("n").cast("bigint").alias("n"),
            F.col("pos").cast("bigint").alias("n_pos"),
            F.round("fit", 6).alias("iso_rate"),
        )
    )


# decision-stump dials: candidate thresholds over quantity
_STUMP_THRESHOLDS = tuple(range(5, 50, 5))


@query(
    "q394_decision_stump",
    oracle=f"""
    WITH base AS (
      SELECT CAST(l_quantity AS BIGINT) AS x,
             CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
      FROM lineitem
    ),
    cand AS (
      SELECT unnest(ARRAY{list(_STUMP_THRESHOLDS)})::BIGINT AS thr
    ),
    split AS (
      SELECT c.thr,
             sum(CASE WHEN b.x <= c.thr THEN 1 ELSE 0 END)::BIGINT          AS n_l,
             sum(CASE WHEN b.x <= c.thr THEN b.y ELSE 0 END)::BIGINT        AS p_l,
             sum(CASE WHEN b.x > c.thr THEN 1 ELSE 0 END)::BIGINT           AS n_r,
             sum(CASE WHEN b.x > c.thr THEN b.y ELSE 0 END)::BIGINT         AS p_r
      FROM base b CROSS JOIN cand c
      GROUP BY 1
    ),
    scored AS (
      -- weighted Gini×N in integer micro-units: per side,
      -- n_s·gini_s = n_s − (p² + (n−p)²)/n_s, scaled 1e6 with
      -- truncating division (shared contract both engines)
      SELECT thr, n_l, p_l, n_r, p_r,
             (n_l * 1000000
                - (p_l * p_l + (n_l - p_l) * (n_l - p_l)) * 1000000
                  // greatest(n_l, 1))
             + (n_r * 1000000
                - (p_r * p_r + (n_r - p_r) * (n_r - p_r)) * 1000000
                  // greatest(n_r, 1)) AS wgini_e6
      FROM split
    )
    SELECT thr, n_l, p_l, n_r, p_r, wgini_e6::BIGINT AS wgini_e6,
           rank() OVER (ORDER BY wgini_e6, thr)::BIGINT AS split_rank
    FROM scored
    """,
    tags=("ml", "decision-stump", "gini", "learner"),
)
def decision_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decision-stump learning — the 1-level tree split chooser (the
    inner loop of every GBDT): for each candidate threshold over the
    quantity feature, compute both children's class counts in ONE pass
    (row × bounded-candidate fan-out, conditional aggregation) and score
    the split by weighted Gini impurity — held in integer micro-units
    via n·Gini = n − (p² + (n−p)²)/n with truncating division, so the
    ranking is bit-stable across engines. split_rank 1 is the stump a
    tree builder would take; emitting the whole curve shows the margin.

    Scale posture (100 TB): candidates are a bounded literal list, the
    fan-out is map-side (broadcast nested loop over {len(_STUMP_THRESHOLDS)}
    rows), and the whole scan reduces to a {len(_STUMP_THRESHOLDS)}-row
    grid in one map-side-combined agg — the classic histogram-based
    split finder."""
    base = table(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("bigint").alias("x"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("y"),
    )
    cand = F.broadcast(
        base.sparkSession.createDataFrame(
            [(t,) for t in _STUMP_THRESHOLDS], "thr bigint"
        )
    )
    split = (
        base.crossJoin(cand)
        .groupBy("thr")
        .agg(
            F.sum(F.when(F.col("x") <= F.col("thr"), 1).otherwise(0)).alias("n_l"),
            F.sum(F.when(F.col("x") <= F.col("thr"), F.col("y")).otherwise(0)).alias("p_l"),
            F.sum(F.when(F.col("x") > F.col("thr"), 1).otherwise(0)).alias("n_r"),
            F.sum(F.when(F.col("x") > F.col("thr"), F.col("y")).otherwise(0)).alias("p_r"),
        )
    )
    wgini = F.expr(
        "(n_l * 1000000 - (p_l * p_l + (n_l - p_l) * (n_l - p_l)) * 1000000 "
        "div greatest(n_l, 1)) "
        "+ (n_r * 1000000 - (p_r * p_r + (n_r - p_r) * (n_r - p_r)) * 1000000 "
        "div greatest(n_r, 1))"
    )
    return (
        split.select("thr", "n_l", "p_l", "n_r", "p_r", wgini.cast("bigint").alias("wgini_e6"))
        .withColumn(
            "split_rank",
            F.rank().over(W.orderBy("wgini_e6", "thr")).cast("bigint"),
        )
    )
